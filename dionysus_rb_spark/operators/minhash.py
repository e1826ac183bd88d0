"""MinHash + LSH near-duplicate detection, Spark-first.

Pipeline (the standard web-dedup shape: shingle -> minhash -> band ->
bucket-join -> verify):
  1. word k-shingles per doc (distinct)
  2. num_perm minhash values  sig_i = min over shingles of
     (a_i * h32(shingle) + b_i) mod (2^31-1)
  3. bands of r rows; band key = "band_idx:sig values"
  4. docs sharing any band bucket are candidate pairs (one shuffle on
     the band key — never an all-pairs join)
  5. candidates verified with exact shingle-set Jaccard >= threshold

Permutation parameters are generated from a fixed seed and inlined both
here and into the DuckDB oracle SQL, so the whole approximate pipeline
is deterministic and cross-engine checkable.

Scale note: the only shuffles are groupBy(doc) for shingles (map-side)
and the band-bucket self-join; bucket skew (a degenerate band shared by
thousands of docs) is the classic hazard — cap bucket width
(``max_bucket``) exactly like production LSH dedups do, and let AQE
handle residual skew.
"""

from __future__ import annotations

import json
import random
import secrets
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_PRIME, h32, shingles, tokenize

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS


def perm_params(num_perm: int = NUM_PERM, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_PRIME) | 1, rng.randrange(0, MERSENNE_PRIME))
        for _ in range(num_perm)
    ]


def doc_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-doc distinct shingle sets; ZERO-token docs (empty,
    whitespace-only, or non-Latin under the ASCII tokenizer) are
    excluded — they have no content to near-dup match on, so they never
    band, never pair, and pass through the kept-decision join as
    uniques. Without this, an empty signature still produces band keys
    (concat_ws skips the NULL minhashes), silently collapsing every
    zero-token doc into one candidate bucket."""
    return (
        # the zero-token gate tests LOWERCASED text for one [a-z0-9] —
        # tokenize's own domain, so the equivalence with "tokenize()
        # yields >= 1 token" is exact in BOTH directions (a raw-text
        # [a-zA-Z0-9] gate missed characters that lowercase INTO ascii,
        # e.g. Kelvin K and dotted İ — round-7 review find). Still a
        # cheap scan-level predicate Catalyst pushes below the
        # projection —
        # filtering on size(shingle_set) instead makes the pushed-down
        # predicate re-evaluate the whole tokenize+shingle expression
        # per row on top of the projection's own copy (measured 4.3x on
        # dd_minhash_lsh at sf0.1)
        df.filter(F.lower(F.col(text_col)).rlike("[a-z0-9]"))
        .select(
            F.col(id_col).alias("doc_id"),
            shingles(tokenize(F.col(text_col)), k).alias("shingle_set"),
        )
        .withColumn("shingle_hashes", F.transform("shingle_set", h32))
    )


def minhash_signature(
    sh: DataFrame, num_perm: int = NUM_PERM, seed: int = 42
) -> DataFrame:
    params = perm_params(num_perm, seed)
    # One F.expr string instead of ~6 Column calls per permutation: the
    # assembled tree is identical, but driver-side construction drops
    # from ~100 Py4J round trips to one (the same expression-string
    # technique pq.py uses for ADC distance tables). h32 values are
    # longs, so the int literals promote and all arithmetic stays int64.
    #
    # Allocation-free alternatives MEASURED AND REJECTED (optimization
    # r13 round 2): (a) per-permutation scalar aggregate(...,
    # (acc, h) -> least(acc, perm(h))) folds — values identical (pinned
    # by tests/test_expr_rewrites.py::test_minhash_signature_matches_
    # reference), but interleaved A/B read 1.07x WORSE on dd_delta_gate
    # (5 legs; event-log task_s 39.0 vs 31.1) — aggregate's per-element
    # lambda machinery costs more than the num_perm intermediate arrays
    # it avoids; (b) one-pass 16-wide array accumulator — noop
    # micro-bench read worse still (0.60-0.79 s vs 0.46-0.66 s per
    # signature pass at sf0.1). transform + native array_min stands.
    sig_sql = "array(%s)" % ", ".join(
        f"array_min(transform(shingle_hashes,"
        f" h -> (h * {a} + {b}) % {MERSENNE_PRIME}))"
        for a, b in params
    )
    return sh.withColumn("signature", F.expr(sig_sql))


def band_keys_expr(bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND) -> str:
    """SQL expression string for a signature's band keys — one
    "<band_idx>,<sig values>" string per band (shared by the batch
    pipeline, the delta gate, and the validation harnesses so every
    consumer banding-joins on byte-identical keys)."""
    return "array(%s)" % ", ".join(
        "concat_ws(',', '%d', %s)"
        % (
            b,
            ", ".join(
                f"cast(signature[{i}] as string)"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(bands)
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing >= 1 band bucket.

    One shuffle total: groupBy(band_key) collects each bucket's doc ids,
    and ordered pairs are expanded bucket-locally (no self-join, so the
    upstream signature pipeline is computed exactly once). The skew guard
    is free — a degenerate bucket is just a long collected list, dropped
    by size before expansion.
    """
    band_rows = signed.select(
        "doc_id", F.explode(F.expr(band_keys_expr(bands, rows_per_band))).alias("band_key")
    )
    buckets = band_rows.groupBy("band_key").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    buckets = buckets.filter(F.size("ids") >= 2)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs_arr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> named_struct('doc_a', x, 'doc_b', y))))"
    )
    # NOT spread_for_compute'd like simhash_pairs/lsh_near_dup_pairs:
    # this expansion emits bare (doc_a, doc_b) ids with no per-pair
    # verify math (Jaccard runs in the join AFTER the distinct), so the
    # coalesced stage measured only ~0.13 s — an interleaved A/B of the
    # spread read 1.35x WORSE (the extra exchange + lost stage fusion
    # cost more than the expansion it parallelized). Optimization r13.
    return (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def verify_jaccard(
    pairs: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only.

    Union size is computed by inclusion-exclusion (|A| + |B| - |A∩B|),
    never by materializing array_union: shingle sets are distinct by
    construction (shingles() array_distincts) and inner joins admit no
    NULL arrays, so the counts are identical while the per-pair work
    drops to ONE set operation instead of two (optimization r13, guide
    §1.2 per-task work — array_union built and discarded a combined
    array per candidate pair)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle_set").alias("__sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle_set").alias("__sb"))
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        joined.withColumn("n_intersect", inter.cast("long"))
        .withColumn("n_union", union.cast("long"))
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_intersect", "n_union", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full pipeline -> verified near-duplicate pairs.

    ``max_bucket`` mirrors :func:`minhash_lsh_dedup_sql`'s parameter of
    the same name — both sides must cap (or not cap) identically for
    cross-engine parity, so the knob is exposed here rather than only
    on the oracle.

    The shingle stage is persisted: it feeds the signature branch once
    and the verification join twice; recomputing tokenize+shingle+md5
    three times dominates runtime otherwise (at cluster scale this stage
    would be a checkpointed/staged table).
    """
    from pyspark.storagelevel import StorageLevel

    sh = doc_shingles(df, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    signed = minhash_signature(sh, num_perm, seed)
    pairs = lsh_candidate_pairs(signed, bands, num_perm // bands, max_bucket)
    return verify_jaccard(pairs, sh, threshold)


class GateDecision:
    """A delta gate's decision frame plus a ``release()`` handle for
    the gate's pinned intermediate relations (the delta/corpus shingle
    frames and, on the indexed path, the candidate frame). Persisted
    relations otherwise live for the whole session, and this operator's
    cadence is per-DELIVERY: a curation loop that gates a batch, admits
    it, and moves on must be able to free each gate's pinned
    corpus-sized state (ADVICE r9 item 2 — the same session-
    accumulation failure mode SplitResult.release fixed for ingest).
    Call ``release()`` once the decision has been consumed (collected /
    written / counted); a released decision is still valid — later
    actions just recompute from source. Also a context manager:
    ``with delta_dedup_gate(...) as d: ...``.

    COMPOSITION, not a DataFrame subclass (VERDICT r10 item 7: the old
    ``pyspark.sql.classic.dataframe.DataFrame`` base is a private
    implementation class — version-fragile, and structurally absent
    under Spark Connect). The decision DataFrame is ``.df``; every
    DataFrame attribute (``collect``, ``filter``, ``write``,
    ``explain``, ``schema``, …) delegates to it, so existing call sites
    read unchanged — but anything that needs the literal DataFrame
    object (passing it INTO another frame's ``join``, ``isinstance``
    checks) should take ``.df``."""

    def __init__(self, df: DataFrame, pinned: list[DataFrame]) -> None:
        self.df = df
        self._gate_pinned = list(pinned)

    def release(self) -> None:
        for frame in self._gate_pinned:
            frame.unpersist()
        self._gate_pinned = []

    def __getattr__(self, name: str):
        # only consulted for names not found on GateDecision itself
        return getattr(self.df, name)

    def __getitem__(self, item):
        return self.df[item]

    def __repr__(self) -> str:
        return f"GateDecision({self.df!r})"

    def __enter__(self) -> "GateDecision":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def delta_dedup_gate(
    delta: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> GateDecision:
    """Incremental dedup: admit a NEW batch (``delta``) against an
    EXISTING corpus (``index``) without re-deduping the corpus.

    At 100 TB nobody re-runs whole-corpus dedup per arriving batch —
    the corpus side becomes a PERSISTED band-key index
    ``(band_key, doc_id)`` (plus the shingle-set store for
    verification; see :func:`build_dedup_index`), and each delta batch
    pays one band-key join against it plus one verify join: cost is
    O(delta + matched buckets), never O(corpus). This operator is that
    gate with the index side computed inline (so the whole thing stays
    oracle-checkable on one table); the banding/verify semantics are
    byte-identical to the batch pipeline (band_keys_expr /
    verify-Jaccard with the same rounding), so a doc rejected here is
    exactly a doc the full pipeline would have paired.

    Returns one row per delta doc: ``doc_id``, ``n_dup_matches`` (the
    count of DISTINCT index docs with verified Jaccard >= threshold),
    and ``kept`` (1 when n_dup_matches = 0). Within-delta duplicates
    are NOT resolved here — that is the normal batch pipeline's job on
    the admitted batch; this gate answers only "is it already in the
    corpus". Zero-token delta docs have no shingles, band with nothing,
    and are admitted (consistent with the pipeline's zero-token
    exclusion); ``max_bucket`` caps the INDEX side — a degenerate index
    bucket (> max_bucket docs sharing a band key) emits no candidates,
    mirroring the batch pipeline's bucket drop.
    """
    from pyspark.storagelevel import StorageLevel

    sh_d = doc_shingles(delta, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_i = doc_shingles(index, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keys = band_keys_expr(bands, num_perm // bands)
    bd = minhash_signature(sh_d, num_perm, seed).select(
        F.col("doc_id").alias("delta_id"),
        F.explode(F.expr(keys)).alias("band_key"),
    )
    bi = minhash_signature(sh_i, num_perm, seed).select(
        F.col("doc_id").alias("index_id"),
        F.explode(F.expr(keys)).alias("band_key"),
    )
    sb = sh_i.select(
        F.col("doc_id").alias("index_id"), F.col("shingle_set").alias("__sb")
    )
    decision, pinned = _gate_against(
        delta, id_col, sh_d, bd, bi, sb, threshold, max_bucket
    )
    return GateDecision(decision, [sh_d, sh_i, *pinned])


def _gate_against(
    delta: DataFrame,
    id_col: str,
    sh_d: DataFrame,
    bd: DataFrame,
    bi: DataFrame,
    sb: DataFrame | None,
    threshold: float,
    max_bucket: int | None,
    shingle_loader=None,
    exclude_self: bool = False,
    overcap_keys: DataFrame | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """The join half of the delta gate, shared by the inline and the
    persisted-index paths: band-bucket join -> exact-Jaccard verify ->
    distinct-match count -> per-delta-doc decision. ``bd``/``bi`` are
    (delta_id|index_id, band_key) rows; ``sb`` is (index_id, __sb
    shingle_set); ``sh_d`` is the delta shingle frame.

    ``shingle_loader`` (indexed path) replaces the static ``sb`` with a
    callable that receives the MATERIALIZED candidate frame and returns
    the shingle relation to verify against — the hook that lets the
    file-backed gate prune its corpus-sized shingle scan down to the
    candidates' ids (VERDICT r9 item 3). When set, candidates are
    persisted (they feed both the loader's id probe and the verify
    join) and returned in the pinned list for GateDecision.release."""
    from pyspark.storagelevel import StorageLevel

    if max_bucket is not None:
        if overcap_keys is not None:
            # indexed path with width sidecars: the over-cap key set
            # was summed from per-segment (band_key, width) aggregates
            # (tiny 2-column scans, see _overcap_band_keys) — the anti
            # join's right side is a handful of degenerate keys AQE
            # broadcasts, so the INDEX band rows need no exchange at
            # all when the delivery side broadcasts (VERDICT r10 item
            # 2: the window below was the gate's only corpus-wide
            # shuffle in that regime).
            bi = bi.join(overcap_keys, "band_key", "left_anti")
        else:
            # inline gate / pre-sidecar index: a count window riding
            # the band_key partitioning the bucket join needs anyway
            # (the exchange is reused when the band join shuffles).
            # Applied at GATE time, so a persisted index stores
            # uncapped band rows and the cap stays a query-time knob.
            from pyspark.sql import Window

            bi = bi.withColumn(
                "__w", F.count("*").over(Window.partitionBy("band_key"))
            ).filter(F.col("__w") <= max_bucket).drop("__w")
    # no distinct() on candidates: a pair banding in several bands
    # verifies identically each time, and the final count is DISTINCT
    # over index ids — same result, one less corpus-sized shuffle
    cand = bd.join(bi, "band_key").select("delta_id", "index_id")
    if exclude_self:
        # replay idempotence for the streaming loop: a re-delivered
        # micro-batch whose append already committed would otherwise
        # match its OWN index copies and flip its decisions; with ids as
        # stable unique doc keys, dropping delta_id == index_id makes a
        # replayed gate bit-identical to its first run. NULL ids never
        # satisfy the inequality and are dropped — ids must be non-null
        # keys under this flag.
        cand = cand.filter(F.col("delta_id") != F.col("index_id"))
    pinned: list[DataFrame] = []
    if shingle_loader is not None:
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(cand)
        sb = shingle_loader(cand)
    sa = sh_d.select(
        F.col("doc_id").alias("delta_id"), F.col("shingle_set").alias("__sa")
    )
    # inclusion-exclusion union size — same rationale (and identical
    # counts) as verify_jaccard: shingle sets are distinct, joins inner
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    matches = (
        cand.join(sa, "delta_id")
        .join(sb, "index_id")
        .filter(F.round(inter / union, 6) >= threshold)
        .groupBy("delta_id")
        .agg(F.count_distinct("index_id").alias("__n"))
    )
    decision = (
        delta.select(F.col(id_col).alias("doc_id"))
        .join(matches.withColumnRenamed("delta_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias(
                "n_dup_matches"
            ),
            (F.coalesce(F.col("__n"), F.lit(0)) == 0)
            .cast("long")
            .alias("kept"),
        )
    )
    return decision, pinned


_INDEX_MANIFEST = "_dedup_index_manifest.json"
_SEGMENTS_DIR = "segments"
_SEG_COMMIT = "_seg_commit.json"  # leading '_': invisible to parquet scans

# Age gates for reclaiming dead segment directories (VERDICT r10 item
# 1 — maintenance must be safe alongside live gates and, on storage
# where the flock degrades to nothing, concurrent writers):
# - an UNCOMMITTED directory younger than the TTL might be a concurrent
#   append/overwrite mid-landing, not crash debris — left alone;
# - a SUPERSEDED (or prior-epoch) segment stays on disk for the grace
#   period after the marker/manifest that killed it, so a gate that
#   resolved its live-segment list just before the commit still
#   completes its deferred parquet reads (gates take no lock).
# An index append lands in well under an hour at any certified scale
# and a gate's reads finish in minutes, so one hour bounds both with a
# wide margin; pass 0 to build/compact to reclaim immediately (the
# single-writer-no-concurrent-gates regime the crash-enum suite
# enumerates).
RECLAIM_UNCOMMITTED_TTL = 3600.0
RECLAIM_SUPERSEDED_GRACE = 3600.0

# Size/parallelism targets for the index artifact's files (VERDICT r9
# item 2 — N appends must not stack N x shuffle-partition-count small
# files). A band row is ~60 B (long id + short key string), a shingle
# row is a whole doc's distinct-shingle array; the *_PER_FILE targets
# are maxRecordsPerFile ceilings aiming at O(100 MB) parquet files,
# while the *_PER_TASK floors size the WRITE TASK COUNT (clamped to the
# session's shuffle parallelism): a delivery-sized append lands ONE
# file, a corpus-sized build still writes with every core — sizing the
# repartition itself to the file count collapsed the whole
# shingle+sort pipeline onto 1-2 tasks (6.6x build regression at 10M,
# measured r10).
BAND_ROWS_PER_FILE = 4_000_000
SHINGLE_ROWS_PER_FILE = 500_000
BAND_ROWS_PER_TASK = 1_000_000
SHINGLE_DOCS_PER_TASK = 125_000

# Collect-size ceiling for the OPT-IN candidate-id probe: when the
# pruned scan shape is engaged (see PRUNE_MIN_INDEX_DOCS for the
# measured verdict on WHEN that is worth it), at most this many
# DISTINCT candidate index ids are collected and pushed into the
# shingle scan as an IN filter against its index_id-sorted files. The
# collect is bounded by this constant (plan-collect lint); a wider
# candidate set falls back to the full-scan join unchanged — at the
# cost of the exact distinct+count the overflow check runs first, so
# pinning the probe on (prune_min_index_docs=0) assumes candidate sets
# that USUALLY fit under this ceiling (ADVICE r10 item 2).
PRUNE_MAX_IDS = 100_000

# Index size (live docs, summed from segment commit markers) below
# which the gate full-scans the shingle store instead of probing. Set
# PAST the measured range on purpose: controlled within-session A/Bs
# (SCALING.md r10) had full-scan WINNING at both measured decades —
# ~1.1-1.3x at a 1M corpus and ~1.45x at 10M (2.5M-doc delta) — because
# near-dup candidates' index ids are uniformly spread, and a >10-value
# IN pushdown collapses to a min/max range (spark.sql.parquet.pushdown.
# inFilterThreshold), so NO row group skips and the pruned path pays
# its probe + candidate-materialization barrier for zero I/O savings.
# The pruned path stays available (prune_min_index_docs=0 pins it on)
# for the regime it genuinely serves: a delivery whose candidate ids
# CLUSTER in id range (e.g. monotonically-assigned ids where dups
# concentrate in recent docs) against a store on cold/object storage,
# where sorted-file row-group stats do skip. On a cluster the
# scale-out answer is bucketing the shingle store on index_id so the
# verify join co-locates — see build_dedup_index's docstring.
PRUNE_MIN_INDEX_DOCS = 25_000_000

# Tiered-compaction carry factor (VERDICT r12 item 1): a candidate
# segment joins the merge group only while its doc count is at most
# this multiple of the docs already grouped (segments considered
# smallest-first). The rule is the classic log-structured-merge
# invariant expressed without explicit tier buckets: same-sized
# appends always group; a previously-merged ("open tier") segment of
# size S is re-merged only once >= S/FACTOR new docs have accumulated
# below it, so every doc is rewritten O(log_FACTOR(corpus/delivery))
# times in total instead of once per compaction — the difference
# between O(new docs) and O(corpus) maintenance inside a streaming
# loop's latency budget. 4 trades write amplification (~log_4) against
# live-segment count (gates read ~FACTOR small segments between
# merges); the gate's scan cost is bytes-dominated, so a handful of
# extra segments is noise while an O(corpus) rewrite per loop
# iteration is the measured 3.64->6.31 s soak drift.
TIER_CARRY_FACTOR = 4


def _read_index_manifest(spark, root: str) -> dict | None:
    """Parsed manifest, or None when absent. A torn/unparseable manifest
    raises — with the atomic local publish (_fs_write_text_atomic) it
    indicates real corruption, never an in-flight write."""
    from ..sources.corpus_sink import _fs_exists, _fs_read_text

    manifest_path = f"{root}/{_INDEX_MANIFEST}"
    if not _fs_exists(spark, manifest_path):
        return None
    text = _fs_read_text(spark, manifest_path)
    try:
        manifest = json.loads(text)
    except ValueError as e:
        raise ValueError(
            f"corrupt dedup-index manifest at {manifest_path!r}: {e}"
        ) from e
    if "epoch" not in manifest:
        raise ValueError(
            f"legacy (pre-segment) dedup index at {root!r} — its layout "
            "had no crash-atomic commit; rebuild with "
            "build_dedup_index(mode='overwrite')"
        )
    return manifest


def _seg_epoch(name: str) -> int:
    """Epoch encoded in a segment directory name (``e<epoch>-...``);
    malformed names read as -1 and are reclaimed as dead."""
    head = name.split("-", 1)[0]
    if head.startswith("e") and head[1:].isdigit():
        return int(head[1:])
    return -1


def _list_segments(spark, root: str) -> dict[str, dict | None]:
    """Segment name -> parsed commit-marker dict (``supersedes`` list,
    plus ``n_docs`` where the writer recorded it) for COMMITTED
    segments, None for uncommitted ones (no marker, or a torn marker a
    crash left behind — both read as 'this append never happened',
    which is the commit protocol's whole point)."""
    from ..sources.corpus_sink import _fs_exists, _fs_list_dirs, _fs_read_text

    segdir = f"{root}/{_SEGMENTS_DIR}"
    out: dict[str, dict | None] = {}
    for name in _fs_list_dirs(spark, segdir):
        commit = f"{segdir}/{name}/{_SEG_COMMIT}"
        meta: dict | None = None
        if _fs_exists(spark, commit):
            try:
                parsed = json.loads(_fs_read_text(spark, commit))
                if isinstance(parsed, dict) and isinstance(
                    parsed.get("supersedes"), list
                ):
                    meta = parsed
            except ValueError:
                meta = None  # torn marker == uncommitted
        out[name] = meta
    return out


def _live_segments(
    segs: dict[str, dict | None], epoch: int
) -> list[str]:
    """Committed current-epoch segments minus every segment a committed
    current-epoch segment supersedes (compaction's commit marker). The
    subtraction is transitive as long as markers persist: reclaim
    deletes superseded LEAVES first (_reclaim_dead_segments), so a
    committed segment on disk is always either live or named in a
    surviving superseder's marker — never silently resurrected."""
    committed = {
        n: meta["supersedes"]
        for n, meta in segs.items()
        if meta is not None and _seg_epoch(n) == epoch
    }
    superseded: set[str] = set()
    for sup in committed.values():
        superseded.update(sup)
    return sorted(n for n in committed if n not in superseded)


def _reclaim_dead_segments(
    spark,
    root: str,
    epoch: int,
    ttl: float = RECLAIM_UNCOMMITTED_TTL,
    grace: float = RECLAIM_SUPERSEDED_GRACE,
) -> None:
    """Delete dead segment directories — AGE-GATED so maintenance is
    safe to run alongside live gates and (on lock-less storage)
    concurrent writers (VERDICT r10 item 1). Three kinds of dead, each
    with its own evidence-of-death clock:

    - **uncommitted** (no/torn marker) and **next-epoch orphans** (a
      crashed — or, on storage where the flock degrades to nothing, an
      IN-FLIGHT — overwrite's segment): reclaimed only once the
      directory's NEWEST FILE mtime (not the directory status, which
      object stores fake — ADVICE r11 item 2) is older than ``ttl``,
      so a concurrent writer mid-landing can never have its directory
      deleted under it. A COMMITTED next-epoch orphan is additionally
      defused at the source: a retried overwrite picks its epoch past
      every on-disk segment (see build_dedup_index), so the orphan can
      never be resurrected into a later manifest's live set;
    - **prior-epoch segments**: dead since the manifest's atomic epoch
      switch, reclaimed once the MANIFEST's mtime is older than
      ``grace`` — a gate that resolved its segment list just before
      the switch still completes its deferred parquet reads;
    - **superseded current-epoch segments** (named in a committed
      compaction marker): reclaimed LEAVES FIRST — a superseder is
      only deleted once every segment ITS marker names is gone, so a
      crash mid-reclaim can never resurrect a superseded segment (see
      _live_segments) — and only once the SUPERSEDER's marker mtime is
      older than ``grace`` (same pre-resolve-gate window).

    ``ttl=0`` / ``grace=0`` disable the respective age gate (the
    single-writer-no-concurrent-gates regime, and what the crash-enum
    suite uses to enumerate immediate reclaim). Callers hold the
    exclusive index lock where the filesystem provides one."""
    import time

    from ..sources.corpus_sink import _fs_delete, _fs_mtime, _fs_newest_mtime

    now = time.time()

    def _older_than(path: str, window: float, directory: bool = False) -> bool:
        if window <= 0:
            return True
        # directories age by their newest FILE's mtime (ADVICE r11
        # item 2): S3A-style object stores report fake-directory
        # mtimes of 0 (reclaim-now) or now (reclaim-never), either of
        # which defeats the in-flight-writer protection; file mtimes
        # are real on every scheme
        mtime = (_fs_newest_mtime if directory else _fs_mtime)(spark, path)
        # vanished mid-scan: another reclaimer got it; nothing to do
        # (deleting is a no-op either way, skipping avoids the race)
        return mtime is not None and now - mtime > window

    segdir = f"{root}/{_SEGMENTS_DIR}"
    segs: dict[str, list[str]] = {}
    for name, meta in _list_segments(spark, root).items():
        seg_epoch = _seg_epoch(name)
        if meta is None or seg_epoch > epoch:
            if _older_than(f"{segdir}/{name}", ttl, directory=True):
                _fs_delete(spark, f"{segdir}/{name}")
        elif seg_epoch < epoch:
            if _older_than(f"{root}/{_INDEX_MANIFEST}", grace):
                _fs_delete(spark, f"{segdir}/{name}")
        else:
            segs[name] = meta["supersedes"]
    while True:
        superseder_of = {
            victim: n for n, sup in segs.items() for victim in sup
        }
        deletable = [
            n
            for n in segs
            if n in superseder_of
            and not any(named in segs for named in segs[n])
            and _older_than(
                f"{segdir}/{superseder_of[n]}/{_SEG_COMMIT}", grace
            )
        ]
        if not deletable:
            break
        for name in deletable:
            _fs_delete(spark, f"{segdir}/{name}")
            del segs[name]


def _land_segment(
    spark,
    root: str,
    seg: str,
    band_rows,
    shingle_rows: DataFrame,
    n_docs: int,
    bands: int,
    supersedes: list[str],
    lineage: str | None = None,
) -> None:
    """Write one index segment and COMMIT it by creating its marker
    LAST. The two relations land in any order and any completeness
    before that single small-file creation; a reader only ever sees a
    segment once the marker exists and parses, so every crash point
    yields exactly the pre-landing index (VERDICT r9 item 1 — the old
    layout's bands-before-shingles window silently admitted true
    duplicates).

    ``band_rows`` may be a DataFrame (compaction passes the stored
    rows) or a CALLABLE receiving the LANDED shingle relation — the
    build path derives band rows by reading its own just-written
    shingle files back, so the corpus-side tokenize+shingle pass runs
    exactly ONCE and the parquet landing doubles as the
    materialization (persisting ~50 GiB of shingle arrays in cache for
    the same purpose cost 6.6x the build at 10M; recomputing from
    source cost a second full pass — both measured r10).

    File counts are size-targeted, not shuffle-partition-count (VERDICT
    r9 item 2): the write-task count scales with the SEGMENT's rows
    (clamped to the session's parallelism — a tiny append lands one
    file per relation, a corpus build uses every core), and
    maxRecordsPerFile bounds any skewed task's output. Shingles are
    HASH-partitioned on index_id and sorted WITHIN each file (not
    globally range-partitioned: the range sampler costs a second full
    tokenize+shingle pass and its file-count-sized partitioning
    collapsed the sort onto 1-2 tasks) — sorted files keep every parquet
    ROW GROUP's index_id min/max tight, which is what the gate's pushed
    IN filter prunes on (VERDICT r9 item 3)."""
    from ..sources.corpus_sink import _fs_write_text

    seg_path = f"{root}/{_SEGMENTS_DIR}/{seg}"
    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_shingle_tasks = max(
        1, min(parallelism, -(-n_docs // SHINGLE_DOCS_PER_TASK))
    )
    (
        shingle_rows.repartition(n_shingle_tasks, "index_id")
        .sortWithinPartitions("index_id")
        .write.mode("error")
        .option("maxRecordsPerFile", SHINGLE_ROWS_PER_FILE)
        .parquet(f"{seg_path}/shingles")
    )
    if callable(band_rows):
        band_rows = band_rows(spark.read.parquet(f"{seg_path}/shingles"))
    n_band_tasks = max(
        1, min(parallelism, -(-(n_docs * bands) // BAND_ROWS_PER_TASK))
    )
    (
        band_rows.repartition(n_band_tasks, "band_key")
        .write.mode("error")
        .option("maxRecordsPerFile", BAND_ROWS_PER_FILE)
        .parquet(f"{seg_path}/bands")
    )
    # band-WIDTH sidecar (VERDICT r10 item 2): per-segment (band_key,
    # width) aggregates, computed from the just-written band files (a
    # 1-column re-read — the band pass itself is never re-run) and
    # landed BEFORE the marker so a committed segment always carries
    # one. The gate's bucket cap sums these at query time instead of
    # running a count window over every live band row — the cap's
    # corpus-sized exchange moves from per-delivery to build/append
    # time, where the band shuffle is already being paid. The cap
    # stays a query-time knob because widths are stored threshold-free.
    # repartition BEFORE the agg: hash partitioning on band_key
    # satisfies the aggregation's required distribution, so one
    # size-targeted exchange serves both the agg and the file count
    widths = (
        spark.read.parquet(f"{seg_path}/bands")
        .repartition(n_band_tasks, "band_key")
        .groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("width"))
    )
    (
        widths.write.mode("error")
        .option("maxRecordsPerFile", BAND_ROWS_PER_FILE)
        .parquet(f"{seg_path}/band_widths")
    )
    _fs_write_text(
        spark,
        f"{seg_path}/{_SEG_COMMIT}",
        # n_docs rides the commit marker so readers can size the index
        # without scanning it: the gate's scan-shape pick (pruned IN
        # probe vs full-scan join) sums live segments' counts from
        # these few-byte files instead of running a count job per gate.
        # It is an UPPER-BOUND HEURISTIC, not a live-doc census (ADVICE
        # r10 item 4): build/append record the pre-filter input count
        # (zero-token docs included), and a tagged replay straddling a
        # compaction can land its docs' count twice until the next
        # compaction recounts — consumers must treat it as approximate.
        # ``lineage`` (tagged appends only — ADVICE r12 item 2) stamps
        # WHICH checkpoint lineage owns the tag, so a restarted-fresh
        # checkpoint reusing the tag names fails loud instead of
        # silently no-opping its append / blinding its gate.
        json.dumps(
            {"supersedes": supersedes, "n_docs": n_docs}
            | ({"lineage": lineage} if lineage is not None else {})
        ),
    )


def build_dedup_index(
    index: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    seed: int = 42,
    mode: str = "overwrite",
    lock_timeout: float = 60.0,
    segment_tag: str | None = None,
    reclaim_ttl: float = RECLAIM_UNCOMMITTED_TTL,
    reclaim_grace: float = RECLAIM_SUPERSEDED_GRACE,
    lineage: str | None = None,
) -> None:
    """Persist the corpus side of the delta gate as a reusable,
    CRASH-ATOMIC artifact:

    - ``<path>/segments/e<epoch>-<mode>-<nonce>/bands`` — (index_id,
      band_key) rows clustered on band_key into size-targeted files;
    - ``.../shingles`` — (index_id, __sb) in files sorted on index_id
      (tight row-group min/max stats serve the gate's pruned verify
      scan);
    - ``.../_seg_commit.json`` — the segment's commit marker, created
      LAST: a segment without a parseable marker does not exist to any
      reader, so a crash at ANY point of a build or append yields
      exactly the prior index (never the old layout's half-appended
      state whose true duplicates sailed through the gate);
    - ``<path>/_dedup_index_manifest.json`` — the signature parameters
      (k, num_perm, bands, seed), which are INDEX properties every gate
      reads back (a delta can never be signed with different constants
      than the corpus it is gated against), plus the live ``epoch``.

    ``mode="overwrite"`` writes its segment under the NEXT epoch and
    commits by atomically publishing the manifest with that epoch —
    until then every reader keeps resolving the old epoch's segments,
    so a rebuild dying over a live index can never expose a mix of old
    and new state (ADVICE r9 item 1's stale-manifest scenario).
    ``mode="append"`` adds newly admitted docs as one more segment of
    the CURRENT epoch (manifest untouched) — validated against the
    recorded signature constants BEFORE any data lands: band keys
    signed with different constants never collide, so a mismatched
    append would make every future delta silently sail past the
    appended docs. Caller supplies only NEW docs — the index does not
    dedup itself (gate first, then append the admitted batch).

    ``segment_tag`` (append only) makes the append IDEMPOTENT: the
    segment is named by the tag instead of a fresh nonce, and an append
    whose tagged segment is already COMMITTED is a no-op — the
    exactly-once contract a foreachBatch micro-batch needs when it
    re-delivers after a crash between the index append and the
    checkpoint commit (streaming/neardup_stream.py passes the batch id).
    A crashed earlier attempt's uncommitted tagged directory is reclaimed
    and re-landed, so the retry still converges.

    ``lineage`` (with ``segment_tag`` only — ADVICE r12 item 2) stamps
    the CHECKPOINT LINEAGE that owns the tag into the segment's commit
    marker. Tags are keyed by micro-batch id, so they are only
    meaningful relative to one checkpoint's batch numbering: a stream
    restarted on a FRESH checkpoint against an index still holding the
    old lineage's tags would otherwise have its genuinely-new batches
    silently no-op (the old tag reads as "already committed") and its
    gates silently blinded (``exclude_segment_tag`` drops the old
    lineage's LIVE segment). With the stamp, a tagged append that finds
    the tag committed under a DIFFERENT lineage fails loud instead.
    The streaming loop passes its query id automatically; ``None``
    (batch callers, legacy indexes) skips the check both ways.

    Writer coordination mirrors the corpus sink: local indexes take an
    exclusive sibling flock (append, rebuild, and compaction are
    mutually excluded; acquisition waits up to ``lock_timeout`` seconds
    before raising CorpusLockHeld), and each build first reclaims crash
    debris — uncommitted segment directories, a dead overwrite's
    next-epoch orphan, compaction leftovers — AGE-GATED by
    ``reclaim_ttl`` / ``reclaim_grace`` (see _reclaim_dead_segments):
    with the defaults, maintenance is safe to run concurrently with
    live gates, and on lock-less (non-local) storage a concurrent
    writer's in-flight directory is never deleted under it. Gates take
    no lock: they read only committed markers, so a racing append is
    simply invisible until its marker lands, and a gate that resolved
    its segment list just before a compaction/overwrite commit keeps
    reading the superseded segments for the grace window.

    At 100 TB: the corpus pays its shingle+signature cost once; each
    arriving delta pays one band-key join against the committed
    segments plus a candidate-pruned verify scan, which confines the
    per-delta cost to one keyed shuffle per side.
    """
    from contextlib import nullcontext

    from ..sources.corpus_sink import (
        _as_local_path,
        _corpus_lock,
        _fs_delete,
        _fs_write_text_atomic,
        _is_local,
    )

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if segment_tag is not None:
        if mode != "append":
            raise ValueError("segment_tag is an append-idempotence knob")
        if not segment_tag or not all(
            c.isalnum() or c in "_-" for c in segment_tag
        ):
            raise ValueError(
                f"segment_tag must be [A-Za-z0-9_-]+, got {segment_tag!r}"
            )
    spark = index.sparkSession
    root = path.rstrip("/")
    params = {"k": k, "num_perm": num_perm, "bands": bands, "seed": seed}
    lock = (
        _corpus_lock(
            _as_local_path(root, f"dedup-index {mode}"),
            exclusive=True,
            action=f"dedup-index {mode}",
            timeout=lock_timeout,
        )
        if _is_local(root)
        else nullcontext()
    )
    with lock:
        manifest = _read_index_manifest(spark, root)
        if mode == "append":
            if manifest is None:
                raise ValueError(
                    f"append into {path!r}: no index manifest — build the "
                    "index with mode='overwrite' first"
                )
            recorded = {key: manifest[key] for key in params}
            if recorded != params:
                raise ValueError(
                    "append signature-parameter mismatch: index recorded "
                    f"{recorded!r}, append passed {params!r} — mismatched "
                    "band keys never collide, so the appended docs would "
                    "be invisible to every future gate"
                )
            epoch = manifest["epoch"]
            if segment_tag is not None:
                seg_name = f"e{epoch}-append-{segment_tag}"
                committed = _list_segments(spark, root).get(seg_name)
                if committed is not None:
                    marker_lineage = committed.get("lineage")
                    if (
                        lineage is not None
                        and marker_lineage is not None
                        and marker_lineage != lineage
                    ):
                        # the tag is committed, but by a DIFFERENT
                        # checkpoint lineage: treating it as "our
                        # replay already landed" would silently drop
                        # this batch's docs from the index (ADVICE r12
                        # item 2) — the tag collision is a deployment
                        # error (fresh checkpoint pointed at an old
                        # lineage's index), not a replay
                        raise ValueError(
                            f"index/checkpoint lineage desync: tagged "
                            f"segment {seg_name!r} at {path!r} was "
                            f"committed by checkpoint lineage "
                            f"{marker_lineage!r}, but this append runs "
                            f"under lineage {lineage!r} — the index's "
                            "tagged appends live and die with the "
                            "checkpoint; point a fresh checkpoint at a "
                            "fresh index lineage (or restore the "
                            "matching checkpoint) before restarting"
                        )
                    return  # this tagged append already committed: no-op
                # a crashed EARLIER attempt's uncommitted tagged
                # directory is ours to re-land (attempts of one batch
                # tag are serialized by the stream's replay contract),
                # so it is deleted HERE regardless of the reclaim TTL —
                # the age gate protects OTHER writers' in-flight
                # directories, never our own tag
                _fs_delete(spark, f"{root}/{_SEGMENTS_DIR}/{seg_name}")
        else:
            # The new epoch must clear every ON-DISK segment epoch, not
            # just the manifest's (ADVICE r11 item 1): a crashed earlier
            # overwrite may have COMMITTED its segment (marker landed)
            # without ever publishing the manifest. That orphan is
            # TTL-protected from reclaim (on lock-less storage it could
            # be a concurrent writer mid-landing), so a retry that
            # reused manifest.epoch+1 would COLLIDE with it — and the
            # moment the retry's manifest committed, _live_segments
            # would resurrect the orphan's stale docs into the new
            # index. Skipping past the orphan's epoch instead makes it
            # a prior-epoch segment once the retry commits: invisible
            # to every reader, grace-reclaimed by later maintenance.
            from ..sources.corpus_sink import _fs_list_dirs

            on_disk = max(
                (
                    _seg_epoch(name)
                    for name in _fs_list_dirs(
                        spark, f"{root}/{_SEGMENTS_DIR}"
                    )
                ),
                default=0,
            )
            epoch = max(manifest["epoch"] if manifest else 0, on_disk) + 1
        if manifest is not None:
            _reclaim_dead_segments(
                spark, root, manifest["epoch"], reclaim_ttl, reclaim_grace
            )
        # n_docs sizes the segment's file counts and rides the commit
        # marker for the gate's scan-shape pick, so the INPUT row count
        # (parquet-stats cheap) is the right instrument — it may
        # slightly overcount vs the zero-token-filtered shingle frame,
        # which only rounds a file target and biases the shape pick
        # conservatively. Deliberately NO persist of the shingle frame
        # here: caching 7.5M heavy shingle arrays to size two writes
        # cost 6.6x the build in the r10 same-session A/B (654 s vs the
        # then-fastest variant; honest standalone build numbers are in
        # SCALING.md r10 — the r9-era 98.8 s figure was cache-
        # flattered); streaming the tokenize+shingle pass once per
        # relation is far cheaper than writing/reading the cache.
        n_docs = index.count()
        sh_i = doc_shingles(index, text_col, id_col, k)
        # an all-zero-token input shingles to nothing: land no segment
        # (zero-token docs never band, so the index is unchanged) — the
        # isEmpty probe is one take(1) task, not a count
        if n_docs > 0 and not sh_i.isEmpty():
            tag = segment_tag or secrets.token_hex(4)
            seg = f"e{epoch}-{mode}-{tag}"
            keys = band_keys_expr(bands, num_perm // bands)
            # the landed shingle relation carries the shingle HASHES
            # too (+8 B per shingle next to the shingle strings), so the
            # band pass signs from the just-written parquet instead of
            # re-running tokenize+shingle — one corpus pass total; the
            # gate's verify read column-prunes the hashes away
            shingle_rows = sh_i.select(
                F.col("doc_id").alias("index_id"),
                F.col("shingle_set").alias("__sb"),
                F.col("shingle_hashes").alias("__hashes"),
            )

            def band_rows(landed: DataFrame) -> DataFrame:
                signed = minhash_signature(
                    landed.withColumnRenamed("__hashes", "shingle_hashes"),
                    num_perm,
                    seed,
                )
                return signed.select(
                    "index_id", F.explode(F.expr(keys)).alias("band_key")
                )

            _land_segment(
                spark,
                root,
                seg,
                band_rows,
                shingle_rows,
                n_docs,
                bands,
                [],
                lineage=lineage if segment_tag is not None else None,
            )
        if mode == "overwrite":
            # the overwrite's COMMIT POINT: readers switch epochs on
            # this one atomic publish, never mid-landing
            _fs_write_text_atomic(
                spark,
                f"{root}/{_INDEX_MANIFEST}",
                json.dumps({**params, "epoch": epoch}),
            )
            # pre-segment layouts kept data at the root; now that the
            # new epoch is committed those directories are unreferenced
            for legacy in ("bands", "shingles"):
                _fs_delete(spark, f"{root}/{legacy}")


def _tier_merge_group(
    sizes: dict[str, int | None],
    tier_max_docs: int,
    carry_factor: float = TIER_CARRY_FACTOR,
) -> list[str]:
    """The subset of live segments a TIERED compaction merges — pure
    policy, unit-testable without Spark. ``sizes`` maps live segment
    name -> marker ``n_docs`` (None/invalid = unknown).

    Candidates are segments with a KNOWN size at or below
    ``tier_max_docs`` (unknown-size segments predate the n_docs marker
    field and are left to full compaction — guessing could turn an
    O(new docs) maintenance pass into an O(corpus) rewrite). Sorted
    smallest-first, the group grows greedily while the next segment's
    docs are at most ``carry_factor`` x the docs already grouped (see
    TIER_CARRY_FACTOR); a group of one merges nothing. Ties in size
    break by name for determinism."""
    cands = sorted(
        (
            (n_docs, name)
            for name, n_docs in sizes.items()
            if isinstance(n_docs, int)
            and not isinstance(n_docs, bool)
            and 0 <= n_docs <= tier_max_docs
        ),
    )
    group: list[str] = []
    grouped_docs = 0
    for n_docs, name in cands:
        if group and n_docs > carry_factor * max(grouped_docs, 1):
            break  # too big to carry yet: wait for more small segments
        group.append(name)
        grouped_docs += n_docs
    return group if len(group) >= 2 else []


def compact_dedup_index(
    spark,
    path: str,
    lock_timeout: float = 0.0,
    reclaim_ttl: float = RECLAIM_UNCOMMITTED_TTL,
    reclaim_grace: float = RECLAIM_SUPERSEDED_GRACE,
    protect_segment_tags: Sequence[str] = (),
    tier_max_docs: int | None = None,
) -> None:
    """Merge an index's committed segments into one (file-count hygiene
    under the per-delivery append cadence — VERDICT r9 item 2: N appends
    otherwise keep N segments' files forever, and at production cadence
    that is the namenode-degrading small-file pile the corpus sink's
    compaction exists for).

    Convergent and crash-safe with the same marker algebra as append:
    the merged segment is written in full, committed by a marker whose
    ``supersedes`` names the segments it replaces (readers resolving
    AFTER the marker drop them instantly), and the superseded
    directories are reclaimed leaves-first — so no crash point can
    resurrect one — only after ``reclaim_grace`` seconds (by a LATER
    maintenance pass), so a gate that resolved its segment list before
    the commit still completes its reads; ``reclaim_grace=0`` reclaims
    them immediately within this call. Fail-fast on a held lock by
    default, like compact_corpus: a second concurrent compactor is a
    scheduling bug the caller should see.

    ``protect_segment_tags`` excludes live APPEND segments carrying any
    of the given tags (``…-append-<tag>``) from the merge — they stay
    live alongside the merged segment, so a streaming replay that
    relies on ``exclude_segment_tag`` to drop its own batch's segment
    still can (VERDICT r11 item 1: a compaction that absorbs a
    REPLAYABLE batch's tagged segment downgrades the replay to the
    exclude_self fallback, which the r11 soak proved wrong for
    within-batch duplicate twins). The streaming loop's auto-compaction
    passes its current batch's tag: every EARLIER batch's checkpoint
    has committed by the time batch N runs (foreachBatch is serial),
    so only batch N's own tag can still be replayed — protecting it
    makes compaction safe at any point in the stream's life. A
    compactor running OUTSIDE the loop cannot know the in-flight tag
    and must either pause the stream or be scheduled through the
    loop's ``auto_compact_segments`` hook.

    ``tier_max_docs`` (VERDICT r12 item 1) switches to SIZE-TIERED
    compaction: only live segments whose marker ``n_docs`` is known
    and at most the threshold are merge candidates, grouped
    smallest-first under the TIER_CARRY_FACTOR carry rule
    (:func:`_tier_merge_group`), and everything else — the base
    segment, frozen tiers that grew past the threshold, pre-n_docs
    markers — is left alone. This bounds one merge's cost by
    O(tier_max_docs x small multiple) instead of O(corpus), which is
    what a compaction scheduled INSIDE a streaming loop's latency
    budget needs (the r12 soak's per-batch wall drifted 3.64 -> 6.31 s
    purely from full rewrites of a growing index); the full-merge cost
    moves to scheduled maintenance — run this function with
    ``tier_max_docs=None`` while the stream is stopped, or let
    segments above the threshold simply accumulate (the gate's scan
    cost is bytes-dominated, so a handful of frozen tiers is noise).
    Any subset merge is decision-identical to no merge (pinned by
    crash-enum test), so the tier policy is purely a cost choice."""
    from contextlib import nullcontext

    from ..sources.corpus_sink import (
        _as_local_path,
        _corpus_lock,
        _fs_delete,
        _is_local,
    )

    root = path.rstrip("/")
    lock = (
        _corpus_lock(
            _as_local_path(root, "compact_dedup_index"),
            exclusive=True,
            action="compact_dedup_index",
            timeout=lock_timeout,
        )
        if _is_local(root)
        else nullcontext()
    )
    with lock:
        manifest = _read_index_manifest(spark, root)
        if manifest is None:
            raise ValueError(f"no dedup index at {path!r}")
        epoch = manifest["epoch"]
        _reclaim_dead_segments(spark, root, epoch, reclaim_ttl, reclaim_grace)
        segs = _list_segments(spark, root)
        live = _live_segments(segs, epoch)
        if protect_segment_tags:
            # exact names, not endswith: tags may contain '-', so tag
            # 'b' would suffix-match an unrelated 'x-append-b' segment
            # and wrongly shield it from the merge
            protected = {
                f"e{epoch}-append-{t}" for t in protect_segment_tags
            }
            live = [s for s in live if s not in protected]
        if tier_max_docs is not None:
            # tiered mode merges a SUBSET; any subset merge is
            # decision-safe (the gate reads the union of live segments
            # and its verify count is DISTINCT over index ids), so the
            # policy below is purely a cost choice
            live = _tier_merge_group(
                {s: (segs[s] or {}).get("n_docs") for s in live},
                tier_max_docs,
            )
        if len(live) <= 1:
            return
        segdir = f"{root}/{_SEGMENTS_DIR}"
        # distinct/dropDuplicates: duplicate index rows are decision-safe
        # (the verify count is DISTINCT over index ids) but can arise
        # when a tagged foreachBatch replay straddles a compaction that
        # erased its tag — the merge is where they get absorbed. One
        # keyed shuffle each, paid at maintenance time, not gate time.
        band_rows = spark.read.parquet(
            *[f"{segdir}/{s}/bands" for s in live]
        ).distinct()
        # select drops the build-time __hashes column where present
        # (only the build's own band pass ever reads it; compacted
        # segments are lean) and normalizes mixed segment schemas
        shingle_rows = (
            spark.read.parquet(*[f"{segdir}/{s}/shingles" for s in live])
            .select("index_id", "__sb")
            .dropDuplicates(["index_id"])
        )
        n_docs = shingle_rows.count()
        seg = f"e{epoch}-compact-{secrets.token_hex(4)}"
        _land_segment(
            spark,
            root,
            seg,
            band_rows,
            shingle_rows,
            n_docs,
            manifest["bands"],
            live,
        )
        # marker committed: the merged segment owns the data. The
        # superseded originals are reclaimed IMMEDIATELY only when the
        # grace period is disabled (their own markers name nothing
        # still on disk — reclaim above cleared older debris — so plain
        # deletion is the leaves-first order); with a grace period they
        # stay on disk, invisible to readers resolving after this
        # commit but still readable by a gate that resolved its segment
        # list BEFORE it (VERDICT r10 item 1b — the per-micro-batch
        # append cadence demands compaction concurrent with live
        # gating). A later maintenance pass grace-deletes them via
        # _reclaim_dead_segments once the merged marker is old enough.
        if reclaim_grace <= 0:
            for s in live:
                _fs_delete(spark, f"{segdir}/{s}")


def _open_dedup_index(
    spark,
    index_path: str,
    exclude_segment_tag: str | None = None,
    expect_lineage: str | None = None,
):
    """(manifest, band paths, shingle paths, indexed-doc total,
    band-width sidecar paths) for the index's LIVE segments — committed
    markers only, compaction-superseded excluded. The doc total is
    summed from the markers' ``n_docs`` (None when any live marker
    predates that field) so the gate can pick its scan shape without a
    count job. The width-path list is None when ANY live segment
    predates the sidecar (pre-r11 writer) — the gate then falls back to
    the count-window cap. ``exclude_segment_tag`` drops the live APPEND
    segment carrying that tag — the replay-identity hook (see
    delta_dedup_gate_indexed). Matched as the EXACT name
    ``e<epoch>-append-<tag>`` built from THIS function's single
    manifest read (ADVICE r11 item 3: two manifest reads racing a
    concurrent overwrite could mismatch the epoch and silently disable
    the exclusion — one read, one epoch, no race). Exact, not a
    ``endswith('-append-<tag>')`` suffix test: tags may contain ``-``,
    so tag ``b`` would suffix-match an unrelated live segment tagged
    ``x-append-b`` and silently blind the gate to its docs.

    ``expect_lineage`` (with ``exclude_segment_tag`` — ADVICE r12
    item 2) asserts the excluded tagged segment, if present, was
    committed by the SAME checkpoint lineage: tags are keyed by
    micro-batch id, so a fresh checkpoint replaying batch N against an
    index holding an OLD lineage's ``batchN`` tag would silently drop
    that old segment's LIVE docs from its index view — exactly the
    corruption class the replay-exclusion mechanism exists to prevent.
    Both-known-and-different fails loud; ``None`` on either side (batch
    callers, pre-stamp markers) skips the check."""
    root = index_path.rstrip("/")
    manifest = _read_index_manifest(spark, root)
    if manifest is None:
        raise ValueError(
            f"no dedup index at {index_path!r} — build one with "
            "build_dedup_index(mode='overwrite')"
        )
    segs = _list_segments(spark, root)
    live = _live_segments(segs, manifest["epoch"])
    if exclude_segment_tag is not None:
        excluded = f"e{manifest['epoch']}-append-{exclude_segment_tag}"
        if expect_lineage is not None and excluded in live:
            marker_lineage = (segs.get(excluded) or {}).get("lineage")
            if marker_lineage is not None and marker_lineage != expect_lineage:
                raise ValueError(
                    f"index/checkpoint lineage desync: the gate would "
                    f"exclude tagged segment {excluded!r} at "
                    f"{index_path!r}, but that segment was committed by "
                    f"checkpoint lineage {marker_lineage!r}, not this "
                    f"stream's {expect_lineage!r} — excluding another "
                    "lineage's live segment would blind the gate to its "
                    "docs; point a fresh checkpoint at a fresh index "
                    "lineage (or restore the matching checkpoint)"
                )
        live = [s for s in live if s != excluded]
    counts = [segs[s].get("n_docs") for s in live]
    # bool is an int subclass and a corrupt/hand-edited marker could
    # hold true/-5 (ADVICE r10 item 1): anything but a non-negative
    # real int reads as unknown (None) — the same fail-safe-to-full-
    # scan path a missing field already takes
    n_docs = (
        sum(counts)
        if counts
        and all(
            isinstance(c, int) and not isinstance(c, bool) and c >= 0
            for c in counts
        )
        else None
    )
    segdir = f"{root}/{_SEGMENTS_DIR}"
    from ..sources.corpus_sink import _fs_exists

    width_paths = [f"{segdir}/{s}/band_widths" for s in live]
    if not all(_fs_exists(spark, p) for p in width_paths):
        width_paths = None  # pre-sidecar segment present: window fallback
    return (
        manifest,
        [f"{segdir}/{s}/bands" for s in live],
        [f"{segdir}/{s}/shingles" for s in live],
        n_docs,
        width_paths,
    )


def _overcap_band_keys(
    spark, width_paths: list[str], max_bucket: int
) -> DataFrame:
    """Band keys whose TOTAL live width exceeds the cap, from the
    per-segment (band_key, width) sidecars — EXACTLY the keys the
    count-window cap would drop (per-segment widths sum to the window's
    count over the unioned band rows, duplicates included).

    Shape: with one live segment (the post-compaction steady state)
    this is a pure pushed-predicate scan, zero shuffles. With S
    segments, a key can only exceed the cap if some segment holds more
    than cap/S of it (pigeonhole), so a scan-level ``width * S > cap``
    coarse filter prunes the near-everything of unique-ish keys BEFORE
    any exchange; the exact cross-segment sum then runs over just the
    semi-joined survivors — both sides degenerate-key-sized, never
    corpus-sized."""
    w = spark.read.parquet(*width_paths)
    n_segs = len(width_paths)
    if n_segs == 1:
        return w.filter(F.col("width") > max_bucket).select("band_key")
    coarse = (
        w.filter(F.col("width") * n_segs > max_bucket)
        .select("band_key")
        .distinct()
    )
    return (
        w.join(coarse, "band_key", "left_semi")
        .groupBy("band_key")
        .agg(F.sum("width").alias("__tw"))
        .filter(F.col("__tw") > max_bucket)
        .select("band_key")
    )


def delta_dedup_gate_indexed(
    delta: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    prune_max_ids: int | None = PRUNE_MAX_IDS,
    prune_min_index_docs: int = PRUNE_MIN_INDEX_DOCS,
    exclude_self: bool = False,
    exclude_segment_tag: str | None = None,
    segment_lineage: str | None = None,
    use_width_sidecars: bool = True,
) -> GateDecision:
    """Gate a delta batch against a PERSISTED dedup index
    (:func:`build_dedup_index`) — result-identical to
    :func:`delta_dedup_gate` over the same corpus (pinned by test), but
    the corpus-side shingle/signature work is amortized into the index
    build instead of re-run per batch. Signature parameters come from
    the index manifest; ``threshold`` and ``max_bucket`` remain
    query-time knobs (the index stores uncapped band rows — the cap is
    resolved from the per-segment band-width SIDECARS when every live
    segment carries one, so capping costs an anti join against a
    degenerate-key-sized frame instead of a count window over all live
    band rows; ``use_width_sidecars=False`` or a pre-sidecar segment
    falls back to the window, decisions identical).

    Per-delivery cost: one keyed join of the delta's band rows against
    the committed band segments, then a verify join streaming the
    shingle store once (the store side never shuffles when the
    candidate side broadcasts, and a single sequential columnar pass is
    the measured-fastest shape at every decade tried — SCALING.md r10).
    A candidate-id PRUNED scan exists as the alternative shape: the
    candidates' index ids are collected (bounded by ``prune_max_ids``;
    a wider set falls back to the full scan without collecting) and
    pushed into the store scan as an IN filter against its
    index_id-sorted files. It only engages when the markers' summed doc
    count reaches ``prune_min_index_docs`` — set past the measured
    range by default, because controlled A/Bs at 1M and 10M both had
    the full scan WINNING (uniform candidate ids defeat row-group
    skipping; see PRUNE_MIN_INDEX_DOCS). ``prune_max_ids=None`` pins
    full-scan, ``prune_min_index_docs=0`` pins the probe on (the
    clustered-candidate / cold-storage regime). Returns a
    :class:`GateDecision` — call ``release()`` after consuming it
    (per-delivery loops otherwise accumulate pinned relations for the
    session lifetime).

    ``exclude_segment_tag`` drops the live APPEND segment carrying that
    tag (``e<epoch>-append-<tag>``) from the gate's index view — the
    PRIMARY replay-identity mechanism for the streaming loop: a
    micro-batch re-delivered after its own tagged append committed
    gates against exactly the index state its first attempt saw, so
    decisions are bit-identical even when the batch contains
    WITHIN-BATCH duplicates (same text, different ids — the r11
    curation soak caught these flipping to rejected on replay, because
    each twin matches the OTHER twin's committed copy, which no
    id-equality filter can see). ``exclude_self=True`` stays as the
    belt-and-braces second layer for the one corner segment exclusion
    cannot cover — a replay that straddles a compaction which absorbed
    the tagged segment — where it restores identity for self-id
    matches (within-batch twins straddling a compaction remain the one
    documented divergence). ``segment_lineage`` (ADVICE r12 item 2)
    pins WHOSE tag the exclusion may drop: when set and the excluded
    tagged segment was committed by a different checkpoint lineage,
    the gate fails loud instead of silently blinding itself to that
    lineage's live docs (see _open_dedup_index) — the streaming loop
    passes its query id automatically.

    ``exclude_self=True`` drops candidates whose index id EQUALS the
    delta id — the replay-idempotence contract for the streaming loop
    (streaming/neardup_stream.py): a micro-batch re-delivered after its
    index append committed must not match its own copies. Requires ids
    to be stable, non-null, unique doc keys."""
    from pyspark.storagelevel import StorageLevel

    spark = delta.sparkSession
    (
        manifest,
        band_paths,
        shingle_paths,
        n_indexed,
        width_paths,
    ) = _open_dedup_index(
        spark, index_path, exclude_segment_tag, expect_lineage=segment_lineage
    )
    if not band_paths:
        # empty index (fresh epoch, nothing landed): everything admits
        return GateDecision(
            delta.select(
                F.col(id_col).alias("doc_id"),
                F.lit(0).cast("long").alias("n_dup_matches"),
                F.lit(1).cast("long").alias("kept"),
            ),
            [],
        )
    k, num_perm = manifest["k"], manifest["num_perm"]
    bands, seed = manifest["bands"], manifest["seed"]
    sh_d = doc_shingles(delta, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keys = band_keys_expr(bands, num_perm // bands)
    bd = minhash_signature(sh_d, num_perm, seed).select(
        F.col("doc_id").alias("delta_id"),
        F.explode(F.expr(keys)).alias("band_key"),
    )
    bi = spark.read.parquet(*band_paths)
    # bucket-cap shape: when every live segment carries the band-width
    # sidecar, the over-cap keys come from the sidecar sums and the cap
    # is an anti join (no exchange over corpus band rows — VERDICT r10
    # item 2); a pre-sidecar segment or use_width_sidecars=False falls
    # back to the count window, decisions identical (pinned by test)
    overcap = (
        _overcap_band_keys(spark, width_paths, max_bucket)
        if max_bucket is not None and use_width_sidecars and width_paths
        else None
    )
    # scan-shape pick: the full-scan streaming join won every measured
    # A/B (see PRUNE_MIN_INDEX_DOCS), so it is the default everywhere
    # the markers don't prove the index enormous — including legacy
    # markers without n_docs (unknown size), where the probe would pay
    # its fixed cost with no evidence of I/O savings; pinning
    # prune_min_index_docs=0 still forces the probe on either way
    if prune_min_index_docs > 0 and (
        n_indexed is None or n_indexed < prune_min_index_docs
    ):
        prune_max_ids = None
    if prune_max_ids is None:
        decision, pinned = _gate_against(
            delta,
            id_col,
            sh_d,
            bd,
            bi,
            spark.read.parquet(*shingle_paths).select("index_id", "__sb"),
            threshold,
            max_bucket,
            exclude_self=exclude_self,
            overcap_keys=overcap,
        )
    else:
        loader = lambda cand: _pruned_shingles(  # noqa: E731
            spark, shingle_paths, cand, prune_max_ids
        )
        decision, pinned = _gate_against(
            delta,
            id_col,
            sh_d,
            bd,
            bi,
            None,
            threshold,
            max_bucket,
            shingle_loader=loader,
            exclude_self=exclude_self,
            overcap_keys=overcap,
        )
    return GateDecision(decision, [sh_d, *pinned])


def _pruned_shingles(
    spark, shingle_paths: list[str], cand: DataFrame, max_ids: int
) -> DataFrame:
    """The shingle relation the verify join reads, pruned to the
    candidate ids when they fit under ``max_ids``. The collect is
    bounded by a count check against max_ids first, never by corpus or
    delivery size — audited in tests/test_plan_collects.py. Count then
    collect (two fully-parallel jobs over the persisted candidate
    frame) rather than collecting through a limit(max_ids + 1):
    CollectLimit executes its scan with the partition ramp-up (1, then
    scaled-up batches) and a six-figure limit that is never reached
    early runs the whole distinct near-serially — measured as most of
    the probe's overhead at 1M."""
    from pyspark.storagelevel import StorageLevel

    sb = spark.read.parquet(*shingle_paths).select("index_id", "__sb")
    ids_df = cand.select("index_id").distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        n = ids_df.count()
        if n > max_ids:
            return sb  # candidate set too wide to push — full-scan join
        if n == 0:
            return sb.filter(F.lit(False))  # no candidates: verify is empty
        ids = [r[0] for r in ids_df.collect()]
    finally:
        ids_df.unpersist()
    return sb.filter(F.col("index_id").isin(ids))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL mirror (inlined perm params, same constants)
# ---------------------------------------------------------------------------


def minhash_lsh_dedup_sql(
    k: int = 3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> str:
    """DuckDB mirror of the full pipeline, INCLUDING the ``max_bucket``
    degenerate-bucket drop: a band bucket above the cap emits no
    candidate pairs on the Spark side, so the oracle must apply the
    same size filter or the two sides diverge once a bucket saturates
    (the SimHash twin broke exactly this way at sf0.1; MinHash buckets
    only collect truly-similar docs, so saturation needs >cap
    near-identical docs — rarer, but the semantics must still match)."""
    from ..functions.hashing import h32_sql, shingles_sql, tokenize_sql

    params = perm_params(num_perm, seed)
    rows = num_perm // bands
    sig_exprs = ",\n      ".join(
        f"list_aggregate(list_transform(shingle_hashes,"
        f" h -> (h * {a} + {b}) % {MERSENNE_PRIME}), 'min') AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_keys = ", ".join(
        "concat_ws(',', '%d', %s)"
        % (b, ", ".join(f"CAST(s{i} AS VARCHAR)" for i in range(b * rows, (b + 1) * rows)))
        for b in range(bands)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             {shingles_sql(tokenize_sql('text'), k)} AS shingle_set
      FROM documents
      WHERE regexp_matches(lower(text), '[a-z0-9]')
    ),
    hashed AS (
      SELECT doc_id, shingle_set,
             list_transform(shingle_set, s -> {h32_sql('s')}) AS shingle_hashes
      FROM sh
    ),
    signed AS (
      SELECT doc_id, shingle_set,
      {sig_exprs}
      FROM hashed
    ),
    band_rows AS (
      SELECT doc_id, unnest([{band_keys}]) AS band_key FROM signed
    ),
    kept_buckets AS (
      SELECT band_key FROM band_rows GROUP BY band_key
      {f"HAVING count(*) <= {max_bucket}" if max_bucket is not None else ""}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band_rows a
      JOIN kept_buckets kb ON kb.band_key = a.band_key
      JOIN band_rows b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(len(list_intersect(sa.shingle_set, sb.shingle_set)) AS BIGINT)
               AS n_intersect,
           CAST(len(list_distinct(sa.shingle_set || sb.shingle_set)) AS BIGINT)
               AS n_union,
           round(CAST(len(list_intersect(sa.shingle_set, sb.shingle_set)) AS DOUBLE)
                 / len(list_distinct(sa.shingle_set || sb.shingle_set)), 6) AS jaccard
    FROM pairs p
    JOIN hashed sa ON sa.doc_id = p.doc_a
    JOIN hashed sb ON sb.doc_id = p.doc_b
    WHERE round(CAST(len(list_intersect(sa.shingle_set, sb.shingle_set)) AS DOUBLE)
                / len(list_distinct(sa.shingle_set || sb.shingle_set)), 6) >= {threshold}
    """

def delta_dedup_gate_sql(
    delta_pred: str,
    index_pred: str,
    k: int = 3,
    num_perm: int = NUM_PERM,
    bands: int = BANDS,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> str:
    """DuckDB mirror of :func:`delta_dedup_gate` over the ``documents``
    view, with the delta/index membership given as SQL predicates on
    its columns. Same inlined permutation constants, band-key shape,
    INDEX-side bucket cap, and verify rounding as the Spark side, so
    the admit/reject decision is cross-engine exact."""
    from ..functions.hashing import h32_sql, shingles_sql, tokenize_sql

    params = perm_params(num_perm, seed)
    rows = num_perm // bands
    sig_exprs = ",\n      ".join(
        f"list_aggregate(list_transform(shingle_hashes,"
        f" h -> (h * {a} + {b}) % {MERSENNE_PRIME}), 'min') AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_keys = ", ".join(
        "concat_ws(',', '%d', %s)"
        % (b, ", ".join(f"CAST(s{i} AS VARCHAR)" for i in range(b * rows, (b + 1) * rows)))
        for b in range(bands)
    )

    def side(name: str, pred: str) -> str:
        return f"""
    sh_{name} AS (
      SELECT doc_id,
             {shingles_sql(tokenize_sql('text'), k)} AS shingle_set
      FROM documents
      WHERE ({pred}) AND regexp_matches(lower(text), '[a-z0-9]')
    ),
    hashed_{name} AS (
      SELECT doc_id, shingle_set,
             list_transform(shingle_set, s -> {h32_sql('s')}) AS shingle_hashes
      FROM sh_{name}
    ),
    signed_{name} AS (
      SELECT doc_id, shingle_set,
      {sig_exprs}
      FROM hashed_{name}
    ),
    band_{name} AS (
      SELECT doc_id, unnest([{band_keys}]) AS band_key FROM signed_{name}
    )"""

    cap = (
        f"HAVING count(*) <= {max_bucket}" if max_bucket is not None else ""
    )
    jac = (
        "round(CAST(len(list_intersect(sa.shingle_set, sb.shingle_set))"
        " AS DOUBLE)"
        " / len(list_distinct(sa.shingle_set || sb.shingle_set)), 6)"
    )
    return f"""
    WITH {side('d', delta_pred)},
    {side('i', index_pred)},
    kept_buckets AS (
      SELECT band_key FROM band_i GROUP BY band_key {cap}
    ),
    cand AS (
      SELECT DISTINCT bd.doc_id AS delta_id, bi.doc_id AS index_id
      FROM band_d bd
      JOIN kept_buckets kb ON kb.band_key = bd.band_key
      JOIN band_i bi ON bi.band_key = bd.band_key
    ),
    matches AS (
      SELECT c.delta_id, count(*) AS n
      FROM cand c
      JOIN hashed_d sa ON sa.doc_id = c.delta_id
      JOIN hashed_i sb ON sb.doc_id = c.index_id
      WHERE {jac} >= {threshold}
      GROUP BY c.delta_id
    )
    SELECT d.doc_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_dup_matches,
           CAST(CASE WHEN coalesce(m.n, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS kept
    FROM (SELECT doc_id FROM documents WHERE ({delta_pred})) d
    LEFT JOIN matches m ON m.delta_id = d.doc_id
    """
