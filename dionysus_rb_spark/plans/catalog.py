"""Registry of (name -> spark query, duckdb oracle) pairs.

Every operator claimed done in SURVEY §2 gets one entry here: a Spark
callable ``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the
equivalent ANSI SQL DuckDB runs on the same parquet views. Column names
are aliased identically on both sides — the driver sorts columns by name
before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: SparkQuery
    oracle: str | None
    refs: str  # SURVEY §2 operator ids this query certifies, e.g. "A1,O3"
    bench: bool = False  # include in bench.py headline set
    doc: str = field(default="", repr=False)
    # pure_plan=True asserts the query fn is a PURE PLAN BUILDER: it
    # launches no jobs, collects nothing, and lands no files — the
    # returned DataFrame recomputes everything from the base parquet
    # tables on every action (persist() is lazy but NOT construction-
    # pure — it registers a CacheManager entry clearCache() removes, so
    # the memo captures and re-registers staging on hits). Audited
    # per query; queries whose construction performs real work (CC
    # checkpoint loops, ingest landings, driver-collected codebooks)
    # must stay False so repeated timing re-pays that work.
    pure_plan: bool = False


_REGISTRY: dict[str, QueryDef] = {}

# Certification bookkeeping (ADVICE r6 item 1: derive, don't hand-copy).
#
# A query is CERTIFIED when its current plan has a green
# (rows+schema+hash) driver CORRECTNESS row. The driver samples ~50 of
# the catalog per round; ``all_queries()`` enumerates the non-certified
# names FIRST (VERDICT r2, item 1) and orders the certified remainder
# OLDEST ROW FIRST so the sample's tail re-certifies the
# longest-unsampled queries (staleness rotation, VERDICT r5 item 2).
#
# The name->round map is derived AT IMPORT TIME from the committed
# CORRECTNESS_r*.json driver artifacts (latest green row per query), so
# it can never go stale the way a hand-maintained dict did between the
# r6 driver run and the r6 end-of-round commit (ADVICE r6). The one
# judgement call a machine can't make — "did this query's plan, or a
# shared helper it calls, change AFTER its last green row?" (standing
# policy since VERDICT r4 item 1) — stays manual as ``_PLAN_CHANGED``:
# name -> round in which the plan last materially changed. A green row
# from that round or later certifies the shipped plan; older rows
# certified a different expression tree and are ignored.
_PLAN_CHANGED: dict[str, int] = {
    # round 6 changes (all re-greened by CORRECTNESS_r06 rows, so these
    # entries are satisfied; kept as the audit trail of the rule):
    "t_tfidf_keywords": 6,  # idf moved to the vocabulary model frame
    "t_lm_quality": 6,  # logp moved to the distinct-bigram model frame
    # round 7: the adversarial-content-fuzz hardening
    # (tests/test_edge_content_parity.py). Zero-token docs now emit no
    # shingles / NULL fingerprints / no simhash row (shingles,
    # textops.fingerprint, minhash.doc_shingles, simhash.simhash +
    # their SQL mirrors):
    "dd_exact_dedup": 7,
    "dd_minhash_lsh": 7,
    "dd_dup_clusters": 7,
    "dd_dedup_final": 7,
    "dd_ngram_jaccard": 7,
    "dd_contamination": 7,
    "dd_bloom_gate": 7,
    "dd_simhash": 7,  # r6: vote mask long cast; r7: zero-token exclusion
    "dd_simhash_wide": 7,
    "samp_cluster_split": 7,
    "pipe_corpus_filter": 7,
    "pipe_full_curation": 7,
    "t_token_stats": 7,  # oracle: empty-safe sum fold
    "t_fingerprint": 7,
    "t_corpus_stats": 7,
    # ...and degenerate embeddings (zero-norm / NaN / Inf) get NULL
    # cosine + admission filters (similarity.cosine/cos_lit_sql,
    # clustering/pq bases, centroid render window):
    "ann_bruteforce_topk": 7,
    "ann_lsh_neardup": 7,
    "ann_ivf_topk": 7,
    "ann_ivfpq_topk": 7,
    "ann_recall_eval": 7,
    "emb_cosine_neardup": 7,
    "emb_kmeans": 7,
    "emb_label_centroids": 7,
    "emb_outlier_filter": 7,
    "emb_pq_encode": 7,
    "emb_pq_trained": 7,
    "emb_pq_adc_topk": 7,
    "emb_quantize_int8": 7,
    "emb_semantic_dedup": 7,
    # ...and the adversarial EVENTS fuzz (tests/test_edge_events_parity
    # .py): NULL-timestamp ordering stated in every keep-latest /
    # versioning / FIFO oracle (DESC NULLS FIRST / ASC NULLS LAST), the
    # merge guard's null branches spelled in the f1 oracle, total
    # dirty-JSON extraction (try_cast + json_valid), the JSON-integer
    # render window in changesets, and the streaming twins' explicit
    # post-epoch event-time domain:
    "a1_keep_latest_dedup": 7,
    "s2_outbox_publishable_scan": 7,
    "s2_drain_two_cycles": 7,
    "o2_publish_fifo_position": 7,
    "f1_guarded_merge_snapshot": 7,
    "s10_tombstone_merge": 7,
    "lc_local_changes_audit": 7,
    "j6_resource_refetch": 7,
    "cdc_scd2_history": 7,
    "cs_changeset_from_versions": 7,
    "d8_synced_data_backfill": 7,
    "ev_sessionize": 7,
    "stream_t1_replay_dedup": 7,
    "stream_t4_sessionize": 7,
    "stream_t5_snapshot_merge": 7,
    # ...(ADVICE r7, applied r8): four more r7 ORACLE-side NULL-ordering
    # edits the r7 overlay missed — keep-latest windows gained NULLS
    # FIRST (j4/j8/s5) and the per-key batch window NULLS LAST (g4).
    # Their pre-r7 green rows certified a different oracle expression,
    # so by this file's own rule they re-enter the uncertified front:
    "j4_to_many_reconciliation": 7,
    "j8_asof_join": 7,
    "s5_genesis_topic_fanout": 7,
    "g4_per_key_batches": 7,
    # ...and the NULL-input fuzz (tests/test_edge_null_inputs.py):
    # NULL text keeps NULL stats (the oracles' coalesce(...,0) forced
    # zeros), NULL-length docs get no packed-stream position, NULL
    # media payloads yield NULL features, and the centroid oracle's
    # correlated count is null-safe on the label:
    "ctx_pack_sequences": 7,
    "t_bpe_token_count": 7,
    "t_repetition_quality": 7,
    "mm_decode_features": 7,
    # round 8: split_corrupt's default materialization moved from a
    # session-lifetime cache to the managed parquet landing
    # (sources/text_ingest.py mode="land" — ADVICE r7 footprint fix),
    # which changed the ingest query's physical plan. Superseded by the
    # round-9 entry below (r9 > r8), kept as the audit trail:
    # "pipe_jsonl_ingest_roundtrip": 8.
    #
    # round 9 (VERDICT r8 item 1 + ADVICE r8 item 4): corpus_sink.py's
    # write path changed materially in r8 (manifest I/O via Hadoop FS,
    # shared-flock append coordination) AFTER pipe_corpus_shard_
    # roundtrip's r7 green row — the r8 overlay missed it — and in r9
    # all three I/O roundtrips moved their landing/rendering from bare
    # tempfile.mkdtemp to the session-reclaimed scratch root plus the
    # SplitResult ingest handle, shared-helper changes on their
    # execution paths. Audit of the other sink-dependent candidates:
    # pipe_corpus_filter and pipe_full_curation never import
    # corpus_sink or text_ingest (grepped r9 — the only plans-side
    # callers are these three), so their certs stand.
    "pipe_corpus_shard_roundtrip": 9,
    "pipe_jsonl_ingest_roundtrip": 9,
    "pipe_csv_ingest_roundtrip": 9,
    # round 10 (VERDICT r9 items 1-3 + ADVICE r9 items 1-2): the dedup
    # index became a segment/epoch/commit-marker artifact (crash-atomic
    # append and rebuild, size-targeted file counts, compaction), the
    # indexed gate grew the candidate-id pruned shingle scan and both
    # gates now persist candidates / return GateDecision release
    # handles — plan-shape changes on both gate queries' execution
    # paths (shared helper _gate_against changed too):
    # "dd_delta_gate": 10 superseded by the round-11 entry below,
    # kept as the audit trail (r10: GateDecision/candidate persists).
    # round 11 (VERDICT r10 items 2+7): the indexed gate's bucket cap
    # moved from a count window over live band rows to an anti join
    # against sidecar-summed over-cap keys (minhash._overcap_band_keys;
    # segments now land a band_widths relation), and GateDecision became
    # a composition wrapper (queries return .df). dd_delta_gate_indexed
    # and the streaming loop (whose per-batch gate is the same code
    # path) changed plan shape; the INLINE gate kept the window but its
    # shared helper _gate_against changed and the query now returns the
    # unwrapped frame — flagged conservatively per the r4 policy.
    # ("dd_delta_gate": 11 superseded by the round-13 optimization
    # entry below, kept as the audit trail.)
    # round 12 (ADVICE r11 items 1/3/4 + VERDICT r11 item 1): the
    # indexed gate resolves its replay exclusion by tag suffix inside a
    # SINGLE manifest read (_open_dedup_index signature change on its
    # execution path), overwrite builds pick their epoch past every
    # on-disk segment, the streaming loop grew auto-compaction +
    # delivery accumulation (default path restructured around
    # gate_input). Decisions identical by test, flagged conservatively
    # per the r4 policy:
    # round 12 flags for dd_delta_gate_indexed / stream_t6 superseded by
    # the round-13 entries below where re-flagged.
    #
    # round 13 BUILD (ADVICE r12 items 1-2 + VERDICT r12 items 1/5):
    # the indexed gate's _open_dedup_index grew the lineage-stamp check
    # on its execution path (signature change; expression tree
    # identical), and the streaming loop restructured around the scoped
    # maxPartitionBytes override (an extra per-trigger count job, the
    # gate/append body split into a helper) plus tiered auto-compaction
    # and lineage stamping of staging/append markers. Decisions
    # identical by test; flagged conservatively per the r4 policy.
    #
    # round 13 OPTIMIZATION: the expression-rewrite and stage-shape
    # commits changed the optimized trees of every query below —
    # derived MECHANICALLY this round, not by hand: normalized
    # optimized-plan fingerprints of the whole catalog on the r12-end
    # tree (afa05d4) vs HEAD, diffed by
    # tools/validation/plan_fingerprint.py (expression ids, lambda
    # counters, scratch paths and cache detail normalized away). The
    # changes: zip_with shingles/bigrams, one-pass simhash votes,
    # sorted-run repetition/token_tf, let-bound quality/char_entropy
    # (7c18f4d, a803622), sideload sort-key elision (9d1658e), PQ/
    # quantize/centroid let-bindings (c4071c2), the pair-expansion
    # spread + inclusion-exclusion union sizes and the t_lm_quality
    # width pin (optimization session). All oracle-parity-verified at
    # sf0.001 AND sf0.1 this round; flagged so the driver's rotation
    # re-certifies the new trees first:
    "ann_ivf_topk": 13,
    "ann_ivfpq_topk": 13,
    "ann_recall_eval": 13,
    "d4_aggregate_dismantle": 13,
    "dd_bloom_gate": 13,
    "dd_contamination": 13,
    "dd_delta_gate": 13,
    "dd_delta_gate_indexed": 13,
    "dd_exact_dedup": 13,
    "dd_minhash_lsh": 13,
    "dd_ngram_jaccard": 13,
    "dd_passage_dedup": 13,
    "dd_simhash": 13,
    "dd_simhash_wide": 13,
    "emb_kmeans": 13,
    "emb_outlier_filter": 13,
    "emb_pq_adc_topk": 13,
    "emb_pq_encode": 13,
    "emb_pq_trained": 13,
    "emb_quantize_int8": 13,
    "emb_semantic_dedup": 13,
    "p3_aggregate_assembly": 13,
    "pipe_corpus_filter": 13,
    "pipe_full_curation": 13,
    "samp_domain_cap": 13,
    "samp_token_budget": 13,
    "t_char_entropy": 13,
    "t_doc_frequency": 13,
    "t_fingerprint": 13,
    "t_lm_quality": 13,
    "t_quality_score": 13,
    "t_repetition_quality": 13,
    "t_tfidf_keywords": 13,
    "t_token_stats": 13,
    "stream_t6_neardup_index_gate": 13,
    # ...plus the two construction-EAGER CC queries the fingerprint
    # diff cannot see (their returned frame reads the loop's final
    # checkpoint, so the changed minhash/verify subtrees live in
    # construction, not the captured plan) — flagged per the r4
    # shared-helper policy. ("dd_dedup_final": 13 /
    # "samp_cluster_split": 13 superseded by the round-14 entries
    # below, kept as the audit trail.)
    #
    # round 14 OPTIMIZATION: derived mechanically again —
    # plan_fingerprint.py diff of the r13-end tree (aadf359) vs HEAD
    # names exactly dd_simhash and dd_simhash_wide (the pair expansion
    # now drops far pairs inside the bucket-local transform, so the
    # explode and the global distinct see only within-radius rows).
    # t_lm_quality's two measured-and-REJECTED variants left its tree
    # byte-identical (confirmed by the same diff); the ADC literal-gate
    # re-measure changed no catalog plan (all catalog codebooks are 64
    # entries — normalized plan diff verified). The three
    # construction-EAGER CC consumers are hand-flagged per the r4
    # policy: the loop now symmetrizes with a single-scan generator,
    # folds the first checkpoint into iteration 1, and detects the
    # fixpoint per checkpoint chunk — construction-side changes the
    # captured final plan cannot see. All five oracle-parity-verified
    # at sf0.001 AND sf0.1 this round; flagged so the driver's rotation
    # re-certifies the new trees first:
    "dd_simhash": 14,
    "dd_simhash_wide": 14,
    "dd_dedup_final": 14,
    "samp_cluster_split": 14,
    "dd_dup_clusters": 14,
}


# Queries deleted from the catalog whose green rows stay in the committed
# CORRECTNESS_r*.json artifacts; the artifacts are history and not edited.
# dd_delta_gate_bucketed: the bucketed storage shape lost its A/B
# (SCALING.md round 11) and its oracle stays pinned by dd_delta_gate and
# dd_delta_gate_indexed.
_RETIRED: frozenset[str] = frozenset({"dd_delta_gate_bucketed"})


def _latest_green_rounds() -> dict[str, int]:
    """name -> round of the latest green driver row, from the committed
    CORRECTNESS_r*.json artifacts at the repo root. Missing/unreadable
    artifacts degrade safely: affected queries count as uncertified and
    sort to the front of the rotation."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # degrade safely, per the contract above: a list-shaped or
            # otherwise malformed artifact must not kill the package
            # import — its queries just stay uncertified
            continue
        for name, row in rows.items():
            if (
                name not in _RETIRED
                and isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return {
        name: rnd
        for name, rnd in latest.items()
        if rnd >= _PLAN_CHANGED.get(name, 0)
    }


_CERTIFIED_ROUND: dict[str, int] = _latest_green_rounds()

_DRIVER_CERTIFIED: frozenset[str] = frozenset(_CERTIFIED_ROUND)


_PERSIST_CAPTURE: list[list] = []


def _construct_capturing_persists(fn: SparkQuery, spark: SparkSession, sf_dir: str):
    """Run ``fn`` recording every DataFrame.persist() it performs.

    persist() is NOT construction-pure: it registers the frame's
    analyzed plan in the session CacheManager, and a later
    spark.catalog.clearCache() (which bench.py issues before every
    pass, and arbitrary tests issue at will) REMOVES that registration.
    A memoized handle would then silently execute without its staged
    frames — a different physical plan from the one the query was
    audited and certified with (caught by tests/test_plan_staging.py
    on the first full-suite run after the memo landed). So the memo
    records the persisted frames + storage levels at construction and
    re-registers any that have been dropped on every memo hit: the
    handle's executed plan then always contains the same
    InMemoryTableScan staging points as a fresh construction, while
    each action still recomputes all data from the parquet inputs
    (re-persist is lazy — it restores the staging POINT, not any
    cached bytes). Driver-side construction is single-threaded here;
    the patch window is scoped to the fn call.
    """
    # patch the CONCRETE DataFrame class: since Spark 4 the sessions
    # hand out pyspark.sql.classic.dataframe.DataFrame, whose own
    # persist() would shadow a patch on the abstract base
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DFImpl
    except ImportError:  # older Spark: the one class is the impl
        _DFImpl = DataFrame

    captured: list = []
    _PERSIST_CAPTURE.append(captured)
    orig = _DFImpl.persist

    def patched(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        for lst in _PERSIST_CAPTURE:
            lst.append((out, args, kwargs))
        return out

    _DFImpl.persist = patched
    try:
        df = fn(spark, sf_dir)
    finally:
        _DFImpl.persist = orig
        _PERSIST_CAPTURE.pop()
    return df, captured


def _restage(staged: list) -> None:
    """Re-register any staged frame clearCache() has dropped."""
    for frame, args, kwargs in staged:
        sl = frame.storageLevel
        if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
            frame.persist(*args, **kwargs)


def _memoize_pure_plan(name: str, fn: SparkQuery) -> SparkQuery:
    """Construction memo for pure-plan queries (optimization r13).

    DataFrames are immutable plan handles, so constructing the same
    query twice on one session yields an equivalent object — the same
    argument tables.load_table makes for table handles. Construction is
    driver-side Python/Py4J chatter (measured 0.3-1.3 s per complex
    query at ~1-3 ms per gateway roundtrip), which a production driver
    pays once per run, not once per execution; without the memo every
    bench pass re-paid it. Only queries AUDITED as pure plan builders
    (QueryDef.pure_plan) are wrapped, so any fn that does real eager
    work (checkpoints, landings, collects) still re-runs in full.
    Execution is untouched: each action still computes from the parquet
    inputs (bench clearCache() drops all cached data between passes;
    in-plan persist staging is re-registered on memo hits — see
    _construct_capturing_persists). The cache lives on the session
    object and dies with it; set SPARK_GRAFT_QUERY_MEMO=0 to disable
    (used to A/B the memo itself).
    """
    import os

    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        if os.environ.get("SPARK_GRAFT_QUERY_MEMO", "1") != "1":
            return fn(spark, sf_dir)
        cache = getattr(spark, "_dionysus_query_cache", None)
        if cache is None:
            cache = {}
            spark._dionysus_query_cache = cache
        key = (name, os.path.abspath(sf_dir))
        hit = cache.get(key)
        if hit is None:
            df, staged = _construct_capturing_persists(fn, spark, sf_dir)
            cache[key] = (df, staged)
            return df
        df, staged = hit
        _restage(staged)
        return df

    wrapper.__name__ = fn.__name__
    wrapper.__doc__ = fn.__doc__
    wrapper.__wrapped__ = fn
    return wrapper


def query(
    name: str,
    oracle: str | None = None,
    refs: str = "",
    bench: bool = False,
    pure_plan: bool = False,
):
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        run = _memoize_pure_plan(name, fn) if pure_plan else fn
        _REGISTRY[name] = QueryDef(
            name, run, oracle, refs, bench, fn.__doc__ or "", pure_plan
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryDef]:
    # Stable partition: never-driver-certified queries first (in their
    # registration order), then the certified ones OLDEST green row
    # first (staleness rotation — the driver's ~50-query prefix-biased
    # sample re-certifies what has gone longest unsampled). sorted() is
    # stable, so registration order breaks ties within a round.
    return dict(
        sorted(
            _REGISTRY.items(),
            key=lambda kv: _CERTIFIED_ROUND.get(kv[0], 0),
        )
    )
