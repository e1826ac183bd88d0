"""Training-data text-analysis + dedup queries over ``documents``
(beyond-reference operators, BASELINE.json north star). Every hash is
the portable h32 (functions/hashing.py) so even the approximate
pipelines (MinHash-LSH, SimHash) are bit-reproducible by the oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h32_sql, shingles_sql, tokenize_sql
from ..operators import minhash, simhash, sketch, skew, textops
from ..operators.dedup import exact_dedup
from ..tables import ensure_min_parallelism, load_table
from .catalog import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_min_parallelism(load_table(spark, sf_dir, "documents"))


_TOKS = tokenize_sql("text")
_DTOKS = f"list_distinct({_TOKS})"


@query(
    "t_token_stats",
    refs="beyond:text",
    bench=True,
    pure_plan=True,
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len({_DTOKS}) AS BIGINT) AS n_distinct_tokens,
           CASE WHEN text IS NULL THEN NULL
                ELSE round(CAST(coalesce(list_aggregate(
                               list_transform({_TOKS}, t -> len(t)), 'sum'), 0)
                           AS DOUBLE)
                      / greatest(len({_TOKS}), 1), 6) END AS mean_token_len
    FROM documents
    """,
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace+punct tokenizer): counts and mean
    token length per document — pure codegen scan, no shuffle."""
    stats = textops.token_stats(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in stats.items()]
    )


@query(
    "t_bpe_token_count",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(coalesce(list_aggregate(
                     list_transform({_TOKS}, t -> (len(t) + 3) // 4), 'sum'), 0)
                     AS BIGINT) END AS n_bpe_tokens
    FROM documents
    """,
)
def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (~4 chars/piece estimator): the corpus
    cost-accounting pass — one codegen scan, no shuffle."""
    return _docs(spark, sf_dir).select(
        "doc_id", textops.subword_count(F.col("text")).alias("n_bpe_tokens")
    )


_STOPS = ", ".join(f"'{s}'" for s in textops.EN_STOPWORDS)


@query(
    "t_quality_score",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id,
           round(0.4 * (CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                        / greatest(len(text), 1))
               + 0.4 * (CAST(len(list_intersect({_DTOKS}, [{_STOPS}])) AS DOUBLE)
                        / greatest(len({_DTOKS}), 1))
               + 0.2 * least(n_chars / 500.0, 1.0), 6) AS quality
    FROM documents
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: alphabetic ratio + stopword ratio + length
    prior, the standard first-pass web-corpus filter trio."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        textops.quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textops.LANG_STOPWORDS[lang])
    return f"CAST(len(list_intersect({_DTOKS}, [{words}])) AS BIGINT)"


@query(
    "t_lang_id",
    refs="beyond:text",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_lang_score_sql('en')} AS en_score,
             {_lang_score_sql('de')} AS de_score,
             {_lang_score_sql('fr')} AS fr_score,
             {_lang_score_sql('es')} AS es_score
      FROM documents
    )
    SELECT doc_id, en_score, de_score, fr_score, es_score,
           CASE
             WHEN en_score > 0 AND en_score >= de_score AND en_score >= fr_score
                  AND en_score >= es_score THEN 'en'
             WHEN de_score > 0 AND de_score > en_score AND de_score >= fr_score
                  AND de_score >= es_score THEN 'de'
             WHEN fr_score > 0 AND fr_score > en_score AND fr_score > de_score
                  AND fr_score >= es_score THEN 'fr'
             WHEN es_score > 0 AND es_score > en_score AND es_score > de_score
                  AND es_score > fr_score THEN 'es'
             ELSE 'und' END AS predicted_lang
    FROM scored
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/function-word language-ID heuristic with deterministic
    argmax tie-break (en > de > fr > es order)."""
    scores = textops.lang_scores(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        *[scores[lang].alias(f"{lang}_score") for lang in textops.LANG_ORDER],
        textops.predicted_lang(scores).alias("predicted_lang"),
    )


@query(
    "t_fingerprint",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({_TOKS}, ' ')) AS fp,
           CAST(list_aggregate(list_transform(
                    {shingles_sql(tokenize_sql("text"), 3)},
                    s -> {h32_sql('s')}), 'min') AS BIGINT) AS min_shingle_hash
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized-content md5 (exact identity
    under case/punct/whitespace changes) + 1-perm min-shingle hash
    (rolling-hash content signature)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        textops.fingerprint(F.col("text")).alias("fp"),
        textops.min_shingle_hash(F.col("text")).alias("min_shingle_hash"),
    )


@query(
    "t_corpus_stats",
    refs="beyond:text",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(array_to_string({_TOKS}, ' '))) AS n_unique_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.95), 6) AS p95_chars
    FROM documents
    GROUP BY source
    """,
)
def t_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report per source: doc counts, content-hash
    uniques, token totals, and length quantiles — the summary every
    dataset card needs. Exact percentile here for oracle parity; at
    100 TB swap percentile() for percentile_approx (same plan shape,
    bounded memory)."""
    docs = _docs(spark, sf_dir)
    toks = F.array_remove(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), "")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        # zero-token docs have no content hash (fingerprint contract:
        # NULL, which count-distinct ignores on both engines — Spark's
        # md5('') would otherwise count one phantom "unique" per source
        # wherever the oracle's md5(NULL) counts none)
        F.countDistinct(
            F.when(F.size(toks) > 0, F.md5(F.array_join(toks, " ")))
        ).alias("n_unique_docs"),
        F.sum(F.size(toks)).cast("long").alias("total_tokens"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95_chars"),
    )


@query(
    "t_redact_pii",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               text || ' contact u' || doc_id || '@example.com or'
                    || ' https://site' || doc_id || '.com/p?q=1 tel +1 (555) 010-'
                    || lpad(CAST(doc_id AS VARCHAR), 4, '0'),
               '{textops.URL_RE}', '<URL>', 'g'),
               '{textops.EMAIL_RE}', '<EMAIL>', 'g'),
               '{textops.PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
)
def t_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: deterministic synthetic emails/URLs/phones are
    seeded into each document, then redacted to typed placeholders —
    one codegen scan; the oracle reproduces the same regex chain."""
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com or"),
        F.lit(" https://site"), F.col("doc_id").cast("string"),
        F.lit(".com/p?q=1 tel +1 (555) 010-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", textops.redact_pii(seeded).alias("redacted")
    )


@query(
    "t_url_extraction",
    refs="beyond:text,beyond:dedup",
    oracle=f"""
    SELECT doc_id,
           array_to_string(regexp_extract_all(
               text || ' see https://a' || CAST(doc_id % 7 AS VARCHAR)
                    || '.com/x and https://b' || CAST(doc_id AS VARCHAR) || '.org',
               '{textops.URL_RE}', 0), ',') AS urls
    FROM documents
    """,
)
def t_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction (the input to URL-level dedup / domain frequency):
    regexp_extract_all keeps the whole pipeline JVM-side; output joined
    to CSV for driver value-hash stability."""
    seeded = F.concat(
        F.col("text"),
        F.lit(" see https://a"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/x and https://b"), F.col("doc_id").cast("string"), F.lit(".org"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(textops.extract_urls(seeded), ",").alias("urls"),
    )


@query(
    "ev_sessionize",
    refs="beyond:text,T4",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity closes a session):
    lag + cumulative-sum window composition, the batch equivalent of a
    streaming session window — one shuffle on user_id serves all three
    window/group steps (same partitioning reused). Events with a NULL
    timestamp are excluded on both engines — they have no place on a
    timeline, and leaving them in diverges silently because Spark and
    DuckDB default NULLs to opposite ends of the window ordering
    (round-7 adversarial events fuzz)."""
    from pyspark.sql import Window

    from ..tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # unix_micros, NOT cast("long"): the long cast truncates each
    # timestamp to whole seconds BEFORE differencing, so a true gap of
    # 1800.4 s could read as 1800 and stay in-session while the exact
    # interval comparison (the oracle's `> INTERVAL 30 MINUTE`) splits.
    # Invisible until two events land within the same truncation
    # second-window — caught by the 10x fuzz corpus at seed 7.
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "dd_exact_dedup",
    refs="beyond:dedup,A1",
    oracle=f"""
    SELECT doc_id FROM documents
    QUALIFY md5(array_to_string({_TOKS}, ' ')) IS NULL
         OR row_number() OVER (
        PARTITION BY md5(array_to_string({_TOKS}, ' '))
        ORDER BY doc_id ASC) = 1
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: one shuffle on the
    32-byte digest (never the document body), keep lowest doc_id.
    Zero-token docs fingerprint to NULL (textops.fingerprint) and
    exact_dedup keeps every NULL-content row — an empty doc and a CJK
    doc both tokenize to nothing under the ASCII tokenizer, and
    "identical absence of tokens" is not identity (the md5('') of the
    old Spark expression silently collapsed them; DuckDB's
    array_to_string([]) was already NULL — the oracle's IS NULL branch
    now states the keep-all semantics explicitly)."""
    docs = _docs(spark, sf_dir).withColumn(
        "__fp", textops.fingerprint(F.col("text"))
    )
    return exact_dedup(docs, ["__fp"], "doc_id").select("doc_id")


@query(
    "dd_minhash_lsh",
    refs="beyond:dedup",
    bench=True,
    pure_plan=True,
    oracle=minhash.minhash_lsh_dedup_sql(k=3, threshold=0.5),
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) near-dup pairs, exact-Jaccard
    verified at 0.5 — shingle->signature->band-bucket-join, no all-pairs
    comparison anywhere."""
    return minhash.minhash_lsh_dedup(
        _docs(spark, sf_dir), "text", "doc_id", k=3, threshold=0.5
    )


@query(
    "dd_delta_gate",
    refs="beyond:dedup",
    bench=True,  # new surface gets round-over-round numbers (r8 policy)
    pure_plan=True,
    oracle=minhash.delta_dedup_gate_sql(
        "doc_id % 4 = 0", "doc_id % 4 <> 0", k=3, threshold=0.5
    ),
)
def dd_delta_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: gate a NEW batch (doc_id % 4 = 0) against the
    EXISTING corpus (the rest) — the operation a 100 TB pipeline
    actually runs per arriving delivery, where whole-corpus re-dedup is
    off the table and the corpus side is a persisted band-key index
    (operators/minhash.delta_dedup_gate — cost O(delta + matched
    buckets), one band-key join + one verify join, never O(corpus)).
    Banding and verify are byte-identical to the batch pipeline, so an
    admit/reject decision here equals the full pipeline's pairing
    verdict. Emits every delta doc with its verified-match count and
    the 0/1 admit decision. NULL doc_ids satisfy neither predicate on
    either engine (NULL % 4 is NULL), negative doc_ids keep the
    dividend's sign on both, zero-token delta docs band with nothing
    and are admitted, and the index-side bucket cap mirrors the batch
    pipeline's degenerate-bucket drop. The reference has no dedup
    surface at all (SURVEY §2 'beyond' family); within-delta duplicates
    are deliberately NOT resolved here — that is dd_dedup_final's job
    on the admitted batch."""
    docs = _docs(spark, sf_dir)
    # .df: hand the driver the plain decision DataFrame (GateDecision
    # is a composition wrapper since r11 — see minhash.GateDecision)
    return minhash.delta_dedup_gate(
        docs.filter(F.col("doc_id") % 4 == 0),
        docs.filter(F.col("doc_id") % 4 != 0),
        "text",
        "doc_id",
        k=3,
        threshold=0.5,
    ).df


@query(
    "dd_delta_gate_indexed",
    refs="beyond:dedup",
    # SAME oracle as dd_delta_gate: the persisted-index path must be
    # decision-identical to the inline gate — the index is an execution
    # strategy, not a semantic.
    oracle=minhash.delta_dedup_gate_sql(
        "doc_id % 4 = 0", "doc_id % 4 <> 0", k=3, threshold=0.5
    ),
)
def dd_delta_gate_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta gate's PRODUCTION shape, certified end-to-end through
    real files: the corpus side is built once into a persisted dedup
    index (minhash.build_dedup_index — band rows repartitioned on
    band_key + shingle store + a manifest pinning the signature
    constants as index properties), then the delta batch is gated
    against the files (minhash.delta_dedup_gate_indexed). The oracle is
    byte-identical to dd_delta_gate's, so this query certifies that
    amortizing the corpus-side cost into an index artifact changes
    NOTHING about the admit/reject decision — which is the whole
    contract: at 100 TB the index is built once (and appended as
    batches are admitted), and each delivery pays O(delta + matched
    buckets) against it."""
    from ..operators.lineage import scratch_dir

    docs = _docs(spark, sf_dir)
    idx = scratch_dir(spark, "dedup_index-")
    minhash.build_dedup_index(
        docs.filter(F.col("doc_id") % 4 != 0), idx, "text", "doc_id", k=3
    )
    return minhash.delta_dedup_gate_indexed(
        docs.filter(F.col("doc_id") % 4 == 0),
        idx,
        "text",
        "doc_id",
        threshold=0.5,
    ).df


_NDG_B1 = "doc_id % 8 = 0"
_NDG_B2 = "doc_id % 8 = 4"
_NDG_IDX = "doc_id % 8 <> 0 AND doc_id % 8 <> 4"


def _neardup_stream_oracle() -> str:
    """Closed form of the two-micro-batch continuous-curation loop:
    batch 0 gates against the base corpus; batch 1 gates against the
    base corpus PLUS batch 0's ADMITTED docs (the crash-atomic append
    the stream performed) — expressed by nesting batch 0's gate SQL as
    a membership predicate inside batch 1's index side."""
    g1 = minhash.delta_dedup_gate_sql(
        _NDG_B1, _NDG_IDX, k=3, threshold=0.5
    )
    idx2 = (
        f"({_NDG_IDX}) OR (({_NDG_B1}) AND doc_id IN "
        f"(SELECT doc_id FROM ({g1}) AS g1k WHERE kept = 1))"
    )
    g2 = minhash.delta_dedup_gate_sql(_NDG_B2, idx2, k=3, threshold=0.5)
    return f"""
    SELECT doc_id, n_dup_matches, kept, CAST(0 AS INTEGER) AS batch
    FROM ({g1}) g1r
    UNION ALL
    SELECT doc_id, n_dup_matches, kept, CAST(1 AS INTEGER) AS batch
    FROM ({g2}) g2r
    """


@query(
    "stream_t6_neardup_index_gate",
    refs="beyond:dedup,T1,T5,S6",
    oracle=_neardup_stream_oracle(),
)
def stream_t6_neardup_index_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS-curation dedup loop, oracle-checked end to end
    through a real Structured Streaming run (VERDICT r9 item 4): a file
    stream delivers two micro-batches; each is gated against the
    PERSISTED dedup index (streaming/neardup_stream.
    indexed_neardup_gate_sink) and its admitted docs are crash-atomically
    APPENDED, so batch 1's duplicates of batch 0's admits are rejected
    while duplicates of batch 0's REJECTS are not double-counted (a
    rejected doc never enters the index). The stream reads its signature
    constants from the index manifest — stream and index cannot drift —
    and the run is two availableNow passes over one checkpoint, the
    production restart cadence. The oracle is the loop's closed form:
    batch 1's index side = base corpus UNION batch 0's kept set."""
    from ..operators.lineage import scratch_dir
    from ..streaming.neardup_stream import indexed_neardup_gate_sink

    docs = _docs(spark, sf_dir)
    idx = scratch_dir(spark, "ndgate_idx-")
    minhash.build_dedup_index(
        docs.filter(F.expr(_NDG_IDX)), idx, "text", "doc_id", k=3
    )
    src = scratch_dir(spark, "ndgate_src-")
    out = scratch_dir(spark, "ndgate_out-")
    ckpt = scratch_dir(spark, "ndgate_ckpt-")

    def land(admitted, rejected, decision, batch_id):
        decision.withColumn(
            "batch", F.lit(int(batch_id)).cast("int")
        ).write.mode("append").parquet(out)

    def run_pass():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                indexed_neardup_gate_sink(idx, threshold=0.5, on_batch=land)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    docs.filter(F.expr(_NDG_B1)).coalesce(1).write.mode("append").parquet(src)
    run_pass()
    docs.filter(F.expr(_NDG_B2)).coalesce(1).write.mode("append").parquet(src)
    run_pass()
    return spark.read.parquet(out)


@query(
    "dd_dup_clusters",
    refs="beyond:dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({minhash.minhash_lsh_dedup_sql(k=3, threshold=0.5)}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS via connected components
    (large-star/small-star): the step between pair mining and the
    keep-one-per-cluster decision. cluster_id = smallest doc_id in the
    component (the canonical survivor)."""
    from ..operators.graph import connected_components

    pairs = minhash.minhash_lsh_dedup(
        _docs(spark, sf_dir), "text", "doc_id", k=3, threshold=0.5
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "dd_dedup_final",
    bench=True,
    refs="beyond:dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({minhash.minhash_lsh_dedup_sql(k=3, threshold=0.5)}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (
        SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           CASE WHEN c.doc_id IS NULL THEN 'unique' ELSE 'cluster_rep' END
               AS kept_reason
    FROM documents d
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
)
def dd_dedup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product: the KEPT corpus. Near-dup pairs
    (MinHash-LSH) cluster via connected components; each cluster keeps
    its canonical survivor (min doc_id) and every unclustered doc
    survives as unique. ONE left join against the label table decides
    everything (unlabeled -> unique; labeled and own-cluster-min ->
    survivor; otherwise dropped) — the oracle's own shape, and half the
    work of the earlier anti-join + rep-join pair, which also computed
    the label aggregate twice. The label side is cluster-membership-
    sized — on an adversarial corpus (SCALING.md's 95%-near-dup run)
    corpus-sized — so NO broadcast hint is forced: AQE broadcasts when
    the runtime size is actually small and falls back to a shuffled
    hash join otherwise, so neither side can OOM the executors."""
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = minhash.minhash_lsh_dedup(
        docs, "text", "doc_id", k=3, threshold=0.5
    ).select("doc_a", "doc_b")
    cc = connected_components(pairs).select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("__comp")
    )
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .filter(F.col("__comp").isNull() | (F.col("__comp") == F.col("doc_id")))
        .select(
            "doc_id",
            F.when(F.col("__comp").isNotNull(), "cluster_rep")
            .otherwise("unique")
            .alias("kept_reason"),
        )
    )


@query(
    "dd_ngram_jaccard",
    refs="beyond:dedup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source,
             {shingles_sql(tokenize_sql("text"), 2)} AS s2
      FROM documents
      WHERE regexp_matches(lower(text), '[a-z0-9]')
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s2, b.s2)) AS DOUBLE)
                 / len(list_distinct(a.s2 || b.s2)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.s2, b.s2)) AS DOUBLE)
                / len(list_distinct(a.s2 || b.s2)), 6) >= 0.3
    """,
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (word-bigram) Jaccard pairs, blocked on source —
    the exact-verification baseline the LSH pipelines approximate.

    Cost bound (same caveat class as cosine_near_dup_pairs' block_col):
    the self-join is QUADRATIC WITHIN EACH BLOCK — sum over blocks of
    B*(B-1)/2 shingle-set comparisons, so wall-clock is governed by the
    LARGEST block, not the corpus. Safe here by construction (the
    documents fixture carries ~10 sources, each corpus/10), and safe in
    production only while max block size stays in the ~10^4 range
    (~5*10^7 comparisons). A corpus-sized or missing block degrades to
    all-pairs — that regime belongs to dd_minhash_lsh / dd_simhash_wide,
    which bound the join by banding instead of trusting a column's
    cardinality profile."""
    from pyspark.storagelevel import StorageLevel

    from ..functions.hashing import shingles, tokenize

    # both sides of the self-join need the shingle arrays: persist so the
    # tokenize+shingle pass runs once, not once per side
    # zero-token docs (empty/non-Latin under the ASCII tokenizer) are
    # excluded on both sides: they have no n-grams to compare, and the
    # 0/0 Jaccard would raise under ANSI where DuckDB yields NULL. The
    # gate is the raw-text ASCII-alnum regex (scan-level pushdown; see
    # minhash.doc_shingles for why not size(s2) > 0)
    sh = (
        _docs(spark, sf_dir)
        .filter(F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select(
            "doc_id", "source", shingles(tokenize(F.col("text")), 2).alias("s2")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.s2", "b.s2"))
    # inclusion-exclusion union size (minhash.verify_jaccard rationale):
    # s2 is distinct by construction, the self-join is inner — counts
    # identical, one set operation per pair instead of two
    union = F.size("a.s2") + F.size("b.s2") - inter
    jac = F.round(inter / union, 6)
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
    )


@query(
    "pipe_corpus_filter",
    refs="beyond:text,beyond:dedup",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             round(0.4 * (CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                          / greatest(len(text), 1))
                 + 0.4 * (CAST(len(list_intersect({_DTOKS}, [{_STOPS}])) AS DOUBLE)
                          / greatest(len({_DTOKS}), 1))
                 + 0.2 * least(n_chars / 500.0, 1.0), 6) AS quality,
             {_lang_score_sql('en')} AS en_score,
             {_lang_score_sql('de')} AS de_score,
             {_lang_score_sql('fr')} AS fr_score,
             {_lang_score_sql('es')} AS es_score,
             md5(array_to_string({_TOKS}, ' ')) AS fp
      FROM documents
    ),
    kept AS (
      SELECT doc_id, quality, fp FROM scored
      WHERE quality >= 0.5
        AND en_score > 0 AND en_score >= de_score
        AND en_score >= fr_score AND en_score >= es_score
    )
    SELECT doc_id, quality FROM kept
    QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    """,
)
def pipe_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation funnel: quality gate -> language gate ->
    exact dedup. The scored frame is STAGED (persisted) before the
    gate: filtering directly on the computed columns lets Catalyst push
    the predicates below the projection — via pushdown AND constraint
    inference, which re-derives them even behind a non-deterministic
    barrier (measured) — so every heavy text expression would run twice
    (once in the scan-stage filter over ALL rows, again above for
    survivors). Staging evaluates each expression exactly once over the
    full corpus and the gate reads attributes; the staged frame is the
    narrow score table (no text column), the standard materialization
    point of a 100 TB curation pass. Only the final dedup shuffles (on
    the 32-byte fingerprint)."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    scores = textops.lang_scores(F.col("text"))
    scored = docs.select(
        "doc_id",
        textops.quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
        textops.predicted_lang(scores).alias("lang"),
        textops.fingerprint(F.col("text")).alias("__fp"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    return exact_dedup(kept, ["__fp"], "doc_id").select("doc_id", "quality")


@query(
    "pipe_full_curation",
    refs="beyond:text,beyond:dedup",
    bench=True,
    pure_plan=True,
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round(0.4 * (CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                          / greatest(len(text), 1))
                 + 0.4 * (CAST(len(list_intersect({_DTOKS}, [{_STOPS}])) AS DOUBLE)
                          / greatest(len({_DTOKS}), 1))
                 + 0.2 * least(n_chars / 500.0, 1.0), 6) AS quality,
             round(1 - CAST(len({_DTOKS}) AS DOUBLE) / greatest(len({_TOKS}), 1), 6)
                 AS dup_frac,
             round(CAST(coalesce(list_aggregate(
                 list_transform({_DTOKS}, d -> len(list_filter({_TOKS}, x -> x = d))),
                 'max'), 0) AS DOUBLE) / greatest(len({_TOKS}), 1), 6) AS top_frac,
             md5(array_to_string({_TOKS}, ' ')) AS fp,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    gated AS (
      SELECT * FROM scored
      WHERE quality >= 0.3 AND dup_frac < 0.75 AND top_frac < 0.2
        AND {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 <
            CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 50 ELSE 100 END
    ),
    deduped AS (
      SELECT doc_id, n_tokens FROM gated
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               - n_tokens AS global_offset
      FROM deduped
    )
    SELECT doc_id, n_tokens, global_offset,
           global_offset // 256 AS first_seq
    FROM placed
    """,
)
def pipe_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep pipeline as ONE plan: quality gate
    -> repetition gate -> deterministic language rebalancing -> exact
    dedup -> sequence packing of the survivors. The scored frame is
    STAGED (persisted) before the gates: filtering on the computed
    columns directly would re-derive every heavy text expression inside
    the scan-stage filter (predicate pushdown + constraint inference —
    see pipe_corpus_filter), doubling the dominant cost; staging runs
    each expression exactly once over the corpus and the gates read
    attributes from the narrow score table (no text column — the
    standard materialization point of a 100 TB prep job). Packing
    reuses the hierarchical prefix-sum, so the widest shuffle in the
    entire pipeline moves only the KEPT corpus, once, keyed by
    fingerprint."""
    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    from ..functions.hashing import tokenize

    # tokenize ONCE per row into an attribute the score expressions
    # reference (optimization r13): quality, both repetition fractions,
    # the fingerprint and the token count all consume the same token
    # array, and CollapseProject leaves the two-projection shape alone
    # because the alias is non-cheap and multiply referenced — the old
    # single projection re-ran the regex tokenizer once per consumer.
    toked = docs.select(
        "doc_id", "lang", "n_chars", "text", tokenize(F.col("text")).alias("__toks")
    )
    rep = textops.repetition_stats(F.col("text"), tokens=F.col("__toks"))
    scored = toked.select(
        "doc_id",
        "lang",
        textops.quality_score(
            F.col("text"), F.col("n_chars"), tokens=F.col("__toks")
        ).alias("quality"),
        rep["dup_token_frac"].alias("dup_frac"),
        rep["top_token_frac"].alias("top_frac"),
        textops.fingerprint(F.col("text"), tokens=F.col("__toks")).alias("__fp"),
        F.size(F.col("__toks")).cast("long").alias("n_tokens"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    gated = scored.filter(
        (F.col("quality") >= 0.3)
        & (F.col("dup_frac") < 0.75)
        & (F.col("top_frac") < 0.2)
        & textops.rebalance_keep(F.col("doc_id"), F.col("lang"), _REBALANCE_RATES)
    )
    deduped = exact_dedup(gated, ["__fp"], "doc_id").select("doc_id", "n_tokens")
    placed = textops.pack_offsets(deduped, "doc_id", "n_tokens", shard_size=1000)
    return placed.select(
        "doc_id",
        "n_tokens",
        "global_offset",
        F.floor(F.col("global_offset") / 256).alias("first_seq"),
    )


@query(
    "dd_contamination",
    refs="beyond:dedup,beyond:text",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {shingles_sql(tokenize_sql("text"), 3)} AS s FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id < 5
    ),
    expanded AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id >= 5
    )
    SELECT e.doc_id,
           count(*) AS n_overlapping
    FROM expanded e JOIN bench b ON e.shingle = b.shingle
    GROUP BY e.doc_id
    """,
)
def dd_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    3-gram with the held-out set (docs 0-4 play the benchmark) are
    flagged with their overlap count. Shingles explode once per side and
    meet in ONE shuffle on the shingle string; the benchmark side is
    dictionary-sized and broadcasts. At 100 TB the benchmark shingle set
    is still small — this plan shape is exactly production decontam."""
    from ..functions.hashing import shingles, tokenize

    sh = _docs(spark, sf_dir).select(
        "doc_id", shingles(tokenize(F.col("text")), 3).alias("s")
    )
    bench = (
        sh.filter(F.col("doc_id") < 5)
        .select(F.explode("s").alias("shingle"))
        .distinct()
    )
    expanded = sh.filter(F.col("doc_id") >= 5).select(
        "doc_id", F.explode("s").alias("shingle")
    )
    # shingle sets are per-doc distinct already (shingles() dedups), so
    # a plain count gets map-side partial aggregation — no distinct pass
    return (
        expanded.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlapping"))
    )


@query(
    "dd_simhash",
    refs="beyond:dedup",
    oracle=simhash.simhash_sql(max_hamming=3, bands=4),
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs within Hamming<=3. Candidate
    generation uses 4 x 8-bit bands: by pigeonhole, <=3 differing bits
    leave at least one band identical, so every in-radius pair is
    FOUND — the earlier high-half-word single block had no such
    guarantee (a diff in the blocked bits hid the pair). One shuffle,
    fingerprints computed once (bucket-collect, no self-join)."""
    fps = simhash.simhash(_docs(spark, sf_dir), "text", "doc_id")
    return simhash.simhash_pairs(fps, max_hamming=3, bands=4)


@query(
    "dd_simhash_wide",
    # bench-tracked since round 7 (VERDICT r6 item 2): this is the
    # production-regime knob, so regressions need a round-over-round
    # number, not just the 32-bit twin's.
    bench=True,
    pure_plan=True,
    refs="beyond:dedup",
    oracle=simhash.simhash_sql(max_hamming=3, bands=4, bits=simhash.WIDE_BITS),
)
def dd_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-regime SimHash: the 60-bit fingerprint (15-bit bands, 32k
    values each) that production dedup runs at scale. dd_simhash's
    32-bit shape saturates its band buckets around max_bucket*256 docs
    (SCALING.md r5 measured 94% of band rows capped at 500k docs); this
    is the same one-shuffle pigeonhole-banded plan with band
    cardinality 2^15, which keeps buckets under the cap out to
    max_bucket*32768 docs. Same completeness guarantee (4 bands >
    radius 3), same cap-modeling oracle, now parameterized by bits."""
    fps = simhash.simhash(
        _docs(spark, sf_dir), "text", "doc_id", bits=simhash.WIDE_BITS
    )
    return simhash.simhash_pairs(
        fps, max_hamming=3, bands=4, bits=simhash.WIDE_BITS
    )


@query(
    "t_repetition_quality",
    bench=True,
    pure_plan=True,
    refs="beyond:text",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    counted AS (
      SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS nd,
             list_aggregate(
               list_transform(list_distinct(t),
                 d -> len(list_filter(t, x -> x = d))), 'max') AS top_count
      FROM toks
    )
    SELECT doc_id,
           round(1 - CAST(nd AS DOUBLE) / greatest(n, 1), 6) AS dup_token_frac,
           CASE WHEN n IS NULL THEN NULL
                ELSE round(CAST(coalesce(top_count, 0) AS DOUBLE)
                           / greatest(n, 1), 6) END AS top_token_frac,
           round(1 - CAST(nd AS DOUBLE) / greatest(n, 1), 6) < 0.75
               AND CASE WHEN n IS NULL THEN NULL
                        ELSE round(CAST(coalesce(top_count, 0) AS DOUBLE)
                                   / greatest(n, 1), 6) END < 0.2
               AS keep
    FROM counted
    """,
)
def t_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: repeated-token fraction and
    most-frequent-token fraction per document, with the keep verdict
    (Rae et al. 2021 §A1.1 use the same shape on n-gram chars). Pure
    per-row array folds — one codegen scan over the corpus, no explode,
    no shuffle: the cheapest possible plan for an every-document
    filter."""
    stats = textops.repetition_stats(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        stats["dup_token_frac"].alias("dup_token_frac"),
        stats["top_token_frac"].alias("top_token_frac"),
        (
            (stats["dup_token_frac"] < 0.75) & (stats["top_token_frac"] < 0.2)
        ).alias("keep"),
    )


@query(
    "t_doc_frequency",
    bench=True,
    pure_plan=True,
    refs="beyond:text",
    oracle=f"""
    WITH expanded AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT token,
           count(*) AS doc_freq,
           round(ln(CAST(n.n_docs AS DOUBLE) / count(*)), 6) AS idf
    FROM expanded, n
    GROUP BY token, n.n_docs
    ORDER BY doc_freq DESC, token
    LIMIT 50
    """,
)
def t_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency / IDF table (top 50 by df): the global
    statistic behind TF-IDF quality scoring and stopword discovery.
    Distinct tokens explode once and aggregate in ONE shuffle keyed by
    token (map-side partial counts bound the shuffle by vocabulary x
    partitions, not corpus size); the doc count broadcasts as a scalar.
    Top-k is TakeOrdered on the aggregated vocabulary — at 100 TB the
    vocab table is millions of rows, not trillions, so this plan holds."""
    docs = _docs(spark, sf_dir)
    from ..functions.hashing import tokenize

    # corpus doc count stays IN the plan (1-row frame, broadcast onto
    # the vocabulary-sized agg — the oracle's count CTE shape) instead
    # of a separate driver count job
    # count the RAW scan, not the spread frame: the corpus count
    # needs no parallelism and the min-parallelism repartition is a
    # full exchange the 1-row aggregate would otherwise pay for
    # (optimization r13)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("__nd")
    )
    expanded = docs.select(
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token")
    )
    return (
        expanded.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "doc_freq",
            F.round(F.log(F.col("__nd") / F.col("doc_freq")), 6).alias("idf"),
        )
        .orderBy(F.desc("doc_freq"), "token")
        .limit(50)
    )


@query(
    "t_tfidf_keywords",
    bench=True,
    pure_plan=True,
    refs="beyond:text",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    tfc AS (
      SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
    ),
    dfc AS (
      SELECT token, count(*) AS df FROM tfc GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.token,
             round(tfc.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6) AS tfidf
      FROM tfc JOIN dfc USING (token), n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rk
      FROM scored
    )
    SELECT doc_id, token, tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def t_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document: the build-a-corpus-model-
    then-apply-it shape. Term frequencies aggregate in one shuffle keyed
    by (doc, token); document frequencies derive from that result with a
    map-side-combined reaggregation on token (vocabulary-sized); the df
    table joins back onto the tf rows — no forced broadcast: a natural-
    language vocabulary fits, but at web scale (URLs, code, numerals) the
    token space is unbounded, so AQE decides from the runtime size — and
    the per-doc top-3 is a window rank partitioned by doc. Ranking uses
    the ROUNDED score
    so cross-engine double noise cannot flip the order; ties break on
    the token string."""
    from pyspark.sql import Window

    from ..functions.hashing import tokenize

    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    # corpus doc count as a 1-row in-plan frame, not a driver count job
    # count the RAW scan, not the spread frame: the corpus count
    # needs no parallelism and the min-parallelism repartition is a
    # full exchange the 1-row aggregate would otherwise pay for
    # (optimization r13)
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("__nd")
    )
    # term frequencies are PER-ROW quantities (all of a document's
    # tokens live in its own row), so they come from a sorted-run count
    # inside the scan (textops.token_tf) — the old explode +
    # groupBy(doc_id, token) shuffled the entire exploded corpus to
    # count what each row already contained (optimization r13: one
    # corpus-sized Exchange removed; tf values identical). The tf frame
    # still feeds both the df reaggregation and the scored join, so it
    # stays persisted (a staged table at cluster scale, the same move
    # as minhash's shingle stage).
    tf = (
        docs.select(
            "doc_id",
            F.explode(textops.token_tf(tokenize(F.col("text")))).alias("__e"),
        )
        .select("doc_id", F.col("__e.token").alias("token"), F.col("__e.tf").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # idf is a per-TOKEN quantity: compute it once on the vocabulary-
    # sized df frame (the 1-row count decorates |vocab| rows and the
    # log runs |vocab| times), not once per tf row — round 6 moved the
    # crossJoin up here after profiling the r3->r5 drift (the BNLJ
    # decoration sat on the tf-row-sized frame). Bit-identical scores:
    # log(nd/df) sees the same inputs either way.
    dfc = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select("token", F.log(F.col("__nd") / F.col("df")).alias("__idf"))
    )
    scored = tf.join(dfc, "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.col("__idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    # the rank window's doc-keyed exchange is byte-coalesced by AQE
    # onto one task (0.31 s at sf0.1) — but width-pinning it via
    # spread_for_compute measured 1.18x WORSE in an interleaved A/B
    # (the stage is too small to amortize the pinned exchange's lost
    # coalescing); left alone, per guide §1 measure-first. r13.
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", "rk")
    )


@query(
    "t_lm_quality",
    refs="beyond:text",
    bench=True,
    pure_plan=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2
                    THEN list_transform(range(len(t) - 1),
                         i -> t[i+1] || ' ' || t[i+2])
                    ELSE [] END) AS bg
      FROM toks
    ),
    bgc AS (SELECT bg, count(*) AS cb FROM bi GROUP BY bg),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    ugc AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
    vocab AS (SELECT count(*) AS v FROM ugc),
    scored AS (
      SELECT bi.doc_id,
             round(ln((bgc.cb + 1.0) / (ugc.cu + vocab.v)), 9) AS logp
      FROM bi
      JOIN bgc USING (bg)
      JOIN ugc ON ugc.w = split_part(bi.bg, ' ', 1), vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(list_reduce(list_sort(array_agg(logp)), (a,b) -> a+b)
                 / count(*), 6) AS avg_logp
    FROM scored
    GROUP BY doc_id
    """,
)
def t_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with the corpus as its own model:
    an add-one-smoothed bigram LM (counts + vocab) is built in two
    token-keyed shuffles and joined back onto each document's bigrams,
    and each doc scores its average log-probability — low scores mark
    incoherent/outlier text, the same shape as CCNet's wiki-LM
    perplexity filter (the trained-KenLM step swaps in for the counts
    join at production). The count tables are VOCABULARY-sized — a
    natural-language vocabulary broadcasts, but at web scale (URLs,
    code, numerals) the bigram space is unbounded, so no broadcast hint
    is forced: AQE broadcasts when the runtime size is actually small
    (same reasoning as t_tfidf_keywords). Cross-partition double
    summation is made
    engine-deterministic by collecting each doc's rounded logps,
    sorting, and folding sequentially — never a floating-point
    sum whose addend order the shuffle controls."""
    from ..functions.hashing import tokenize

    from ..operators.textops import bigrams

    from pyspark.storagelevel import StorageLevel

    docs = _docs(spark, sf_dir)
    # tokenization feeds THREE consumers (bigram stream, unigram counts,
    # vocab count): persist the token frame so the corpus is scanned and
    # regex-tokenized once, not once per consumer (staged table at
    # cluster scale)
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("t")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the exploded bigram stream feeds BOTH the model build (bgc) and the
    # scoring join: persist so the token frame explodes once. Two r14
    # variants MEASURED AND REJECTED here (VERDICT r13 item 1): (a)
    # joining the model against per-doc DISTINCT bigrams with tf weights
    # via token_tf + a tf-expanded final fold — 1.3x WORSE interleaved at
    # sf0.1 (38.6 vs 37.2 task-s): token_tf's per-row sort of the bigram
    # strings costs more than the join rows it saves at this within-doc
    # duplicate-bigram rate (the fold's bit-identity argument is pinned
    # in tests/test_expr_rewrites.py for whenever a higher-duplicate
    # corpus makes it worth re-measuring); (b) dropping this persist and
    # re-deriving the stream from the cached token frame per consumer —
    # a 7-pass alternating A/B read a dead heat (min 0.898 vs 0.905 s,
    # equal medians), so the audited staged-table shape stands.
    bi = toks.select(
        "doc_id", F.explode(bigrams(F.col("t"))).alias("bg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bgc = bi.groupBy("bg").agg(F.count("*").alias("cb"))
    uni = toks.select(F.explode("t").alias("w"))
    # unigram counts feed BOTH the vocab scalar and the scoring join:
    # persist the vocabulary-sized frame so the token explode +
    # aggregate runs once (same staging rule as toks/bi above)
    ugc = uni.groupBy("w").agg(F.count("*").alias("cu")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # vocabulary size stays IN the plan (1-row frame, broadcast — same
    # shape as the oracle's vocab CTE) instead of a separate driver
    # count job: one execution end to end, no mid-build serialization
    vocab = ugc.agg(F.count("*").alias("__v"))
    # logp is a per-BIGRAM quantity (cb, cu, v are all functions of the
    # bigram string), so the LM evaluates on the distinct-bigram model
    # frame — the unigram join, the 1-row vocab decoration, and the
    # log() run |distinct bigrams| times. The occurrence stream then
    # takes ONE join against the finished model (round 6, the same move
    # as t_tfidf_keywords' idf: at corpus scale `bi` is the trillions-
    # row side and per-occurrence join work is the cost that matters).
    # Bit-identical logp: identical inputs to the same float expression.
    model = (
        bgc.join(
            ugc,
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w"),
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("__v"))), 9
            ).alias("logp"),
        )
    )
    scored = bi.join(model, "bg").select("doc_id", "logp")
    # pin the doc-keyed exchange ahead of the per-doc sort+fold: the
    # scored rows leave the model join partitioned by bg, the final
    # aggregate's own exchange carries few bytes (doc_id + rounded
    # logp), and AQE's byte-based coalescing ran the whole
    # collect+sort+fold on one task (0.47 s single-task stage at sf0.1
    # — optimization r13, guide §2.5). The explicit width is the
    # session's shuffle-partition knob; collect_list partials
    # concatenate rather than reduce, so forgoing the partial
    # aggregate shuffles the same bytes.
    scored = skew.spread_for_compute(scored, "doc_id")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("logp")),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.count("*"),
            6,
        ).alias("avg_logp"),
    )


@query(
    "ctx_pack_sequences",
    refs="beyond:text",
    bench=True,
    pure_plan=True,
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
               - n_tokens AS global_offset
      FROM sized
    )
    SELECT doc_id, n_tokens, global_offset,
           global_offset // 256 AS first_seq,
           (global_offset + n_tokens - 1) // 256 AS last_seq
    FROM placed
    """,
)
def ctx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-then-chunk): every document
    gets its token offset in the concatenated corpus stream, mapping it
    to the 256-token training sequences it lands in. The naive plan — a
    global window cumsum — serializes the entire corpus through ONE
    task; instead the prefix sum is hierarchical: documents shard by
    contiguous id range, per-shard token totals aggregate into a
    shard-count-sized table whose own cumsum is trivially cheap, shard
    base offsets broadcast back, and the within-shard cumsum is a window
    partitioned BY SHARD — every stage is parallel, and the widest
    window state is one shard, not the corpus. Integer math throughout,
    so cross-engine equality is exact."""
    from ..functions.hashing import tokenize

    ctx = 256
    sized = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    placed = textops.pack_offsets(sized, "doc_id", "n_tokens", shard_size=1000)
    return placed.select(
        "doc_id",
        "n_tokens",
        "global_offset",
        F.floor(F.col("global_offset") / ctx).alias("first_seq"),
        F.floor((F.col("global_offset") + F.col("n_tokens") - 1) / ctx).alias(
            "last_seq"
        ),
    )


_REBALANCE_RATES = {"en": 30, "zh": 50}


@query(
    "samp_rebalance",
    refs="beyond:text,beyond:dedup",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 <
          CASE lang WHEN 'en' THEN 30 WHEN 'zh' THEN 50 ELSE 100 END
    """,
)
def samp_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus rebalancing: downsample over-represented
    languages (en to 30%, zh to 50%) by hashing the doc id — no RNG, no
    sampling state, so retries, backfills, and the oracle all agree on
    the kept set. One codegen scan; the filter pushes to the parquet
    scan's row groups when the id is a sort key."""
    keep = textops.rebalance_keep(
        F.col("doc_id"), F.col("lang"), _REBALANCE_RATES
    )
    return (
        _docs(spark, sf_dir)
        .filter(keep)
        .select("doc_id", "lang", "source")
    )


@query(
    "samp_domain_cap",
    refs="beyond:text,beyond:dedup",
    bench=True,
    pure_plan=True,
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             round(0.4 * (CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                          / greatest(len(text), 1))
                 + 0.4 * (CAST(len(list_intersect({_DTOKS}, [{_STOPS}])) AS DOUBLE)
                          / greatest(len({_DTOKS}), 1))
                 + 0.2 * least(n_chars / 500.0, 1.0), 6) AS quality
      FROM documents
    )
    SELECT doc_id, source, quality
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY source
                               ORDER BY quality DESC, doc_id) <= 10
    """,
)
def samp_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: keep the 10 highest-quality documents per source
    so no domain dominates the mix. The row_number filter compiles to
    WindowGroupLimit — the per-domain top-10 is taken map-side, so the
    shuffle moves at most cap rows per domain even when one domain holds
    a billion."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "source",
        textops.quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
    )
    return textops.domain_cap(
        scored, "source", F.col("quality"), "doc_id", cap=10
    )


@query(
    "samp_train_split",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 1000 < 10 THEN 'test'
                WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 1000 < 40 THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def samp_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (1%/3%/96% by id hash):
    every re-run and backfill puts each document in the same split, so
    eval sets stay stable while the corpus is re-curated. Pure codegen
    scan, no shuffle; hash the dup-cluster id instead of the doc id to
    make the split near-dup-safe."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        "lang",
        textops.train_split(F.col("doc_id")).alias("split"),
    )


@query(
    "samp_cluster_split",
    bench=True,
    refs="beyond:text,beyond:dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({minhash.minhash_lsh_dedup_sql(k=3, threshold=0.5)}) t
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (
        SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS split_key,
           CASE WHEN {h32_sql("CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)")}
                     % 1000 < 10 THEN 'test'
                WHEN {h32_sql("CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)")}
                     % 1000 < 40 THEN 'val'
                ELSE 'train' END AS split
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """,
)
def samp_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: hash the duplicate-CLUSTER
    id, not the doc id, so an entire near-dup cluster lands in one split
    and eval can never see a near-copy of a training document (the
    leakage guard web-scale dedup exists to enable). Cluster membership
    is usually duplicate-sized, but on an adversarial mostly-duplicate
    corpus it is corpus-sized (same reasoning as dd_dedup_final), so no
    broadcast hint is forced: AQE broadcasts when the runtime size is
    actually small and falls back to a shuffled hash join otherwise."""
    from ..operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    pairs = minhash.minhash_lsh_dedup(
        docs, "text", "doc_id", k=3, threshold=0.5
    ).select("doc_a", "doc_b")
    clusters = connected_components(pairs).select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    key = F.coalesce("cluster_id", "doc_id")
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            textops.train_split(key).alias("split"),
        )
    )


@query(
    "t_kmv_distinct",
    refs="beyond:text",
    oracle=sketch.kmv_distinct_sql(
        f"(SELECT lang, unnest({_TOKS}) AS tok FROM documents) s",
        ["lang"],
        "tok",
        k=64,
    ),
)
def t_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via a KMV sketch (k=64
    minimum h32 values), sketch-only: the rank<=k filter rides
    Catalyst's WindowGroupLimit so the group exchange carries at most k
    hashes per language no matter the vocabulary (exact counting is an
    opt-in debug flag, not the shipped path). KMV rather than HLL
    because the sketch is a pure function of the hash multiset —
    bit-identical in any engine sharing the hash, and mergeable by
    union+re-take-k (the property that makes it a distributed
    aggregate). The token stream is exploded once and never shuffled;
    only distinct (lang, hash) pairs move."""
    from ..functions.hashing import tokenize

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    return sketch.kmv_distinct(toks, ["lang"], F.col("tok"), k=64)


_QUALITY_SQL = f"""round(0.4 * (CAST(len(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                          / greatest(len(text), 1))
                 + 0.4 * (CAST(len(list_intersect({_DTOKS}, [{_STOPS}])) AS DOUBLE)
                          / greatest(len({_DTOKS}), 1))
                 + 0.2 * least(n_chars / 500.0, 1.0), 6)"""


@query(
    "samp_token_budget",
    refs="beyond:text",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - n_tokens AS prior_tokens
      FROM scored
    )
    SELECT doc_id, quality, n_tokens, prior_tokens
    FROM placed WHERE prior_tokens < 20000
    """,
)
def samp_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill the training mix to a 20k-token budget, best documents
    first: an exact global prefix-sum in (quality desc, doc_id) order
    with NO single-partition corpus stage — the quality value itself
    buckets the corpus (floor((1-q)*1000) is monotone in the sort
    order), per-bucket totals take the only tiny cumsum, and each
    bucket's window runs in parallel. The "cut the corpus to N tokens"
    operator every mix plan ends with."""
    from ..functions.hashing import tokenize

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        textops.quality_score(F.col("text"), F.col("n_chars")).alias("quality"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    kept = textops.token_budget_cap(
        scored, "quality", "n_tokens", "doc_id", budget=20000
    )
    return kept.select("doc_id", "quality", "n_tokens", "prior_tokens")


_MIX_WEIGHTS = {"en": 2.5, "zh": 0.5}


@query(
    "samp_mix_epochs",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id, lang, unnest(range(n_copies)) AS epoch
    FROM (
      SELECT doc_id, lang,
             CAST(floor(w) AS BIGINT)
             + CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100
                         < CAST((w - floor(w)) * 100 AS BIGINT)
                    THEN 1 ELSE 0 END AS n_copies
      FROM (SELECT doc_id, lang,
                   CASE lang WHEN 'en' THEN 2.5 WHEN 'zh' THEN 0.5
                        ELSE 1.0 END AS w
            FROM documents) t
    ) s
    WHERE n_copies > 0
    """,
)
def samp_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture weighting: English documents see ~2.5
    epochs (2 guaranteed + half the ids hash into a 3rd), Chinese is
    subsampled to ~0.5, everything else passes once. The fractional
    copy is a pure hash of the id — re-runs and backfills realize the
    IDENTICAL mixture. Row-local explode, no shuffle; output size is
    the realized token multiple."""
    docs = _docs(spark, sf_dir)
    return textops.mix_epochs(
        docs.select("doc_id", "lang"), "doc_id", "lang", _MIX_WEIGHTS
    ).select("doc_id", "lang", "epoch")


# NULL for zero-token docs (mirrors textops.fingerprint): no content,
# no identity claim
_FP_SQL = (
    f"CASE WHEN len({_TOKS}) > 0"
    f" THEN md5(array_to_string({_TOKS}, ' ')) END"
)
# NULL fingerprints are excluded from the held-out set: a NULL can't
# equality-join (Spark side), and a NULL inside an IN-list would turn
# every non-member's membership test into NULL instead of false (DuckDB)
_BENCH_SET = (
    f"(SELECT f FROM (SELECT {_FP_SQL} AS f FROM documents"
    f" WHERE {h32_sql('CAST(doc_id AS VARCHAR)')} % 10 = 0) b0"
    f" WHERE f IS NOT NULL) bench"
)


# Width SIZED to the build set, not the module default: the sf0.01 bench
# split is ~500 fingerprints, and at 2 probes/element a 16384-bit filter
# gives FPR ~= (1 - e^(-2*500/16384))^2 ~= 0.35% (a 4096-bit filter at
# the same load is ~5% and saturates entirely by ~10k elements — the
# SCALING.md saturation demo measures exactly that cliff).
_BLOOM_GATE_BITS = 16384


@query(
    "dd_bloom_gate",
    refs="beyond:dedup",
    oracle=f"""
    WITH bloom AS ({sketch.bloom_sql(_BENCH_SET, "f", bits=_BLOOM_GATE_BITS)})
    SELECT d.doc_id,
           coalesce({sketch.bloom_probe_sql("b.words", _FP_SQL, bits=_BLOOM_GATE_BITS)},
                    false) AS bloom_hit,
           coalesce(({_FP_SQL} IN (SELECT f FROM {_BENCH_SET})), false) AS exact_hit
    FROM documents d CROSS JOIN bloom b
    """,
)
def dd_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as a broadcast-Bloom gate: the held-out set's
    fingerprints aggregate into a portable Bloom filter sized to the
    set (~20 bits/element => <1% FPR at 2 probes; bit_or of at most
    bits/64 longs per partition — the shuffle is the filter, not the
    set), and the corpus probes it map-side: the semi-join against the
    held-out set becomes a pure scan filter. The exact membership bit
    is emitted alongside, so the one-sided error (bloom_hit >=
    exact_hit, never the reverse) is oracle-checked, not assumed. At
    100 TB the bloom rides the closure as kilobytes while a broadcast
    hash set of fingerprints is gigabytes."""
    from ..functions.hashing import h32

    docs = _docs(spark, sf_dir)
    fp = textops.fingerprint(F.col("text"))
    # NULL fingerprints (zero-token docs) can't be held-out members and
    # can't hit the filter: excluded from the build, coalesced to a
    # false probe — "no content => not contaminated" on both engines
    bench = (
        docs.filter(h32(F.col("doc_id").cast("string")) % 10 == 0)
        .select(fp.alias("f"))
        .filter(F.col("f").isNotNull())
    )
    bloom = sketch.bloom_build(bench, F.col("f"), bits=_BLOOM_GATE_BITS)
    exact = bench.distinct()
    out = (
        docs.select("doc_id", fp.alias("__fp"))
        .join(F.broadcast(bloom))
        .join(F.broadcast(exact), F.col("__fp") == F.col("f"), "left")
    )
    return out.select(
        "doc_id",
        F.coalesce(
            sketch.bloom_might_contain(
                F.col("words"), F.col("__fp"), bits=_BLOOM_GATE_BITS
            ),
            F.lit(False),
        ).alias("bloom_hit"),
        F.col("f").isNotNull().alias("exact_hit"),
    )


@query(
    "dd_passage_dedup",
    bench=True,
    pure_plan=True,
    refs="beyond:dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pas AS (
      SELECT doc_id,
             unnest(list_transform(range(CAST(ceil(len(t) / 12.0) AS BIGINT)),
                    i -> {{'pos': i,
                           'passage': array_to_string(
                               list_slice(t, i * 12 + 1, (i + 1) * 12), ' ')}}))
                 AS p
      FROM toks
    ),
    flat AS (SELECT doc_id, p.pos AS pos, p.passage AS passage FROM pas),
    own AS (
      SELECT doc_id, pos, passage,
             doc_id = min(doc_id) OVER (PARTITION BY {h32_sql('passage')})
                 AS keep
      FROM flat
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
               AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN passage END, ' '
                               ORDER BY pos), '') AS kept_text
    FROM own GROUP BY doc_id
    """,
)
def dd_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (passage) dedup — boilerplate removal: 12-token
    windows deduplicate ACROSS the corpus (a repeated header survives
    only in the lowest-id doc containing it), each doc reassembling from
    its surviving passages. Catches cross-doc repetition that whole-doc
    and near-dup passes both miss. One hash-keyed shuffle owns passages,
    one doc-keyed shuffle reassembles; passage text never shuffles for
    ownership — only its h32."""
    return textops.passage_dedup(
        _docs(spark, sf_dir), "text", "doc_id", passage_tokens=12
    )


@query(
    "t_char_entropy",
    refs="beyond:text",
    oracle=f"""
    SELECT doc_id, {textops.char_entropy_sql('text')} AS entropy_bits
    FROM documents
    """,
)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy (bits) — the compressibility
    quality proxy: repetitive machine text scores low, natural prose
    ~4.1. One codegen scan, replace()-based counting over a fixed
    alphabet (no char explode), natural-log fold in alphabet order on
    both engines."""
    return _docs(spark, sf_dir).select(
        "doc_id", textops.char_entropy(F.col("text")).alias("entropy_bits")
    )


_CMS_PROBES = list(textops.EN_STOPWORDS) + ["zzzqx"]


@query(
    "t_cms_heavy_hitters",
    refs="beyond:text,beyond:sketch",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS t FROM documents
    ),
    rs AS (SELECT unnest(range(4)) AS r),
    cms AS (
      SELECT r, {h32_sql("CAST(r AS VARCHAR) || ':' || t")} % 1024 AS cell,
             count(*) AS c
      FROM toks CROSS JOIN rs
      GROUP BY r, cell
    ),
    probes AS (
      SELECT unnest([{", ".join(f"'{p}'" for p in _CMS_PROBES)}]) AS token
    ),
    pcells AS (
      SELECT token, r,
             {h32_sql("CAST(r AS VARCHAR) || ':' || token")} % 1024 AS cell
      FROM probes CROSS JOIN rs
    ),
    est AS (
      SELECT p.token, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est_count
      FROM pcells p LEFT JOIN cms c ON c.r = p.r AND c.cell = p.cell
      GROUP BY p.token
    ),
    exact AS (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS exact_count
      FROM toks GROUP BY t
    )
    SELECT e.token, e.est_count, coalesce(x.exact_count, 0) AS exact_count
    FROM est e LEFT JOIN exact x ON x.token = e.token
    """,
)
def t_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketch.py): the
    corpus token stream folds into a 4x1024 counter table — at most
    4096 rows ever cross the exchange, however large the vocabulary —
    and probe tokens read min-over-rows estimates. The exact counts sit
    beside the estimates so the one-sided (over-)estimate is
    observable; 'zzzqx' probes a token that never occurs."""
    from ..functions.hashing import tokenize
    from ..operators.sketch import count_min_build, count_min_probe_cells

    toks = _docs(spark, sf_dir).select(
        F.explode(tokenize(F.col("text"))).alias("t")
    )
    cms = count_min_build(toks, "t", depth=4, width=1024)
    pcells = spark.createDataFrame(
        count_min_probe_cells(_CMS_PROBES, depth=4, width=1024),
        "token STRING, r LONG, cell LONG",
    )
    est = (
        pcells.join(cms, ["r", "cell"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est_count"))
    )
    exact = toks.filter(F.col("t").isin(_CMS_PROBES)).groupBy(
        F.col("t").alias("token")
    ).agg(F.count("*").cast("long").alias("exact_count"))
    return est.join(exact, "token", "left").select(
        "token",
        "est_count",
        F.coalesce(F.col("exact_count"), F.lit(0)).alias("exact_count"),
    )
