"""Product quantization (PQ) for embedding columns — the compression
step between scalar int8 quantization (operators/similarity.py) and a
full ANN index: each vector becomes M sub-space code ids (here 8 codes
over a 64-dim vector = 8 bytes), and distance evaluation against a
query reduces to M table lookups.

Spark-first shape: the codebook is tiny (M*K sub-centroids) and known
before the encode, so it INLINES into the plan as literal arrays — the
encoder is a pure projection over one corpus scan: no join, no shuffle,
whole-stage codegen. That is the property that matters at 100 TB
(encode is a map job); training the codebook is the iterative part and
reuses the k-means machinery (operators/clustering.py) per sub-space.
Here the codebook is seeded deterministically from the K lowest-id
vectors' sub-vectors (the same seeding rule as emb_kmeans), keeping the
whole operator reproducible cross-engine.

All distance math is sequential left-folds in index order (identical in
DuckDB), sub-space sums are folded in fixed m-order, and argmin ties
break to the lowest code id — bit-reproducible end to end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import as_double, finite_vec, sane_vec


def _dlit(x: float) -> str:
    """Double literal for an expression string. ``repr`` is the shortest
    round-trip form and Spark's parser reads it back to the identical
    IEEE double (verified incl. 1e-20 / max-double / 17-digit forms)."""
    return f"{float(x)!r}D"


def _l2_sql(vec_sql: str, lits: list[float]) -> str:
    """Squared-L2 against a literal vector as a sequential left-fold
    (aggregate over zip_with, index order — DuckDB list_reduce order),
    assembled as ONE SQL expression string: building K x sub_len
    literals as ``F.lit`` Column objects costs a Py4J round trip each
    (~2.3 s of driver time per 8x8x5 ADC query — profiled round 4, same
    effect similarity.py measured for LSH planes), while one ``F.expr``
    parse is milliseconds. Identical Catalyst tree either way."""
    arr = ",".join(_dlit(x) for x in lits)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, d) -> acc + d)"
    )



def _finite_only(
    embeddings: DataFrame, vec_col: str, *, positive_norm: bool = False
) -> DataFrame:
    """Admission filter for PQ operators: vectors must be finite (one
    NaN element would otherwise flow into the driver-collected codebook
    or query literals and render as an unresolvable `nanD` SQL token;
    an Inf element turns every L2 into Inf/NaN and voids the argmin
    tie-break). ``positive_norm=True`` additionally drops zero-norm
    vectors for the cosine-metric coarse quantizer (ivfpq), where a
    zero vector has no defined cell. On well-formed corpora the filter
    passes every row, so results are unchanged (round-7 adversarial
    content fuzz)."""
    v = as_double(F.col(vec_col))
    return embeddings.filter(sane_vec(v) if positive_norm else finite_vec(v))


def seed_codebook(
    embeddings: DataFrame,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The K lowest-id vectors, as plain Python doubles (codebook-sized:
    collect here is hyperparameter-scale, not data-scale)."""
    rows = (
        _finite_only(embeddings, vec_col)
        .select(F.col(id_col).alias("i"), as_double(F.col(vec_col)).alias("v"))
        .orderBy("i")
        .limit(n_codes)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def seed_codebook_with_queries(
    embeddings: DataFrame,
    n_codes: int,
    query_ids: Sequence[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], dict[int, list[float]]]:
    """seed_codebook + the ADC query-vector lookup in ONE collect job.

    The ADC search path paid two eager driver jobs per run — the K
    lowest-id seed scan and the query-id filter scan — each a
    hyperparameter-sized collect whose cost is dominated by job
    submission latency, not data (optimization r13, guide §5: the
    driver should do almost no data work, and here it queued two jobs
    to fetch rows that fit in one). Both selections union under a tag
    column and collect together; rows are tagged, so no cross-branch
    ordering is relied on. Same admission filter (_finite_only), same
    values, same Python-side shapes as the two-call form.
    """
    base = _finite_only(embeddings, vec_col).select(
        F.col(id_col).alias("i"), as_double(F.col(vec_col)).alias("v")
    )
    seeds = base.orderBy("i").limit(n_codes).select(F.lit("s").alias("t"), "i", "v")
    queries = base.filter(F.col("i").isin(list(query_ids))).select(
        F.lit("q").alias("t"), "i", "v"
    )
    rows = seeds.unionAll(queries).collect()
    codebook = [
        list(r["v"]) for r in sorted(
            (r for r in rows if r["t"] == "s"), key=lambda r: r["i"]
        )
    ]
    qvecs = {r["i"]: list(r["v"]) for r in rows if r["t"] == "q"}
    return codebook, qvecs


def pq_encode(
    embeddings: DataFrame,
    codebook: list[list[float]],
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    literal_max_entries: int | None = None,
) -> DataFrame:
    """Encode each vector as ``n_sub`` code ids (csv string, portable)
    plus the reconstruction MSE. One map-only scan either way — no
    join, no shuffle — with the same size gate as :func:`pq_adc_topk`
    (``ADC_LITERAL_MAX_ENTRIES``): demo codebooks inline as literal
    arrays (pure whole-stage codegen), production codebooks (the
    argmin candidates are ``n_codes * dim`` literals — 16k+ doubles at
    64x256, which dominates plan analysis/codegen long before the data
    does) ride the task closure as one numpy (K, dim) array gathered
    by an Arrow-batched mapInPandas. Distance folds are sequential in
    index order in both paths, argmin ties break to the lowest code id,
    and rounding stays JVM-side, so the paths are bit-identical."""
    embeddings = _finite_only(embeddings, vec_col)
    if literal_max_entries is None:
        literal_max_entries = ADC_LITERAL_MAX_ENTRIES
    if n_sub * len(codebook) > literal_max_entries:
        return _pq_encode_arrow(embeddings, codebook, n_sub, id_col, vec_col)
    dim = len(codebook[0])
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
    )
    best = _best_codes_literal(base, codebook, n_sub)
    # fixed-order left fold over sub-spaces: ((d0+d1)+d2)+... — matches
    # the oracle's list_reduce in m order exactly
    mse_sql = "round(({}) / {}, 9)".format(
        " + ".join(f"__b{m}.d" for m in range(n_sub)), _dlit(float(dim))
    )
    csv_sql = "concat_ws(',', {})".format(
        ", ".join(f"CAST(__b{m}.k AS STRING)" for m in range(n_sub))
    )
    return best.select(
        "vec_id",
        F.expr(csv_sql).alias("codes_csv"),
        F.expr(mse_sql).alias("recon_mse"),
    )


def _best_codes_literal(
    base: DataFrame, codebook: list[list[float]], n_sub: int
) -> DataFrame:
    """Per-sub-space literal argmin over a frame carrying ``__v``
    (double vector): adds ``__b0..__b{n_sub-1}`` struct(d, k) columns —
    array_min over (d, k) structs is lexicographic, i.e. argmin with
    ties to the lowest code id.

    Let-bound shape (optimization r13): the old single projection
    inlined the ``slice(transform(vec, cast), ...)`` TEXT into every
    candidate's L2, so each sub-vector slice (and the cast of the whole
    vector) re-evaluated once per code — K x n_sub interpreted
    evaluations of the embedded tree per row, pure allocation churn
    (the profiler read 2.5 s of GC inside emb_pq_adc_topk's 9 s scan).
    Slices now bind once per row as ``__s{m}`` attributes and the
    candidates reference the attribute; every alias is non-cheap and
    multiply referenced, which is exactly the shape CollapseProject
    leaves alone. Same arithmetic per element, same fold order — codes
    and distances are bit-identical (pinned by the oracle and
    tests/test_pq_adc_paths.py)."""
    dim = len(codebook[0])
    sub_len = dim // n_sub
    sliced = base.select(
        "*",
        *[
            F.expr(f"slice(__v, {m * sub_len + 1}, {sub_len})").alias(f"__s{m}")
            for m in range(n_sub)
        ],
    )
    bests = []
    for m in range(n_sub):
        cands = ",".join(
            f"struct({_l2_sql(f'__s{m}', codebook[k][m * sub_len : (m + 1) * sub_len])}"
            f" AS d, {k}L AS k)"
            for k in range(len(codebook))
        )
        bests.append(F.expr(f"array_min(array({cands}))").alias(f"__b{m}"))
    return sliced.select(*base.columns, *bests)


def _pq_encode_arrow(
    embeddings: DataFrame,
    codebook: list[list[float]],
    n_sub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Codebook in the task closure, argmin in numpy over Arrow batches.
    Distance accumulation is a Python-level loop over dims (sequential
    index order, same as the literal path's fold — NOT numpy's pairwise
    reduce); np.argmin's first-minimum rule equals the literal path's
    (d asc, k asc) tie-break; MSE division+rounding happen JVM-side."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebook, dtype=np.float64)  # (K, dim)
    dim = cb.shape[1]
    sub_len = dim // n_sub

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf["__v"].to_numpy())  # (N, dim) float64
            n = vecs.shape[0]
            codes = []
            mse_sum = None
            for m in range(n_sub):
                sv = vecs[:, m * sub_len : (m + 1) * sub_len]
                csub = cb[:, m * sub_len : (m + 1) * sub_len]
                acc = np.zeros((n, cb.shape[0]))
                for d in range(sub_len):
                    diff = sv[:, d, None] - csub[None, :, d]
                    acc = acc + diff * diff
                k = np.argmin(acc, axis=1)
                dmin = acc[np.arange(n), k]
                codes.append(k)
                mse_sum = dmin if mse_sum is None else mse_sum + dmin
            csv = [",".join(map(str, row)) for row in np.stack(codes, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes_csv": csv,
                    "__mse_sum": mse_sum,
                }
            )

    base = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        as_double(F.col(vec_col)).alias("__v"),
    )
    out = base.mapInPandas(
        encode, "vec_id long, codes_csv string, __mse_sum double"
    )
    return out.select(
        "vec_id",
        "codes_csv",
        F.round(F.col("__mse_sum") / F.lit(float(dim)), 9).alias("recon_mse"),
    )


def pq_encode_sql(n_codes: int = 8, n_sub: int = 8, dim: int = 64) -> str:
    """DuckDB mirror: codebook re-derived in SQL (same K-lowest-id
    seeds), same index-order L2 folds, same m-order sum, same tie-break."""
    sub_len = dim // n_sub

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub_len + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
        )

    return f"""
    WITH base AS (
      -- PQ requires finite vectors (mirrors _finite_only): a NaN/Inf
      -- element would otherwise reach collected codebook/query
      -- literals and the L2 argmins
      SELECT vec_id, v FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) t_fin
      WHERE (len(v) > 0 AND
             list_aggregate(list_transform(v, x -> abs(x)), 'sum')
             < 'Infinity'::DOUBLE)
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k,
             v AS cv
      FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {n_codes}) s
    ),
    sub AS (
      SELECT vec_id, m, list_slice(v, m * {sub_len} + 1, (m + 1) * {sub_len}) AS sv
      FROM base CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    csub AS (
      SELECT k, m, list_slice(cv, m * {sub_len} + 1, (m + 1) * {sub_len}) AS csv
      FROM cents CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    best AS (
      SELECT vec_id, m, k, d FROM (
        SELECT s.vec_id, s.m, c.k, {l2('s.sv', 'c.csv')} AS d,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {l2('s.sv', 'c.csv')} ASC, c.k ASC)
                   AS rn
        FROM sub s JOIN csub c ON s.m = c.m) t
      WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), ',' ORDER BY m) AS codes_csv,
           round(list_reduce(list(d ORDER BY m), (x, y) -> x + y) / {dim}, 9)
               AS recon_mse
    FROM best
    GROUP BY vec_id
    """


# Per-query literal distance-table entries (n_sub * n_codes) above which
# pq_adc_topk switches from inlining the tables as plan literals to the
# Arrow-batched broadcast-table path. Measured (SCALING.md round 4,
# scoring stage isolated, 10k rows, |Q|=5): literal wins at 8x8=64
# entries (1.7s vs 2.9s — the pandas path's flat Arrow overhead), loses
# from 512 up (2.3s vs 0.5s), and at the production 64x256=16k shape the
# literal plan spends 45s in analysis/codegen vs 0.5s total for the
# broadcast path. The 256 that interpolation suggested was re-measured
# end-to-end in optimization r14 (tools/validation/adc_crossover_ab.py
# + an all-literal/all-arrow probe, 3 interleaved passes each):
#
#   rows    entries   all-literal  all-arrow   winner
#   20,000     64        0.36 s      0.59 s    literal (0.60x)
#   20,000    128        0.55 s      0.65 s    literal (0.86x)
#   20,000    256        1.03 s      0.67 s    ARROW   (1.54x)
#   200,000    64        1.89 s      1.23 s    ARROW   (1.54x)
#   200,000   128        2.51 s      1.42 s    ARROW   (1.77x)
#   200,000   256        5.54 s      0.98 s    ARROW   (5.65x)
#
# The demo-scale crossover sits between 128 and 256 — 256 kept the
# literal path at a shape where Arrow is already 1.5x faster — so the
# gate is 128, the largest entry count at which the literal path still
# measures a win at any scale. (The literal path's advantage is a
# SMALL-corpus property: at 200k rows Arrow wins at every shape, so
# production codebooks always take the Arrow path regardless of this
# constant.) Every catalog query uses 8x8 = 64 entries: under either
# value of the gate their plans are byte-identical.
ADC_LITERAL_MAX_ENTRIES = 128


def pq_adc_topk(
    embeddings: DataFrame,
    codebook: list[list[float]],
    query_ids: list[int],
    k: int = 10,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    literal_max_entries: int = ADC_LITERAL_MAX_ENTRIES,
    query_vecs: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query's
    distances to all M*K sub-centroids precompute into a table, so
    scoring a corpus vector is M lookups + a fixed-order fold — no
    vector math in the scan at all. The scan emits (query, cand, dist)
    and the per-query top-k prunes map-side (WindowGroupLimit). This is
    the search shape PQ exists for: the corpus is read as codes (32x
    less IO), and compute per row is O(M) regardless of dimension.

    Two physically different scoring paths, same result bit-for-bit:

    * ``n_sub * n_codes <= literal_max_entries`` (demo-sized codebooks):
      the tables inline as literal arrays — pure whole-stage-codegen
      projection, zero Python.
    * above the gate (production codebooks, e.g. 64x256 = 16k entries
      per query): the literal plan would carry |Q| x 16k literals and
      blow plan build/codegen time, so the tables ride the task closure
      as one numpy (|Q|, M, K) array instead and an Arrow-batched
      mapInPandas does the gather — still map-only, no shuffle before
      the top-k. The per-element math is identical: float64 adds in
      fixed m order, rounding applied JVM-side in both paths.
    """
    dim = len(codebook[0])
    sub_len = dim // n_sub
    embeddings = _finite_only(embeddings, vec_col)
    if query_vecs is not None:
        # caller pre-collected the query vectors (normally via
        # seed_codebook_with_queries, which shares the codebook scan's
        # collect job) — skip the second driver job
        qvecs = query_vecs
    else:
        qrows = (
            embeddings.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("i"), as_double(F.col(vec_col)).alias("v"))
            .collect()
        )
        qvecs = {r["i"]: list(r["v"]) for r in qrows}

    def l2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    # dtab[q][m][k]: distance from query q's m-th sub-vector to code k
    dtab = {
        q: [
            [
                l2(
                    qv[m * sub_len : (m + 1) * sub_len],
                    codebook[c][m * sub_len : (m + 1) * sub_len],
                )
                for c in range(len(codebook))
            ]
            for m in range(n_sub)
        ]
        for q, qv in qvecs.items()
    }

    if n_sub * len(codebook) <= literal_max_entries:
        # literal path: take the code ids straight off the let-bound
        # argmin structs — the old shape rendered them to a csv string
        # in pq_encode only to split it back into an array here (one
        # string build + parse per row for nothing; codes identical)
        base = embeddings.select(
            F.col(id_col).alias("cand_id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
        )
        enc = _best_codes_literal(base, codebook, n_sub).select(
            "cand_id",
            F.expr(
                "array({})".format(
                    ", ".join(f"__b{m}.k" for m in range(n_sub))
                )
            ).alias("codes"),
        )
        exploded = _adc_score_literal(enc, dtab, n_sub)
    else:
        enc = pq_encode(embeddings, codebook, n_sub, id_col, vec_col).select(
            F.col("vec_id").alias("cand_id"),
            F.split("codes_csv", ",").cast("array<long>").alias("codes"),
        )
        exploded = _adc_score_broadcast(enc, dtab, n_sub)
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("cand_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def _adc_score_literal(
    enc: DataFrame, dtab: dict[int, list[list[float]]], n_sub: int
) -> DataFrame:
    """Distance tables as plan literals: O(M) element_at lookups per
    (row, query), all inside whole-stage codegen. Assembled as ONE SQL
    expression string — per-literal ``F.lit`` construction was the
    dominant cost of the whole query at bench scale (~2.3 s of serial
    Py4J driver time vs ~0.5 s of actual execution, profiled round 4)."""
    per_query = []
    for q in sorted(dtab):
        # fixed m-order sum of table lookups (left-assoc +, same as SQL)
        terms = []
        for m in range(n_sub):
            arr = ",".join(_dlit(x) for x in dtab[q][m])
            terms.append(
                f"element_at(array({arr}), CAST(codes[{m}] + 1 AS INT))"
            )
        per_query.append(
            f"struct(CAST({int(q)} AS BIGINT) AS query_id,"
            f" ({' + '.join(terms)}) AS adist)"
        )
    return enc.select(
        "cand_id", F.expr(f"explode(array({', '.join(per_query)}))").alias("qd")
    ).select("qd.query_id", "cand_id", F.round("qd.adist", 9).alias("adist"))


def _adc_score_broadcast(
    enc: DataFrame, dtab: dict[int, list[list[float]]], n_sub: int
) -> DataFrame:
    """Distance tables as a closure-shipped numpy array, gathered by an
    Arrow-batched mapInPandas: the plan stays O(1) in codebook size (a
    64x256x|Q| float64 table is ~1 MB riding the task binary, vs ~16k
    literals PER QUERY in the plan). Sum order matches the literal path
    exactly — a Python-level loop over m accumulating float64 vectors,
    NOT numpy's pairwise-summing reduce — and rounding stays JVM-side."""
    import numpy as np
    import pandas as pd

    qids = sorted(int(q) for q in dtab)
    tab = np.asarray([dtab[q] for q in qids], dtype=np.float64)  # (Q, M, K)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (N, M) int64
            cands = pdf["cand_id"].to_numpy()
            for qi, q in enumerate(qids):
                acc = tab[qi, 0][codes[:, 0]]
                for m in range(1, n_sub):
                    acc = acc + tab[qi, m][codes[:, m]]
                yield pd.DataFrame(
                    {"query_id": q, "cand_id": cands, "adist": acc}
                )

    scored = enc.mapInPandas(
        score, "query_id long, cand_id long, adist double"
    )
    return scored.select("query_id", "cand_id", F.round("adist", 9).alias("adist"))


def pq_adc_topk_sql(
    query_ids: list[int], k: int = 10, n_codes: int = 8, n_sub: int = 8, dim: int = 64
) -> str:
    """DuckDB mirror: same codebook/codes CTEs as pq_encode_sql, the
    query distance table computed in SQL, same fixed m-order sum and
    (dist, cand_id) tie-break."""
    sub_len = dim // n_sub
    ids = ", ".join(map(str, query_ids))

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub_len + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
        )

    return f"""
    WITH base AS (
      -- PQ requires finite vectors (mirrors _finite_only): a NaN/Inf
      -- element would otherwise reach collected codebook/query
      -- literals and the L2 argmins
      SELECT vec_id, v FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) t_fin
      WHERE (len(v) > 0 AND
             list_aggregate(list_transform(v, x -> abs(x)), 'sum')
             < 'Infinity'::DOUBLE)
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cbk,
             v AS cv
      FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {n_codes}) s
    ),
    sub AS (
      SELECT vec_id, m, list_slice(v, m * {sub_len} + 1, (m + 1) * {sub_len}) AS sv
      FROM base CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    csub AS (
      SELECT cbk, m, list_slice(cv, m * {sub_len} + 1, (m + 1) * {sub_len}) AS csv
      FROM cents CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    codes AS (
      SELECT vec_id, m, cbk FROM (
        SELECT s.vec_id, s.m, c.cbk,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {l2('s.sv', 'c.csv')} ASC, c.cbk ASC)
                   AS rn
        FROM sub s JOIN csub c ON s.m = c.m) t
      WHERE rn = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id IN ({ids})
    ),
    dtab AS (
      SELECT q.query_id, q.m, c.cbk, {l2('q.qsv', 'c.csv')} AS dt
      FROM qsub q JOIN csub c ON q.m = c.m
    ),
    scored AS (
      SELECT d.query_id, co.vec_id AS cand_id,
             round(list_reduce(list(d.dt ORDER BY d.m), (x, y) -> x + y), 9)
                 AS adist
      FROM codes co JOIN dtab d ON d.m = co.m AND d.cbk = co.cbk
      GROUP BY d.query_id, co.vec_id
    )
    SELECT query_id, cand_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, cand_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


def train_codebook(
    embeddings: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> list[list[float]]:
    """One (or more) distributed Lloyd iterations per sub-space, L2
    metric. The sub-centroids are plain Python lists (codebook-sized),
    so assignment is the same MAP-ONLY literal argmin as
    :func:`pq_encode` — no join, no per-vector window, no K x N
    shuffle; the only distributed step per iteration is the
    dim-parallel sorted-fold mean (deterministic, like
    clustering._update), whose k*sub_len result is collected back. A
    cluster that loses all members keeps its seed sub-centroid, so the
    codebook stays rectangular. ``dim`` is required — no driver-side
    probe job; the schema owner knows the embedding width."""
    from pyspark.storagelevel import StorageLevel

    base = (
        _finite_only(embeddings, vec_col)
        .select(F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("__v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sub_len = dim // n_sub
    seed_rows = sorted(
        base.orderBy("vec_id").limit(n_codes).collect(), key=lambda r: r["vec_id"]
    )
    seeds_full = [list(r["__v"]) for r in seed_rows]
    codebook = [[0.0] * dim for _ in range(n_codes)]

    for m in range(n_sub):
        lo = m * sub_len
        # Stage the sub-vector slice: every Lloyd iteration (and the two
        # frames inside one — assignment and means) re-reads this frame,
        # and without staging each driver collect re-runs the slice
        # projection over the full corpus lineage. With it, iteration
        # N+1 starts from the materialized (sub_len)-wide column — the
        # round-to-round jitter source the round-3 bench surfaced.
        sub = base.select(F.slice("__v", lo + 1, sub_len).alias("__sv")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        seed_cents = [seeds_full[k][lo : lo + sub_len] for k in range(n_codes)]
        cents = seed_cents
        for _ in range(iters):
            # map-only literal argmin (pq_encode's shape): lexicographic
            # array_min over (dist, k) == ORDER BY d ASC, k ASC LIMIT 1
            cands = ",".join(
                f"struct({_l2_sql('__sv', cv)} AS d, {k}L AS k)"
                for k, cv in enumerate(cents)
            )
            assigned = sub.select(
                "__sv", F.expr(f"array_min(array({cands})).k").alias("__k")
            )
            cells = assigned.select("__k", F.posexplode("__sv").alias("__dim", "__x"))
            means = cells.groupBy("__k", "__dim").agg(
                (
                    F.aggregate(
                        F.array_sort(F.collect_list("__x")),
                        F.lit(0.0),
                        lambda a, b: a + b,
                    )
                    / F.count("*")
                ).alias("__m")
            )
            upd_df = means.groupBy("__k").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
                    lambda s: s["__m"],
                ).alias("__ucv")
            )
            # k * sub_len doubles: hyperparameter-scale collect; empty
            # clusters fall back to their SEED sub-centroid
            upd = {int(r["__k"]): list(r["__ucv"]) for r in upd_df.collect()}
            cents = [upd.get(k, seed_cents[k]) for k in range(n_codes)]
        sub.unpersist()
        for k in range(n_codes):
            codebook[k][lo : lo + sub_len] = cents[k]
    base.unpersist()
    return codebook


def pq_trained_sql(n_codes: int = 8, n_sub: int = 8, dim: int = 64) -> str:
    """DuckDB mirror of train_codebook(iters=1) + pq_encode: per
    sub-space, one assign/update round from the id-ordered seeds (empty
    clusters coalesce back to their seed), then final assignment; codes
    and the fixed m-order MSE fold come from joining the 8 per-sub-space
    best rows."""
    sub_len = dim // n_sub

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub_len + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
        )

    ctes = [
        """base AS (
      -- PQ requires finite vectors (mirrors _finite_only): a NaN/Inf
      -- element would otherwise reach collected codebook/query
      -- literals and the L2 argmins
      SELECT vec_id, v FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) t_fin
      WHERE (len(v) > 0 AND
             list_aggregate(list_transform(v, x -> abs(x)), 'sum')
             < 'Infinity'::DOUBLE)
    )"""
    ]
    for m in range(n_sub):
        lo, hi = m * sub_len + 1, (m + 1) * sub_len
        ctes.append(f"""sub{m} AS (
      SELECT vec_id, list_slice(v, {lo}, {hi}) AS sv FROM base
    )""")
        ctes.append(f"""seed{m} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k,
             sv AS cv
      FROM (SELECT vec_id, sv FROM sub{m} ORDER BY vec_id LIMIT {n_codes}) s
    )""")
        ctes.append(f"""asg{m} AS (
      SELECT vec_id, sv, k FROM (
        SELECT s.vec_id, s.sv, c.k,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {l2('s.sv', 'c.cv')} ASC, c.k ASC) AS rn
        FROM sub{m} s CROSS JOIN seed{m} c) t
      WHERE rn = 1
    )""")
        ctes.append(f"""upd{m} AS (
      SELECT k, list_transform(range(1, {sub_len + 1}), d ->
                 list_reduce(list_sort(list_transform(vs, x -> x[d])),
                             (a, b) -> a + b) / len(vs)) AS ucv
      FROM (SELECT k, list(sv) AS vs FROM asg{m} GROUP BY k) g
    )""")
        ctes.append(f"""cent{m} AS (
      SELECT s.k, coalesce(u.ucv, s.cv) AS cv
      FROM seed{m} s LEFT JOIN upd{m} u ON u.k = s.k
    )""")
        ctes.append(f"""best{m} AS (
      SELECT vec_id, k, d FROM (
        SELECT s.vec_id, c.k, {l2('s.sv', 'c.cv')} AS d,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {l2('s.sv', 'c.cv')} ASC, c.k ASC) AS rn
        FROM sub{m} s CROSS JOIN cent{m} c) t
      WHERE rn = 1
    )""")
    joins = " ".join(
        f"JOIN best{m} b{m} ON b{m}.vec_id = b0.vec_id" for m in range(1, n_sub)
    )
    codes = ", ".join(f"CAST(b{m}.k AS VARCHAR)" for m in range(n_sub))
    mse = " + ".join(f"b{m}.d" for m in range(n_sub))
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT b0.vec_id,
           concat_ws(',', {codes}) AS codes_csv,
           round(({mse}) / {dim}, 9) AS recon_mse
    FROM best0 b0 {joins}
    """


def ivfpq_topk(
    embeddings: DataFrame,
    codebook: list[list[float]],
    query_ids: list[int],
    k: int = 10,
    n_sub: int = 8,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC shape): coarse cells prune the corpus,
    PQ-ADC scores what survives — the production billion-vector index
    as one Spark plan.

    Everything hyperparameter-sized happens on the driver: the coarse
    quantizer (first ``n_centroids`` vectors, cosine metric) and the
    query vectors are collected, each query's ``nprobe`` cells are
    chosen in Python (|Q| x K dot products), and both the coarse
    argmax and the PQ codes inline as literals. The corpus side is ONE
    map-only scan: assign cell + encode codes + look up per-query ADC
    distances, gated by an ``isin(probed cells)`` filter that Catalyst
    pushes at the scan — on a corpus laid out partitioned-by-cell this
    becomes partition pruning, i.e. the scan itself shrinks by
    ~nprobe/n_centroids. Per-query top-k prunes map-side
    (WindowGroupLimit).

    This composed demo inlines codes + distance tables as literals —
    right for the oracle-checked 8x8 codebook it runs at. Past
    ``ADC_LITERAL_MAX_ENTRIES`` (production 64x256), compose the gated
    pieces instead: ``ivf_assign`` -> cell filter -> :func:`pq_encode`
    (Arrow path) -> :func:`pq_adc_topk`'s broadcast scorer."""
    from .similarity import ivf_assign

    dim = len(codebook[0])
    sub_len = dim // n_sub
    base = _finite_only(embeddings, vec_col, positive_norm=True).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    )
    coarse = sorted(
        (int(r[id_col]), list(r["__v"]))
        for r in base.filter(F.col(id_col) < n_centroids).collect()
    )
    qvecs = {
        int(r[id_col]): list(r["__v"])
        for r in base.filter(F.col(id_col).isin(query_ids)).collect()
    }

    def _cos(a: list[float], b: list[float]) -> float:
        # sequential left folds in index order — bit-identical to the
        # oracle's list_reduce and the Spark-side F.aggregate
        dot = 0.0
        for i in range(len(a)):
            dot += a[i] * b[i]
        na = 0.0
        nb = 0.0
        for x in a:
            na += x * x
        for x in b:
            nb += x * x
        return dot / ((na ** 0.5) * (nb ** 0.5))

    probes = {
        q: [
            cid
            for cid, _ in sorted(
                ((cid, _cos(qv, cv)) for cid, cv in coarse),
                key=lambda t: (-t[1], t[0]),
            )[:nprobe]
        ]
        for q, qv in qvecs.items()
    }
    allowed = sorted({c for cells in probes.values() for c in cells})

    assigned = ivf_assign(base, coarse, id_col).filter(
        F.col("cent_id").isin(allowed)
    )
    # same let-bound literal argmin as pq_encode (optimization r13):
    # the old shape inlined the slice(__v, ...) text per candidate
    enc = _best_codes_literal(
        assigned.select(F.col(id_col).alias("cand_id"), "cent_id", "__v"),
        codebook,
        n_sub,
    ).select(
        "cand_id",
        "cent_id",
        F.expr(
            "array({})".format(", ".join(f"__b{m}.k" for m in range(n_sub)))
        ).alias("codes"),
    )

    def l2(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    dtab = {
        q: [
            [
                l2(
                    qv[m * sub_len : (m + 1) * sub_len],
                    codebook[c][m * sub_len : (m + 1) * sub_len],
                )
                for c in range(len(codebook))
            ]
            for m in range(n_sub)
        ]
        for q, qv in qvecs.items()
    }
    per_query = []
    for q in sorted(dtab):
        terms = []
        for m in range(n_sub):
            arr = ",".join(_dlit(x) for x in dtab[q][m])
            terms.append(
                f"element_at(array({arr}), CAST(codes[{m}] + 1 AS INT))"
            )
        cells = ", ".join(str(int(c)) for c in probes[q])
        # CASE with no ELSE = NULL outside this query's probed cells
        per_query.append(
            f"struct(CAST({int(q)} AS BIGINT) AS query_id,"
            f" CASE WHEN cent_id IN ({cells})"
            f" THEN ({' + '.join(terms)}) END AS adist)"
        )
    exploded = (
        enc.select(
            "cand_id",
            F.expr(f"explode(array({', '.join(per_query)}))").alias("qd"),
        )
        .select("qd.query_id", "cand_id", F.round("qd.adist", 9).alias("adist"))
        .filter(F.col("adist").isNotNull() & (F.col("cand_id") != F.col("query_id")))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("cand_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def ivfpq_topk_sql(
    query_ids: list[int],
    k: int = 10,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> str:
    """DuckDB mirror of :func:`ivfpq_topk` with the seeded codebook:
    same coarse assignment/probe ordering (cos DESC, cent_id ASC), same
    codes and distance tables, same fixed m-order fold and tie-breaks."""
    from .similarity import cosine_sql

    sub_len = dim // n_sub
    ids = ", ".join(map(str, query_ids))

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub_len + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
        )

    assign_cos = cosine_sql("b.v", "c.ccv")
    probe_cos = cosine_sql("q.qv", "c.ccv")
    return f"""
    WITH base AS (
      -- the coarse quantizer is COSINE-metric, so ivfpq admits only
      -- sane vectors (finite AND norm > 0; mirrors the Spark side)
      SELECT vec_id, v FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings) t_fin
      WHERE (len(v) > 0
             AND list_aggregate(list_transform(v, x -> abs(x)), 'sum') > 0
             AND list_aggregate(list_transform(v, x -> abs(x)), 'sum')
                 < 'Infinity'::DOUBLE)
    ),
    coarse AS (
      SELECT vec_id AS cent_id, v AS ccv FROM base WHERE vec_id < {n_centroids}
    ),
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               row_number() OVER (PARTITION BY b.vec_id
                   ORDER BY {assign_cos} DESC, c.cent_id ASC) AS rn
        FROM base b CROSS JOIN coarse c) t
      WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN ({ids})),
    qprobe AS (
      SELECT query_id, cent_id FROM (
        SELECT q.query_id, c.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {probe_cos} DESC, c.cent_id ASC) AS rn
        FROM q CROSS JOIN coarse c) t
      WHERE rn <= {nprobe}
    ),
    cents AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cbk,
             v AS cv
      FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {n_codes}) s
    ),
    sub AS (
      SELECT vec_id, m, list_slice(v, m * {sub_len} + 1, (m + 1) * {sub_len}) AS sv
      FROM base CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    csub AS (
      SELECT cbk, m, list_slice(cv, m * {sub_len} + 1, (m + 1) * {sub_len}) AS csv
      FROM cents CROSS JOIN (SELECT unnest(range({n_sub})) AS m) ms
    ),
    codes AS (
      SELECT vec_id, m, cbk FROM (
        SELECT s.vec_id, s.m, c.cbk,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {l2('s.sv', 'c.csv')} ASC, c.cbk ASC)
                   AS rn
        FROM sub s JOIN csub c ON s.m = c.m) t
      WHERE rn = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id IN ({ids})
    ),
    dtab AS (
      SELECT qs.query_id, qs.m, c.cbk, {l2('qs.qsv', 'c.csv')} AS dt
      FROM qsub qs JOIN csub c ON qs.m = c.m
    ),
    scored AS (
      SELECT d.query_id, co.vec_id AS cand_id,
             round(list_reduce(list(d.dt ORDER BY d.m), (x, y) -> x + y), 9)
                 AS adist
      FROM codes co
      JOIN assigned a ON a.vec_id = co.vec_id
      JOIN qprobe p ON p.cent_id = a.cent_id
      JOIN dtab d ON d.query_id = p.query_id AND d.m = co.m AND d.cbk = co.cbk
      WHERE co.vec_id <> d.query_id
      GROUP BY d.query_id, co.vec_id
    )
    SELECT query_id, cand_id, adist,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY adist ASC, cand_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """
