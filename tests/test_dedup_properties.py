"""Property check: batch A2 (window lead) equals the reference's
sequential run-length collapse (duplicates_filter.rb:15-25 walks rows in
order, keeping the last row of each adjacent same-key run)."""

from __future__ import annotations

from itertools import groupby

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dionysus_rb_spark.operators.dedup import consecutive_dedup

row = st.tuples(
    st.sampled_from(["t1", "t2"]),            # ordering domain (topic)
    st.sampled_from(["A", "B", "C"]),         # dedup key (event kind)
    st.integers(0, 9),                         # resource id (second key col)
)


def reference_runs(rows):
    """Sequential model: per topic, in seq order, keep last of each run
    of equal (kind, rid)."""
    out = []
    by_topic: dict = {}
    for seq, (topic, kind, rid) in enumerate(rows):
        by_topic.setdefault(topic, []).append((seq, kind, rid))
    for topic, items in by_topic.items():
        for _, run in groupby(items, key=lambda r: (r[1], r[2])):
            out.append(max(run)[0])  # last seq of the run
    return sorted(out)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(row, min_size=0, max_size=25))
def test_consecutive_dedup_matches_sequential_model(spark, rows):
    df = spark.createDataFrame(
        [(i, t, k, r) for i, (t, k, r) in enumerate(rows)] or [],
        "seq LONG, topic STRING, kind STRING, rid LONG",
    )
    got = consecutive_dedup(
        df, ["kind", "rid"], "seq", partition_cols=["topic"]
    )
    assert sorted(r["seq"] for r in got.collect()) == reference_runs(rows)


def test_consecutive_dedup_reference_golden_case(spark):
    """The literal 9-record example from the reference's
    duplicates_filter_spec.rb: records keyed by (resource_class,
    resource_id, event_name, topic) in outbox order; only ADJACENT
    duplicates collapse and the LAST of each run is preserved, so the
    expected survivors are records 1,2,3,4,5,8,9 (6 and 7 are interior
    members of the 6-7-8 run)."""
    rows = [
        # (seq, resource_class, resource_id, event_name, topic)
        (1, "Booking", 1, "booking_created", "v102_bookings"),
        (2, "Booking", 1, "booking_created", "v103_bookings"),
        (3, "Booking", 2, "booking_created", "v102_bookings"),
        (4, "Booking", 2, "booking_updated", "v103_bookings"),
        (5, "Booking", 3, "booking_updated", "v103_bookings"),
        (6, "Booking", 2, "booking_updated", "v103_bookings"),
        (7, "Booking", 2, "booking_updated", "v103_bookings"),
        (8, "Booking", 2, "booking_updated", "v103_bookings"),
        (9, "Booking", 3, "booking_updated", "v103_bookings"),
    ]
    df = spark.createDataFrame(
        rows, "seq LONG, resource_class STRING, resource_id LONG, "
        "event_name STRING, topic STRING"
    )
    got = consecutive_dedup(
        df, ["resource_class", "resource_id", "event_name", "topic"], "seq"
    )
    assert sorted(r["seq"] for r in got.collect()) == [1, 2, 3, 4, 5, 8, 9]


def test_simhash_banding_finds_high_bit_diffs(spark):
    """The pre-round-5 single high-half block missed any pair whose
    differing bits touched the blocked half; pigeonhole banding must
    find every pair within the radius regardless of bit position —
    including diffs entirely in the top bits and an exhaustive sweep of
    every <=3-bit diff pattern spread across bands."""
    from dionysus_rb_spark.operators.simhash import simhash_pairs

    base = 0b1010_1100_0011_0101_1001_0110_1100_0011
    diffs = {
        10: base ^ (1 << 31),                         # top bit only
        11: base ^ (1 << 30) ^ (1 << 29),             # two high bits
        12: base ^ (1 << 31) ^ (1 << 15) ^ (1 << 0),  # spread across 3 bands
        13: base ^ (1 << 7) ^ (1 << 8) ^ (1 << 24),   # three bands again
        14: base ^ 0b1111,                            # 4 diffs -> outside radius
    }
    rows = [(1, base)] + list(diffs.items())
    fps = spark.createDataFrame(rows, "doc_id LONG, simhash LONG")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(fps, max_hamming=3, bands=4).collect()
    }
    for did in (10, 11, 12, 13):
        assert (1, did) in got, f"pair (1, {did}) within radius was missed"
    assert got[(1, 10)] == 1 and got[(1, 11)] == 2
    assert got[(1, 12)] == 3 and got[(1, 13)] == 3
    assert (1, 14) not in got


def test_simhash_wide_fingerprint_variant(spark):
    """The 60-bit corpus-scale variant (WIDE_BITS): identical texts
    collide exactly (hamming 0, always found); clearly different texts
    land far apart. Everything is md5-deterministic, so the assertion
    is stable, not probabilistic."""
    from dionysus_rb_spark.operators.simhash import (
        WIDE_BITS,
        simhash,
        simhash_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "completely unrelated legal boilerplate concerning maritime insurance claims"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fps = simhash(docs, "text", "doc_id", bits=WIDE_BITS)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[1] == vals[2]
    assert 0 <= vals[1] < (1 << WIDE_BITS)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(fps, max_hamming=3, bands=4, bits=WIDE_BITS).collect()
    }
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_minhash_cap_parity_when_a_bucket_saturates(spark, tmp_path):
    """The max_bucket drop must match the oracle WHEN IT ACTUALLY
    FIRES — no shipped corpus saturates a MinHash bucket (that needs
    >1000 near-identical docs sharing a band), so this builds one:
    1,200 identical documents (every band bucket holds all 1,200 —
    over the cap, zero pairs emitted) plus a handful of 2-doc dup
    groups that stay under the cap and must still pair up. Runs the
    full dd pipeline on Spark AND DuckDB over the same parquet and
    compares the verified pair sets exactly."""
    import duckdb

    from dionysus_rb_spark.operators.minhash import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_sql,
    )

    big = "identical flood document body shared by every member of the giant cluster"
    rows = [(i, big) for i in range(1200)]
    for g in range(5):  # small distinct dup pairs, under any cap
        t = f"unique pairwise duplicate text number {g} with enough words to shingle"
        rows += [(2000 + 2 * g, t), (2001 + 2 * g, t)]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "src0", pdf.text.str.len()
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    docs = spark.read.parquet(str(path))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = {
        (a, b)
        for a, b in con.execute(
            "SELECT doc_a, doc_b FROM (%s) t"
            % minhash_lsh_dedup_sql(threshold=0.5)
        ).fetchall()
    }
    con.close()
    assert got == want
    # the flood cluster emits NOTHING (every bucket over the cap)...
    assert not any(a < 1200 for a, _ in got)
    # ...and the small dup groups all survive banding + verification
    assert {(2000 + 2 * g, 2001 + 2 * g) for g in range(5)} <= got


def test_simhash_wide_banding_complete_vs_bruteforce(spark):
    """Randomized completeness check of the pigeonhole guarantee at 60
    bits: for 300 seeded random fingerprints, simhash_pairs(bands=4,
    max_bucket=None) must find EXACTLY the pairs a brute-force all-pairs
    hamming scan finds within radius 3 — no pair missed (completeness:
    <=3 differing bits cannot touch all 4 bands) and none invented
    (the xor+bit_count verify). Exercises the >32-bit shift/xor paths
    end to end on adversarially dense fingerprints (random longs plus
    planted <=3-bit perturbations)."""
    import random

    from dionysus_rb_spark.operators.simhash import WIDE_BITS, simhash_pairs

    rng = random.Random(606)
    fps = [rng.getrandbits(WIDE_BITS) for _ in range(200)]
    # planted near-pairs: flip 1..3 random bits of existing fingerprints
    for i in range(100):
        base = fps[rng.randrange(len(fps))]
        for _ in range(rng.randint(1, 3)):
            base ^= 1 << rng.randrange(WIDE_BITS)
        fps.append(base)
    rows = [(i, fp) for i, fp in enumerate(fps)]

    want = {
        (a, b, bin(fa ^ fb).count("1"))
        for a, fa in rows
        for b, fb in rows
        if a < b and bin(fa ^ fb).count("1") <= 3
    }
    df = spark.createDataFrame(rows, "doc_id LONG, simhash LONG")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(
            df, max_hamming=3, bands=4, max_bucket=None, bits=WIDE_BITS
        ).collect()
    }
    assert want, "fixture produced no in-radius pairs — no power"
    assert got == want


def test_ngram_jaccard_block_bound_semantics(spark, tmp_path):
    """Pins dd_ngram_jaccard's documented cost contract: the self-join
    is quadratic WITHIN a block and zero ACROSS blocks — a block of B
    identical docs emits exactly B*(B-1)/2 pairs, and identical docs in
    different source blocks are never compared (that's the documented
    trade: blocking bounds the join by the largest block's cardinality
    and forfeits cross-block recall, which the banded LSH paths keep)."""
    import pandas as pd

    from dionysus_rb_spark.plans import all_queries

    same = "identical body text repeated across both sources with many words"
    rows = [(i, "srcA", same) for i in range(8)]          # B=8 -> 28 pairs
    rows += [(100 + i, "srcB", same) for i in range(3)]   # B=3 -> 3 pairs
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    pdf["lang"], pdf["n_chars"] = "en", pdf.text.str.len()
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf.to_parquet(sf / "documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["dd_ngram_jaccard"].fn(spark, str(sf)).collect()
    }
    assert len(got) == 8 * 7 // 2 + 3 * 2 // 2
    # cross-block pairs absent despite identical text
    assert not any(a < 100 <= b for a, b in got)


def test_minhash_nondefault_cap_forwards_to_spark_side(spark, tmp_path):
    """ADVICE r5: minhash_lsh_dedup used to hard-code the default cap
    while its oracle took ``max_bucket``, so parity held only at the
    shared default. Now both sides take the knob: with max_bucket=None
    a 60-doc identical flood MUST pair up on both engines (1,770
    verified pairs), and with max_bucket=50 the same flood must emit
    nothing on both — exact pair-set comparison each way."""
    import duckdb
    import pandas as pd

    from dionysus_rb_spark.operators.minhash import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_sql,
    )

    big = "identical flood document body shared by every member of the cluster"
    rows = [(i, big) for i in range(60)]
    rows += [(200, "one distinct duplicate pair with enough words to shingle"),
             (201, "one distinct duplicate pair with enough words to shingle")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "src0", pdf.text.str.len()
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    docs = spark.read.parquet(str(path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    for cap in (None, 50):
        got = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_dedup(
                docs, threshold=0.5, max_bucket=cap
            ).collect()
        }
        want = {
            (a, b)
            for a, b in con.execute(
                "SELECT doc_a, doc_b FROM (%s) t"
                % minhash_lsh_dedup_sql(threshold=0.5, max_bucket=cap)
            ).fetchall()
        }
        assert got == want, f"max_bucket={cap}"
        flood_pairs = {p for p in got if p[0] < 60}
        assert len(flood_pairs) == (1770 if cap is None else 0)
        assert (200, 201) in got
    con.close()


def test_simhash_cap_parity_when_a_bucket_saturates(spark, tmp_path):
    """SimHash twin of the MinHash cap-fire test (the sf0.1 sweep found
    exactly this divergence on real data): 1,100 identical documents
    share one fingerprint, so all four band buckets saturate past
    max_bucket and must emit nothing on BOTH engines, while small dup
    pairs under the cap still come out. Exact pair-set comparison
    against the cap-aware oracle."""
    import duckdb
    import pandas as pd

    from dionysus_rb_spark.operators.simhash import simhash, simhash_pairs, simhash_sql

    big = "flood body repeated verbatim across the entire giant duplicate cluster"
    rows = [(i, big) for i in range(1100)]
    for g in range(4):
        t = f"small pair text number {g} that is distinct from the flood corpus"
        rows += [(2000 + 2 * g, t), (2001 + 2 * g, t)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "src0", pdf.text.str.len()
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    docs = spark.read.parquet(str(path))
    fps = simhash(docs, "text", "doc_id")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(fps, max_hamming=3, bands=4).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = set(
        map(tuple, con.execute(
            "SELECT doc_a, doc_b, hamming FROM (%s) t" % simhash_sql()
        ).fetchall())
    )
    con.close()
    assert got == want
    assert not any(a < 1100 for a, _, _ in got)  # flood bucket dropped
    assert {(2000 + 2 * g, 2001 + 2 * g, 0) for g in range(4)} <= got


def test_simhash_wide_cap_parity_when_a_bucket_saturates(spark, tmp_path):
    """Cap-fire parity for the CERTIFIED corpus-regime shape
    (bits=WIDE_BITS, the dd_simhash_wide query): identical docs share a
    fingerprint at any width, so an 1,100-doc flood saturates all four
    15-bit band buckets past max_bucket and must emit nothing on BOTH
    engines, while under-cap dup pairs still come out. Exact pair-set
    comparison against the bits-parameterized oracle — this is the test
    the 32-bit twin could not provide: it exercises the md5-prefix fold
    and the >32-bit vote masks (the int-literal shiftleft wrap bug hid
    exactly here) under cap pressure."""
    import duckdb
    import pandas as pd

    from dionysus_rb_spark.operators.simhash import (
        WIDE_BITS,
        simhash,
        simhash_pairs,
        simhash_sql,
    )

    big = "wide flood body repeated verbatim across the entire giant duplicate cluster"
    rows = [(i, big) for i in range(1100)]
    for g in range(4):
        t = f"small pair text number {g} that is distinct from the flood corpus"
        rows += [(2000 + 2 * g, t), (2001 + 2 * g, t)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "src0", pdf.text.str.len()
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    docs = spark.read.parquet(str(path))
    fps = simhash(docs, "text", "doc_id", bits=WIDE_BITS)
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(
            fps, max_hamming=3, bands=4, bits=WIDE_BITS
        ).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = set(
        map(tuple, con.execute(
            "SELECT doc_a, doc_b, hamming FROM (%s) t"
            % simhash_sql(bits=WIDE_BITS)
        ).fetchall())
    )
    con.close()
    assert got == want
    assert not any(a < 1100 for a, _, _ in got)  # flood bucket dropped
    assert {(2000 + 2 * g, 2001 + 2 * g, 0) for g in range(4)} <= got


def test_simhash_bits_validation(spark):
    """The bits knob rejects shapes the portable fold can't honor
    (ADVICE r6): >60 bits overflows the signed-int64 md5 fold (Spark's
    conv would return nulls while only the oracle raised), and
    bits % bands != 0 leaves the top bits unbanded, voiding pigeonhole
    completeness. All three entry points enforce the same contract."""
    import pytest as _pytest

    from dionysus_rb_spark.operators.simhash import (
        simhash,
        simhash_pairs,
        simhash_sql,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    fps = spark.createDataFrame([(1, 5)], "doc_id LONG, simhash LONG")
    with _pytest.raises(ValueError, match="1..60"):
        simhash(docs, "text", "doc_id", bits=64)
    with _pytest.raises(ValueError, match="1..60"):
        simhash(docs, "text", "doc_id", bits=0)
    with _pytest.raises(ValueError, match="divisible"):
        simhash_pairs(fps, bands=4, bits=30)
    with _pytest.raises(ValueError, match="divisible"):
        simhash_sql(bands=4, bits=30)
    with _pytest.raises(ValueError, match="1..60"):
        simhash_sql(bands=4, bits=64)


def test_simhash_32bit_token_hash_expression_unchanged(spark):
    """Dropping the h32 special case must not touch the certified
    32-bit plan: _token_hash(col, 32) builds the bit-identical
    expression h32(col) built (first 8 md5 hex digits, conv 16->10,
    cast long) — so dd_simhash / dd_simhash_wide stay certified."""
    from pyspark.sql import functions as F

    from dionysus_rb_spark.functions.hashing import h32
    from dionysus_rb_spark.operators.simhash import _token_hash

    c = F.col("t")
    assert repr(_token_hash(c, 32)) == repr(h32(c))


def test_simhash_narrow_width_cross_engine_parity(spark, tmp_path):
    """Widths in 1..31 — the regime ADVICE r6 flagged as silently
    broken (Spark voted on the LOW bits of the 8-digit h32 fold while
    the oracle folded only ceil(bits/4) HIGH-order digits). With the
    unified md5-prefix fold, a 16-bit/4-band run must produce the exact
    oracle pair set, near-dups included."""
    import duckdb
    import pandas as pd

    from dionysus_rb_spark.operators.simhash import (
        simhash,
        simhash_pairs,
        simhash_sql,
    )

    rows = []
    for g in range(40):
        base = f"narrow width parity group {g} with shared filler tokens alpha beta gamma"
        rows.append((2 * g, base))
        rows.append((2 * g + 1, base + (" extra" if g % 3 == 0 else "")))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "src0", pdf.text.str.len()
    path = tmp_path / "documents.parquet"
    pdf.to_parquet(path)

    docs = spark.read.parquet(str(path))
    fps = simhash(docs, "text", "doc_id", bits=16)
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(fps, max_hamming=3, bands=4, bits=16).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = set(
        map(tuple, con.execute(
            "SELECT doc_a, doc_b, hamming FROM (%s) t"
            % simhash_sql(bands=4, bits=16)
        ).fetchall())
    )
    con.close()
    assert got == want
    # identical-text pairs are hamming-0 at any width
    assert {(2 * g, 2 * g + 1, 0) for g in range(40) if g % 3 != 0} <= got


def test_delta_gate_semantics_pinned(spark):
    """Pinned contracts of the incremental dedup gate
    (minhash.delta_dedup_gate): an exact index dup is rejected with the
    right match count, a sub-threshold neighbor is admitted, zero-token
    docs are admitted, within-delta duplicates are NOT resolved (both
    admitted — dd_dedup_final's job), and the index-side bucket cap
    silences a degenerate bucket exactly like the batch pipeline."""
    from dionysus_rb_spark.operators.minhash import delta_dedup_gate

    base = "alpha0 beta1 gamma2 delta3 epsilon4 zeta5 eta6 theta7 iota8"
    rows_index = [
        (100, base),                     # exact content also in delta
        (101, base),                     # a second identical index doc
        (102, "totally different words here nothing shared at all ok"),
    ]
    rows_delta = [
        (1, base),                       # dup of 100 AND 101 -> rejected, 2 matches
        (2, "unrelated fresh document content goes right here friends"),
        (3, ""),                         # zero tokens -> admitted
        (4, "中文のみ"),                  # zero ASCII tokens -> admitted
        (5, "unrelated fresh document content goes right here friends"),
        # ^ within-delta dup of 2: BOTH admitted (not this gate's job)
    ]
    index = spark.createDataFrame(rows_index, "doc_id long, text string")
    delta = spark.createDataFrame(rows_delta, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_dup_matches"], r["kept"])
        for r in delta_dedup_gate(delta, index, threshold=0.5).collect()
    }
    assert got == {
        1: (2, 0),
        2: (0, 1),
        3: (0, 1),
        4: (0, 1),
        5: (0, 1),
    }

    # index-side bucket cap: shrink the cap below the identical-doc
    # bucket width and the dup sails through (the degenerate bucket
    # emits no candidates — mirroring the batch pipeline's drop)
    capped = {
        r["doc_id"]: r["kept"]
        for r in delta_dedup_gate(
            delta, index, threshold=0.5, max_bucket=1
        ).collect()
    }
    assert capped[1] == 1


def test_delta_gate_indexed_equals_inline(spark, tmp_path):
    """The persisted-index gate must be DECISION-IDENTICAL to the
    inline gate over the same corpus split — the index is an execution
    strategy, not a semantic — and the manifest owns the signature
    constants (a delta is always signed with the index's k/perms/seed)."""
    import json as _json

    from pyspark.sql import functions as F

    from dionysus_rb_spark.operators.minhash import (
        _INDEX_MANIFEST,
        build_dedup_index,
        delta_dedup_gate,
        delta_dedup_gate_indexed,
    )
    from conftest import SF_DIR

    from dionysus_rb_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    index = docs.filter(F.col("doc_id") % 4 != 0)

    idx = str(tmp_path / "idx")
    build_dedup_index(index, idx, "text", "doc_id", k=3)
    manifest = _json.loads((tmp_path / "idx" / _INDEX_MANIFEST).read_text())
    assert manifest == {
        "k": 3, "num_perm": 16, "bands": 4, "seed": 42, "epoch": 1,
    }

    inline = {
        r["doc_id"]: (r["n_dup_matches"], r["kept"])
        for r in delta_dedup_gate(
            delta, index, "text", "doc_id", k=3, threshold=0.5
        ).collect()
    }
    indexed = {
        r["doc_id"]: (r["n_dup_matches"], r["kept"])
        for r in delta_dedup_gate_indexed(
            delta, idx, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert indexed == inline
    # the query-time cap applies identically on the file-backed path
    capped = delta_dedup_gate_indexed(
        delta, idx, "text", "doc_id", threshold=0.5, max_bucket=1
    )
    assert capped.filter(F.col("kept") == 0).count() <= sum(
        1 for v in inline.values() if v[1] == 0
    )


def test_dedup_index_append_grows_and_validates(spark, tmp_path):
    """Index growth is incremental (gate -> admit -> append): appended
    docs are visible to the NEXT delta's gate, and an append signed
    with different constants is rejected BEFORE landing (mismatched
    band keys never collide, so it would silently blind every future
    gate to the appended docs)."""
    import pytest as _pytest

    from dionysus_rb_spark.operators.minhash import (
        build_dedup_index,
        delta_dedup_gate_indexed,
    )

    text = "alpha0 beta1 gamma2 delta3 epsilon4 zeta5 eta6 theta7 iota8"
    corpus = spark.createDataFrame(
        [(1, text), (2, "other words entirely unrelated to that one yes")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_dedup_index(corpus, idx, "text", "doc_id", k=3)

    batch = spark.createDataFrame(
        [(10, "completely fresh content never indexed before today")],
        "doc_id long, text string",
    )
    gated = delta_dedup_gate_indexed(batch, idx, "text", "doc_id", threshold=0.5)
    assert [r["kept"] for r in gated.collect()] == [1]  # admitted...
    build_dedup_index(batch, idx, "text", "doc_id", k=3, mode="append")

    # ...and now a re-delivery of the same content is rejected
    redelivery = spark.createDataFrame(
        [(20, "completely fresh content never indexed before today")],
        "doc_id long, text string",
    )
    again = delta_dedup_gate_indexed(
        redelivery, idx, "text", "doc_id", threshold=0.5
    )
    assert [(r["n_dup_matches"], r["kept"]) for r in again.collect()] == [(1, 0)]

    # mismatched constants are rejected before any data lands
    with _pytest.raises(ValueError, match="signature-parameter mismatch"):
        build_dedup_index(batch, idx, "text", "doc_id", k=4, mode="append")
    with _pytest.raises(ValueError, match="no index manifest"):
        build_dedup_index(
            batch, str(tmp_path / "nothere"), "text", "doc_id", mode="append"
        )


def _parquet_files(root: str) -> list[str]:
    import os

    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return sorted(out)


def test_dedup_index_file_counts_bounded(spark, tmp_path):
    """VERDICT r9 item 2: N appends must not stack N x
    shuffle-partition-count files. Each segment's relations are
    size-targeted (a small append lands ONE file per relation, not one
    per shuffle partition), and compact_dedup_index merges the segment
    pile into O(corpus/target) files — decisions unchanged."""
    import os

    from dionysus_rb_spark.operators.minhash import (
        build_dedup_index,
        compact_dedup_index,
        delta_dedup_gate_indexed,
    )

    def docs(lo, n):
        return spark.createDataFrame(
            [
                (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h")
                for i in range(lo, lo + n)
            ],
            "doc_id long, text string",
        )

    idx = str(tmp_path / "idx")
    build_dedup_index(docs(0, 40), idx, k=3)
    n_appends = 5
    for j in range(n_appends):
        build_dedup_index(docs(100 + 40 * j, 40), idx, k=3, mode="append")

    seg_root = os.path.join(idx, "segments")
    segs = sorted(os.listdir(seg_root))
    assert len(segs) == 1 + n_appends
    for s in segs:
        # size-targeted writes: one bounded file per relation per
        # segment (rows are far under the per-file targets), never the
        # session's shuffle-partition count
        assert len(_parquet_files(os.path.join(seg_root, s, "bands"))) == 1
        assert len(_parquet_files(os.path.join(seg_root, s, "shingles"))) == 1

    probe = docs(0, 40).unionByName(docs(100, 40)).unionByName(docs(5000, 10))
    with delta_dedup_gate_indexed(probe, idx, threshold=0.5) as d:
        before = sorted(map(tuple, d.collect()))

    # reclaim_grace=0: this test asserts the IMMEDIATE file-count
    # hygiene; the grace-period (concurrent-gate-safe) variant is
    # covered by test_index_maintenance_concurrency.py
    compact_dedup_index(spark, idx, reclaim_grace=0.0)
    segs = sorted(os.listdir(seg_root))
    assert len(segs) == 1
    # O(corpus/target), not O(N appends): all rows fit one target file
    assert len(_parquet_files(os.path.join(seg_root, segs[0], "bands"))) == 1
    assert len(_parquet_files(os.path.join(seg_root, segs[0], "shingles"))) == 1
    with delta_dedup_gate_indexed(probe, idx, threshold=0.5) as d:
        assert sorted(map(tuple, d.collect())) == before


def test_index_marker_doc_counts_drive_scan_shape(spark, tmp_path):
    """Segment commit markers carry n_docs so the gate's scan-shape
    pick reads a few bytes instead of running a count job: the open
    helper sums LIVE segments' counts, appends add to the sum,
    compaction preserves it, and a legacy marker without the field
    makes the total read as unknown (None) — which, like a small known
    total, defaults the gate to the measured-faster full scan."""
    import json
    import os

    from dionysus_rb_spark.operators.minhash import (
        _open_dedup_index,
        build_dedup_index,
        compact_dedup_index,
    )

    def docs(lo, n):
        return spark.createDataFrame(
            [
                (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h")
                for i in range(lo, lo + n)
            ],
            "doc_id long, text string",
        )

    idx = str(tmp_path / "idx")
    build_dedup_index(docs(0, 40), idx, k=3)
    assert _open_dedup_index(spark, idx)[3] == 40
    build_dedup_index(docs(100, 25), idx, k=3, mode="append")
    assert _open_dedup_index(spark, idx)[3] == 65
    compact_dedup_index(spark, idx, reclaim_grace=0.0)
    assert _open_dedup_index(spark, idx)[3] == 65

    # legacy marker (pre-n_docs writer): total degrades to unknown
    seg_root = os.path.join(idx, "segments")
    (seg,) = os.listdir(seg_root)
    marker = os.path.join(seg_root, seg, "_seg_commit.json")
    meta = json.loads(open(marker).read())
    del meta["n_docs"]
    with open(marker, "w") as f:
        f.write(json.dumps(meta))
    # the writer used Hadoop's checksummed local FS; drop the stale
    # .crc sidecar so the reader sees the edited marker, not a
    # checksum mismatch
    crc = os.path.join(seg_root, seg, "._seg_commit.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert _open_dedup_index(spark, idx)[3] is None


def test_indexed_gate_prune_paths_are_decision_identical(spark, tmp_path):
    """VERDICT r9 item 3: the candidate-id pruned shingle scan is an
    I/O strategy, not a semantic — decisions must be identical with the
    default shape (full scan at this index size: the auto pick reads
    the markers' doc counts against PRUNE_MIN_INDEX_DOCS), the probe
    pinned on (prune_min_index_docs=0), the probe forced into overflow
    fallback (prune_max_ids smaller than the candidate set), and
    disabled (None); and a no-candidate delivery (nothing bands) admits
    everything through the empty-prune branch."""
    from pyspark.sql import functions as F

    from dionysus_rb_spark.operators.minhash import (
        build_dedup_index,
        delta_dedup_gate,
        delta_dedup_gate_indexed,
    )
    from dionysus_rb_spark.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    index = docs.filter(F.col("doc_id") % 4 != 0)
    idx = str(tmp_path / "idx")
    build_dedup_index(index, idx, "text", "doc_id", k=3)

    def result(**kw):
        with delta_dedup_gate_indexed(
            delta, idx, "text", "doc_id", threshold=0.5, **kw
        ) as d:
            return sorted(map(tuple, d.collect()))

    with delta_dedup_gate(
        delta, index, "text", "doc_id", k=3, threshold=0.5
    ) as d:
        inline = sorted(map(tuple, d.collect()))
    assert result() == inline  # auto shape (full scan at this size)
    assert result(prune_min_index_docs=0) == inline  # probe pinned on
    # overflow -> full scan without collecting
    assert result(prune_min_index_docs=0, prune_max_ids=1) == inline
    assert result(prune_max_ids=None) == inline  # probe disabled

    # a delivery that shares no shingles with anything: zero candidates,
    # the pruned loader takes its empty branch, everyone admits
    fresh = spark.createDataFrame(
        [(7_000_001, "qqq www eee rrr ttt yyy uuu iii ooo ppp")],
        "doc_id long, text string",
    )
    with delta_dedup_gate_indexed(
        fresh, idx, "text", "doc_id", threshold=0.5, prune_min_index_docs=0
    ) as d:
        assert [(r["n_dup_matches"], r["kept"]) for r in d.collect()] == [
            (0, 1)
        ]


def test_gate_decision_release_unpersists(spark):
    """GateDecision.release() must free every relation the gate pinned
    (ADVICE r9 item 2): back-to-back per-delivery gates otherwise
    accumulate session-lifetime persisted frames. Measured against the
    JVM's persistent-RDD registry, relative to the session's baseline."""
    from dionysus_rb_spark.operators.minhash import delta_dedup_gate

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = "alpha0 beta1 gamma2 delta3 epsilon4 zeta5 eta6 theta7 iota8"
    index = spark.createDataFrame([(1, base)], "doc_id long, text string")
    delta = spark.createDataFrame([(10, base)], "doc_id long, text string")

    before = n_persistent()
    decision = delta_dedup_gate(delta, index, threshold=0.5)
    assert [r["kept"] for r in decision.collect()] == [0]
    assert n_persistent() > before, "gate should have pinned its shingles"
    decision.release()
    assert n_persistent() == before
    decision.release()  # idempotent
    assert n_persistent() == before


def test_width_sidecar_cap_is_decision_identical_and_sheds_window(
    spark, tmp_path
):
    """VERDICT r10 item 2: the bucket cap resolved from per-segment
    band-width sidecars is an execution strategy, not a semantic —
    decisions must equal the count-window shape across cap values and
    segment counts (single segment, multi-segment with cross-segment
    width sums, and post-compaction), and the sidecar plan must carry
    NO Window node (the window was the gate's only corpus-wide
    exchange in the broadcast-delta regime)."""
    from pyspark.sql import functions as F

    from dionysus_rb_spark.operators.minhash import (
        build_dedup_index,
        compact_dedup_index,
        delta_dedup_gate_indexed,
    )
    from dionysus_rb_spark.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    index = docs.filter(F.col("doc_id") % 4 != 0)
    idx = str(tmp_path / "idx")
    # two segments: widths for a band key straddling both must SUM
    build_dedup_index(index.filter(F.col("doc_id") % 8 == 1), idx, k=3)
    build_dedup_index(
        index.filter(F.col("doc_id") % 8 != 1), idx, k=3, mode="append"
    )

    def result(**kw):
        with delta_dedup_gate_indexed(
            delta, idx, "text", "doc_id", threshold=0.5, **kw
        ) as d:
            return sorted(map(tuple, d.collect()))

    # cap=1 exercises the over-cap branch hard (most buckets dropped),
    # cap=2 exercises cross-segment sums, default exercises the common
    # nothing-over-cap shape; each must match the window fallback
    for cap in (1, 2, 1000):
        assert result(max_bucket=cap) == result(
            max_bucket=cap, use_width_sidecars=False
        ), f"sidecar cap diverged from window cap at max_bucket={cap}"
    assert result(max_bucket=None) == result(
        max_bucket=None, use_width_sidecars=False
    )

    # plan shape: sidecar path has no Window; fallback has one
    with delta_dedup_gate_indexed(delta, idx, threshold=0.5) as d:
        sidecar_plan = d.df._jdf.queryExecution().executedPlan().toString()
    with delta_dedup_gate_indexed(
        delta, idx, threshold=0.5, use_width_sidecars=False
    ) as d:
        window_plan = d.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in sidecar_plan, (
        "sidecar cap must not run a count window over live band rows"
    )
    assert "Window" in window_plan  # the fallback really is the window

    # post-compaction single segment: the zero-shuffle width filter
    compact_dedup_index(spark, idx, reclaim_grace=0.0)
    for cap in (1, 1000):
        assert result(max_bucket=cap) == result(
            max_bucket=cap, use_width_sidecars=False
        )

    # legacy index (pre-sidecar segment): auto-fallback to the window,
    # same decisions
    import shutil

    seg_root = tmp_path / "idx" / "segments"
    (seg,) = [s for s in seg_root.iterdir() if s.is_dir()]
    shutil.rmtree(seg / "band_widths")
    legacy = result(max_bucket=2)
    assert legacy == result(max_bucket=2, use_width_sidecars=False)


def test_segment_tag_exclusion_is_exact_not_suffix(spark, tmp_path):
    """Tags may contain '-', so segment e1-append-x-append-b ends with
    '-append-b': a suffix-based exclude_segment_tag='b' (or
    protect_segment_tags=['b']) would drop/shield that UNRELATED
    segment too — blinding the gate to its docs (duplicates re-admit)
    or wrongly sparing it from compaction. Both matches must be the
    exact e<epoch>-append-<tag> name."""
    import os

    from dionysus_rb_spark.operators.minhash import (
        build_dedup_index,
        compact_dedup_index,
        delta_dedup_gate_indexed,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha0 beta1 gamma2 delta3 epsilon4 zeta5 eta6 theta7 iota8")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_dedup_index(corpus, idx, k=3)
    committed = "committed text living in the dash-named appended segment"
    build_dedup_index(
        spark.createDataFrame([(10, committed)], "doc_id long, text string"),
        idx,
        k=3,
        mode="append",
        segment_tag="x-append-b",
    )

    # gate excluding tag 'b' (whose segment does not exist) must STILL
    # see segment x-append-b: the duplicate of its doc is rejected
    dec = delta_dedup_gate_indexed(
        spark.createDataFrame([(20, committed)], "doc_id long, text string"),
        idx,
        threshold=0.5,
        exclude_segment_tag="b",
    )
    try:
        got = {(r["doc_id"], r["kept"]) for r in dec.collect()}
    finally:
        dec.release()
    assert got == {(20, 0)}, (
        "excluding tag 'b' must not blind the gate to segment "
        f"'x-append-b': {got}"
    )

    # compaction protecting tag 'b' must still absorb x-append-b
    compact_dedup_index(spark, idx, protect_segment_tags=["b"])
    segs = os.listdir(os.path.join(idx, "segments"))
    live_appends = [
        s
        for s in segs
        if "x-append-b" in s
        and os.path.exists(
            os.path.join(idx, "segments", s, "_seg_commit.json")
        )
    ]
    # the segment may linger on disk (grace reclaim) but must be
    # superseded: the compacted segment is now the single live one
    from dionysus_rb_spark.operators.minhash import (
        _list_segments,
        _live_segments,
        _read_index_manifest,
    )

    live = _live_segments(
        _list_segments(spark, idx),
        _read_index_manifest(spark, idx)["epoch"],
    )
    assert len(live) == 1 and "-compact-" in live[0], (
        f"protecting tag 'b' must not shield 'x-append-b': {live}"
    )
