"""Hostile-driver-session portability: results must not depend on the
session confs the engine was handed.

The driver contract (`__spark_entry__.py`) receives an EXTERNAL
SparkSession the engine did not build — and whatever time zone, ANSI
mode, or shuffle sizing that session carries. Everything the queries'
semantics depend on must therefore be self-applied at load time
(`session.RUNTIME_CONFS`, set by ``tables.load_table`` on whatever
session it is given): session time zone (timestamp literals and
renderings are session-TZ-interpreted), ANSI mode (non-ANSI turns a
raising overflow cast into a silent NULL), and the nanos/NTZ parquet
read flags. Shuffle partitioning deliberately is NOT healed — results
are layout-invariant (tests/test_layout_invariance.py), so the
driver's sizing may stand.

This suite runs a semantically loaded query sample on a ``newSession()``
deliberately configured hostile (America/New_York, ANSI off, 3 shuffle
partitions) and requires oracle parity plus post-run proof that the
healable confs were healed.
"""

from __future__ import annotations

import pytest

from dionysus_rb_spark.plans import all_queries
from dionysus_rb_spark.session import RUNTIME_CONFS

from conftest import SF_DIR
from test_oracle_parity import _duck, _normalize, _values_equal

HOSTILE_CONFS = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.shuffle.partitions": "3",
}

# One query per semantic exposure class: timestamp gap arithmetic,
# timestamp ordering/tie-breaks, SCD2 validity windows, JSON-integer
# render windows + casts, float folds, and token/length stats.
SAMPLE = [
    "ev_sessionize",
    "a1_keep_latest_dedup",
    "cdc_scd2_history",
    "cs_changeset_from_versions",
    "emb_cosine_neardup",
    "t_token_stats",
]


@pytest.fixture(scope="module")
def hostile(spark):
    s = spark.newSession()
    for k, v in HOSTILE_CONFS.items():
        s.conf.set(k, v)
    return s


@pytest.mark.parametrize("name", SAMPLE)
def test_hostile_session_parity(hostile, name):
    qd = all_queries()[name]
    got = qd.fn(hostile, SF_DIR).toPandas()
    con = _duck(SF_DIR)
    want = con.execute(qd.oracle).df()
    con.close()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col].tolist(), w[col].tolist())):
            assert _values_equal(x, y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


def test_runtime_confs_healed(hostile):
    # Trigger the healing explicitly — this test must not depend on the
    # parity tests having run first (pytest -k / xdist isolation).
    from dionysus_rb_spark.tables import load_table

    load_table(hostile, SF_DIR, "region")
    # load_table must have re-applied every runtime conf on the hostile
    # session; the deliberately unmanaged conf stays the driver's.
    for k, v in RUNTIME_CONFS.items():
        assert hostile.conf.get(k) == v, f"{k} not healed on external session"
    assert hostile.conf.get("spark.sql.shuffle.partitions") == "3"


def test_extra_confs_cannot_override_runtime_confs():
    from dionysus_rb_spark.session import get_spark

    key = "spark.sql.session.timeZone"
    assert key in RUNTIME_CONFS
    with pytest.raises(ValueError, match=key):
        get_spark(extra_confs={key: "America/New_York", "spark.ui.enabled": "false"})
