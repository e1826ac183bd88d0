"""Snapshot store commit and read contracts: the schema recorded in the
``_CURRENT`` pointer matches what parquet inference would return, a read
with it launches no Spark job, pointers without it still read, a pointer
of the retired key-bucketed store is refused, and version names come
from a sequence, not the clock."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dionysus_rb_spark.streaming.snapshot_store import SnapshotStore

NESTED = (
    "synced_id LONG, synced_updated_at TIMESTAMP, "
    "tags ARRAY<STRING>, "
    "dims STRUCT<w: DOUBLE, h: DOUBLE, at: TIMESTAMP>, "
    "lines ARRAY<STRUCT<id: LONG, at: TIMESTAMP, notes: ARRAY<STRING>>>, "
    "attrs MAP<STRING, BIGINT>"
)


def _nested(spark):
    t = datetime(2024, 1, 1, 10, 30)
    return spark.createDataFrame(
        [
            (1, t, ["a", None], (1.0, 2.0, t), [(7, t, ["x"])], {"k": 1}),
            (2, None, None, None, None, None),
        ],
        NESTED,
    )


def _recorded(store) -> StructType:
    with open(os.path.join(store.path, "_CURRENT")) as f:
        return StructType.fromJson(json.load(f)["schema"])


def _inferred(spark, store) -> StructType:
    return spark.read.parquet(os.path.join(store.path, store.current_version())).schema


def _versions(store) -> list[str]:
    return sorted(d for d in os.listdir(store.path) if d.startswith("v"))


def test_recorded_schema_equals_inferred_for_nested_types(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"))
    store.overwrite(_nested(spark))
    assert _recorded(store) == _inferred(spark, store)
    assert store.read(spark).schema == _inferred(spark, store)
    assert sorted(map(str, store.read(spark).collect())) == sorted(
        map(str, _nested(spark).collect())
    )


def test_recorded_schema_follows_a_widening_append(spark, tmp_path):
    """The dead-letter path widens the schema through
    ``allowMissingColumns``; the recorded schema follows it."""
    store = SnapshotStore(str(tmp_path / "dlq"))
    store.append(spark, spark.createDataFrame([("e", "v")], "event STRING, value STRING"))
    store.append(
        spark,
        spark.createDataFrame([("e2", "v2", 3)], "event STRING, value STRING, attempt INT"),
    )
    assert _recorded(store) == _inferred(spark, store)
    assert store.read(spark).columns == ["event", "value", "attempt"]
    assert sorted(tuple(r) for r in store.read(spark).collect()) == [
        ("e", "v", None),
        ("e2", "v2", 3),
    ]


def test_pointer_without_schema_still_reads(spark, tmp_path):
    """A ``_CURRENT`` written before the schema was recorded holds only
    ``{"version": ...}``: the read infers the schema, and the next commit
    continues from it."""
    store = SnapshotStore(str(tmp_path / "s"))
    store.overwrite(_nested(spark))
    legacy = "v1700000000000_1"
    os.rename(os.path.join(store.path, store.current_version()), os.path.join(store.path, legacy))
    with open(os.path.join(store.path, "_CURRENT"), "w") as f:
        json.dump({"version": legacy}, f)
    assert store.read(spark).schema == _inferred(spark, store)
    assert store.read(spark).count() == 2

    store.overwrite(store.read(spark).filter("synced_id = 1"))
    assert store.current_version() > legacy  # sorts after the legacy name
    assert [r["synced_id"] for r in store.read(spark).collect()] == [1]


@pytest.mark.parametrize("recorded", [True, False])
def test_read_launches_no_job_with_a_recorded_schema(spark, tmp_path, recorded):
    store = SnapshotStore(str(tmp_path / "s"))
    store.overwrite(_nested(spark))
    if not recorded:  # control: the inferring read is seen by the tracker
        version = store.current_version()
        with open(os.path.join(store.path, "_CURRENT"), "w") as f:
            json.dump({"version": version}, f)
    sc = spark.sparkContext
    group = f"snapshot-read-{recorded}"
    sc.setJobGroup(group, "snapshot store read")
    try:
        store.read(spark).columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert (len(jobs) == 0) == recorded, jobs


def test_legacy_bucketed_pointer_is_refused(spark, tmp_path):
    """A ``_CURRENT`` holding a ``buckets`` manifest (written by the
    retired key-bucketed store) is refused, not read as an empty store:
    a merge would otherwise commit the batch alone over the stored rows.
    The store is left as it was, and the migration the message names
    reads every stored row."""
    path = tmp_path / "b"
    _nested(spark).withColumn("__bucket", F.col("synced_id") % 2).write.partitionBy(
        "__bucket"
    ).parquet(str(path / "v_0000000001_1"))
    manifest = {"0": "v_0000000001_1/__bucket=0", "1": "v_0000000001_1/__bucket=1"}
    pointer = {"buckets": manifest, "seq": 1, "schema": _nested(spark).schema.jsonValue()}
    (path / "_CURRENT").write_text(json.dumps(pointer))
    store = SnapshotStore(str(path))
    batch = _nested(spark).limit(1).withColumn("event", F.lit("updated"))
    for op in (lambda: store.read(spark), lambda: store.merge(spark, batch)):
        with pytest.raises(ValueError, match=r"key-bucketed.*SnapshotStore\(new_path\)"):
            op()
    assert json.loads((path / "_CURRENT").read_text()) == pointer
    assert _versions(store) == ["v_0000000001_1"]

    migrated = SnapshotStore(str(tmp_path / "migrated"))
    migrated.overwrite(spark.read.parquet(*[str(path / d) for d in manifest.values()]))
    assert sorted(map(str, migrated.read(spark).collect())) == sorted(
        map(str, _nested(spark).collect())
    )


def test_commits_in_one_clock_tick_get_their_own_versions(spark, tmp_path, monkeypatch):
    """Two commits in the same millisecond used to share one version
    directory, and the second overwrote the live version it was reading.
    Versions now take a sequence from the pointer: each commit gets its
    own directory, the previous one stays readable until GC, and GC keeps
    the newest three."""
    import time

    monkeypatch.setattr(time, "time", lambda: 1_700_000_000.0)
    store = SnapshotStore(str(tmp_path / "s"))
    rows = "synced_id LONG, synced_updated_at TIMESTAMP, val STRING"
    t = datetime(2024, 1, 1)
    store.overwrite(spark.createDataFrame([(1, t, "a")], rows))
    first = store.current_version()
    store.overwrite(spark.createDataFrame([(1, t, "b")], rows))
    assert store.current_version() != first
    assert _versions(store) == [first, store.current_version()]
    old = spark.read.parquet(os.path.join(store.path, first))
    assert [r["val"] for r in old.collect()] == ["a"]

    # a merge reading the live version while committing the next one
    store.merge(
        spark,
        spark.createDataFrame([(1, t, "c", "updated")], rows + ", event STRING"),
    )
    assert [r["val"] for r in store.read(spark).collect()] == ["c"]
    for v in "def":
        store.overwrite(spark.createDataFrame([(1, t, v)], rows))
    assert len(_versions(store)) == 3
    assert _versions(store)[-1] == store.current_version()
    assert first not in _versions(store)
