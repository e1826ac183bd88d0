"""Versioned parquet snapshot store — the MERGE target.

The reference's consumer target table (the "world model" the upsert
maintains, persistor.rb) maps to a lakehouse table we MERGE into. Delta
isn't available in this container, so this store implements the same
contract on plain parquet: versioned directories + an atomic pointer
file, merge = guarded_merge + full rewrite of the new version.

On a real cluster this class is swapped for ``DeltaTable.merge`` (or
Iceberg MERGE INTO): the transform logic (operators/merge.py) is
identical — only the physical commit differs. The rewrite here is
O(table) per batch, which is exactly the trade Delta's copy-on-write
makes per touched file; bounding it at scale is the log-structured
store of ROADMAP item 6 (base + delta versions), not a second layout.

The pointer file ``_CURRENT`` is one JSON object, replaced atomically
(written to ``_CURRENT.tmp``, then ``os.replace``d):

* ``version``: the directory of the live version.
* ``seq``: the commit sequence. Commit ``n`` writes the directory
  ``v_{n:010d}_{pid}``, so versions sort in commit order whatever the
  clock does, two commits never share a directory, and the older
  ``v{epoch ms}_{pid}`` names sort before every new one.
* ``schema``: the committed frame's schema (Spark JSON, every field
  nullable, as parquet reads it back). ``read`` hands it to the reader,
  which then launches no schema-inference job.

A pointer without ``seq`` or ``schema`` (written before they existed)
still reads: the sequence starts at 1 and the read infers the schema.
A pointer with ``buckets`` was written by the retired key-bucketed store;
every operation refuses it with ``ValueError`` (see ``_pointer_data``).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..operators.merge import guarded_merge


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema a
    parquet write stores (Spark writes file sources as nullable)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _listed_children(batch: DataFrame, parent_col: str, key: str) -> DataFrame:
    """J4: one row per parent the batch names, with every child key the
    batch lists for it (one micro-batch's worth, so broadcast)."""
    return F.broadcast(
        batch.groupBy(parent_col).agg(F.collect_set(key).alias("__listed"))
    )


class SnapshotStore:
    def __init__(self, path: str, key: str = "synced_id"):
        self.path = path
        self.key = key
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _pointer_data(self) -> dict:
        if not os.path.exists(self._pointer):
            return {}
        with open(self._pointer) as f:
            data = json.load(f)
        if "buckets" in data:
            # read as empty, the next merge would commit the batch alone
            # over the stored rows
            raise ValueError(
                f"{self._pointer} is a manifest of the retired key-bucketed store. "
                "Migrate it with SnapshotStore(new_path).overwrite(spark.read.parquet("
                "*dirs)), dirs being its 'buckets' entries joined to the store path."
            )
        return data

    def _swap_pointer(self, data: dict) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self._pointer)  # atomic pointer swap

    def _next_version(self) -> tuple[int, str]:
        seq = self._pointer_data().get("seq", 0) + 1
        return seq, f"v_{seq:010d}_{os.getpid()}"

    def current_version(self) -> str | None:
        return self._pointer_data().get("version")

    def read(self, spark: SparkSession) -> DataFrame | None:
        data = self._pointer_data()
        if "version" not in data:
            return None
        reader = spark.read
        if data.get("schema") is not None:
            reader = reader.schema(StructType.fromJson(data["schema"]))
        return reader.parquet(os.path.join(self.path, data["version"]))

    def overwrite(self, df: DataFrame) -> None:
        self._commit(df)

    def append(self, spark: SparkSession, df: DataFrame) -> None:
        """Accumulate rows (the dead-letter contract: every batch's
        rejects survive, across batches and within one batch's multiple
        reject paths)."""
        cur = self.read(spark)
        if cur is not None:
            df = cur.unionByName(df, allowMissingColumns=True)
        self.overwrite(df)

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        event_col: str = "event",
        source_updated: str = "synced_updated_at",
        target_updated: str = "synced_updated_at",
        canceled_col: str | None = "synced_canceled_at",
        order_tiebreak: str | None = None,
        parent_col: str | None = None,
    ) -> None:
        """Idempotent guarded MERGE of one (micro-)batch. Replaying a
        batch yields the same state (F1 guard + keep-latest), which is
        what makes foreachBatch at-least-once effectively exactly-once
        (SURVEY §2.10 T1).

        ``parent_col`` makes the batch authoritative for the child set
        of every parent it names (J4, persistor.rb:128-151's
        ``where.not(id: ids)``): in the same commit, a stored row is
        removed when its ``parent_col`` is one of the batch's parents,
        no batch row lists its (parent, key) pair, and its
        ``canceled_col`` is NULL. Canceled rows are kept as they are."""
        self._commit(
            self._merged(
                self.read(spark), batch, event_col, source_updated,
                target_updated, canceled_col, order_tiebreak, parent_col,
            )
        )

    def _merged(
        self,
        target: DataFrame | None,
        batch: DataFrame,
        event_col: str,
        source_updated: str,
        target_updated: str,
        canceled_col: str | None,
        order_tiebreak: str | None,
        parent_col: str | None,
    ) -> DataFrame:
        """The post-merge state ``merge`` commits."""
        # entities without soft-delete / update-timestamp columns degrade
        # gracefully (FIXTURES.md §4's column-less variants)
        if source_updated not in batch.columns:
            batch = batch.withColumn(source_updated, F.lit(None).cast("timestamp"))
        if target is None:
            # the first commit merges into an empty table (the optimizer
            # then drops the join)
            target = batch.drop(event_col).limit(0)
        merged = guarded_merge(
            target,
            batch,
            key=self.key,
            event_col=event_col,
            source_updated=source_updated,
            target_updated=target_updated,
            canceled_col=canceled_col if canceled_col in batch.columns else None,
            order_tiebreak=order_tiebreak,
        )
        if parent_col is None or parent_col not in merged.columns:
            return merged
        # J4 on the merged rows: a child the batch lists survives the
        # merge as usual; an unlisted child of a listed parent goes
        # unless the target's own row carries a canceled stamp
        listed = F.col("__listed")
        keep = listed.isNull() | F.coalesce(
            F.array_contains(listed, F.col(self.key)), F.lit(False)
        )
        if canceled_col in merged.columns:
            keep = keep | F.col(canceled_col).isNotNull()
        return (
            merged.join(_listed_children(batch, parent_col, self.key), parent_col, "left")
            .filter(keep)
            .select(*merged.columns)
        )

    def _commit(self, df: DataFrame) -> None:
        seq, version = self._next_version()
        df.write.mode("overwrite").parquet(os.path.join(self.path, version))
        self._swap_pointer(
            {
                "version": version,
                "seq": seq,
                "schema": _nullable(df.schema).jsonValue(),
            }
        )
        self._gc(keep=3)

    def _gc(self, keep: int) -> None:
        versions = sorted(
            d for d in os.listdir(self.path)
            if d.startswith("v") and os.path.isdir(os.path.join(self.path, d))
        )
        current = self.current_version()
        for d in versions[:-keep]:
            if d != current:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
