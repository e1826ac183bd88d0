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
makes per touched file; partitioning the store by a stable key prefix
(``partition_by``) bounds the rewrite to touched partitions at scale.

The pointer file ``_CURRENT`` is one JSON object, replaced atomically
(written to ``_CURRENT.tmp``, then ``os.replace``d):

* ``version`` (``SnapshotStore``): the directory of the live version;
  ``buckets`` (``BucketedSnapshotStore``): bucket -> directory of that
  bucket's files.
* ``seq``: the commit sequence. Commit ``n`` writes the directory
  ``v_{n:010d}_{pid}``, so versions sort in commit order whatever the
  clock does, two commits never share a directory, and the older
  ``v{epoch ms}_{pid}`` names sort before every new one.
* ``schema``: the committed frame's schema (Spark JSON, every field
  nullable, as parquet reads it back). ``read`` hands it to the reader,
  which then launches no schema-inference job.

A pointer without ``seq`` or ``schema`` (written before they existed)
still reads: the sequence starts at 1 and the read infers the schema.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..operators.dedup import keep_latest
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
            return json.load(f)

    def _swap_pointer(self, data: dict) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self._pointer)  # atomic pointer swap

    def _next_version(self) -> tuple[int, str]:
        seq = self._pointer_data().get("seq", 0) + 1
        return seq, f"v_{seq:010d}_{os.getpid()}"

    @staticmethod
    def _read_parquet(spark: SparkSession, paths: list[str], schema: dict | None) -> DataFrame:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*paths)

    def current_version(self) -> str | None:
        return self._pointer_data().get("version")

    def read(self, spark: SparkSession) -> DataFrame | None:
        data = self._pointer_data()
        if "version" not in data:
            return None
        return self._read_parquet(
            spark, [os.path.join(self.path, data["version"])], data.get("schema")
        )

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
            # bootstrap: batch IS the initial state (minus destroys)
            first = keep_latest(
                batch, [self.key], source_updated,
                [order_tiebreak] if order_tiebreak else (),
            )
            return first.filter(F.col(event_col) != "destroyed").drop(event_col)
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


class BucketedSnapshotStore(SnapshotStore):
    """Key-bucketed snapshot store: MERGE cost ∝ touched buckets.

    The plain store rewrites the whole table per batch — Delta's
    copy-on-write trade at file granularity, here at table granularity.
    This variant hashes the merge key into ``num_buckets`` partitions;
    a batch only reads + rewrites the buckets its keys land in, and the
    manifest (bucket -> current file set) swaps atomically. With
    num_buckets sized so each bucket ≈ a Delta file group, this IS the
    bounded-rewrite behavior `MERGE INTO` gives on a lakehouse — per
    micro-batch cost tracks batch size, not table size, which is the
    property that keeps the consumer viable at 100 TB state.

    Note on co-location: plain parquet reads carry no bucketing metadata,
    so the merge join still exchanges the (touched-bucket subset of the)
    target. What this layout bounds is IO and rewrite volume; to also
    skip the target-side exchange on a cluster, register the store as a
    Hive-bucketed table (``bucketBy(n, key).saveAsTable``) or use a
    lakehouse MERGE — the transform logic here is unchanged either way.
    """

    def __init__(self, path: str, key: str = "synced_id", num_buckets: int = 16):
        super().__init__(path, key)
        self.num_buckets = num_buckets

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col(self.key)), self.num_buckets).cast("int")

    def _manifest(self) -> dict[str, str]:
        return self._pointer_data().get("buckets", {})

    def current_version(self) -> str | None:  # pragma: no cover - compat shim
        return "bucketed" if self._manifest() else None

    def read(self, spark: SparkSession, buckets: list[int] | None = None) -> DataFrame | None:
        data = self._pointer_data()
        manifest = data.get("buckets", {})
        wanted = (
            [str(b) for b in buckets if str(b) in manifest]
            if buckets is not None
            else list(manifest)
        )
        paths = [os.path.join(self.path, manifest[b]) for b in wanted]
        if not paths:
            return None
        return self._read_parquet(spark, paths, data.get("schema"))

    def overwrite(self, df: DataFrame) -> None:
        self._commit_buckets(df, touched=None)

    def _commit_buckets(self, df: DataFrame, touched: list[int] | None) -> None:
        """Write ``df`` partitioned by bucket into a new version dir and
        repoint only the affected manifest entries (all, if touched is
        None)."""
        seq, version = self._next_version()
        out = os.path.join(self.path, version)
        (
            df.withColumn("__bucket", self._bucket_expr())
            .repartition("__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(out)
        )
        written = {
            d.split("=", 1)[1]: os.path.join(version, d)
            for d in os.listdir(out)
            if d.startswith("__bucket=")
        }
        if touched is None:  # full replace
            manifest = written
        else:
            manifest = self._manifest()
            for b in {str(b) for b in touched}:
                if b in written:
                    manifest[b] = written[b]
                else:
                    manifest.pop(b, None)  # bucket fully deleted
        self._swap_pointer(
            {"buckets": manifest, "seq": seq, "schema": _nullable(df.schema).jsonValue()}
        )
        self._gc_unreferenced()

    def _gc_unreferenced(self, keep_newest: int = 2) -> None:
        """Remove version dirs no manifest entry references (each merge
        writes a new dir for its touched buckets; superseded dirs leak
        otherwise). The newest few unreferenced dirs are kept as a grace
        window for in-flight readers."""
        referenced = {p.split(os.sep, 1)[0] for p in self._manifest().values()}
        versions = sorted(
            d
            for d in os.listdir(self.path)
            if d.startswith("v") and os.path.isdir(os.path.join(self.path, d))
        )
        stale = [d for d in versions if d not in referenced]
        for d in stale[:-keep_newest] if keep_newest else stale:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

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
        # the touched buckets: those of the batch's keys and, under J4,
        # those of the stored children of the batch's parents (an
        # unlisted child may sit in a bucket no batch key lands in)
        buckets = batch.select(self._bucket_expr().alias("__b"))
        stored = self.read(spark) if parent_col is not None else None
        if stored is not None and parent_col in stored.columns:
            children = stored.join(
                _listed_children(batch, parent_col, self.key), parent_col, "left_semi"
            )
            buckets = buckets.unionByName(children.select(self._bucket_expr().alias("__b")))
        touched = [r["__b"] for r in buckets.distinct().collect()]
        merged = self._merged(
            self.read(spark, buckets=touched), batch, event_col, source_updated,
            target_updated, canceled_col, order_tiebreak, parent_col,
        )
        self._commit_buckets(merged, touched=touched)
