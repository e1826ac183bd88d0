"""Consumer persist pipeline: wire batch -> canonical frames -> MERGE.

Batch-expressed equivalent of lib/dionysus/consumer/persistor.rb +
karafka_consumer_generator.rb: decode the envelope (D1), dispatch event
types (F8), deserialize to canonical per-entity frames (D2-D7), and
idempotently MERGE each into its snapshot store with the F1/F3 guards
(the store applies A1 keep-latest internally). Used directly for batch
backfills and as the foreachBatch body under Structured Streaming
(streaming/pipeline.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..consumer.deserializer import (
    DeserializerConfig,
    _sideload_fields,
    canonical_columns,
    deserialize,
)
from ..operators.events import dispatch_events, parse_event_name
from ..sources.envelope import decode_envelope
from ..streaming.snapshot_store import SnapshotStore


@dataclass
class EntitySink:
    store: SnapshotStore


@dataclass
class PersistResult:
    """What one ``persist_batch`` call offered to its sinks.

    ``persisted`` counts, per entity, the rows *offered* to that
    entity's MERGE (before keep-latest and the F1 guard), not the rows
    it applied. ``dead_letter_count`` counts the rows sent to the
    dead-letter store. Both come from one grouped count job."""

    persisted: dict[str, int] = field(default_factory=dict)
    dead_letter_count: int = 0


def persist_batch(
    spark: SparkSession,
    raw: DataFrame,
    snapshot_schema: StructType,
    entity: str,
    sinks: dict[str, EntitySink],
    cfg: DeserializerConfig | None = None,
    polymorphic_types: dict[str, list[str]] | None = None,
    dead_letter_store: SnapshotStore | None = None,
) -> PersistResult:
    """One micro-batch, end to end. ``raw`` carries a ``value`` column of
    envelope JSON (Kafka-shaped; NULL value = tombstone). Unknown event
    names go to the dead-letter store (T9, F4).

    J4 always applies to every has_many child entity with a sink: a
    parent's aggregate payload is authoritative for its child set, so
    stored children of the batch's parents that the payload no longer
    lists are deleted (persistor.rb:128-151's ``where.not(id: ids)``).
    The deletion happens inside the child's one MERGE (see
    ``SnapshotStore.merge``'s ``parent_col``), so every entity sink is
    merged exactly once per batch.

    The first batch into an empty sink takes the same guarded MERGE as
    every later one, against an empty table: a soft destroy of an unseen
    key inserts the canceled row, a hard destroy of one does nothing."""
    cfg = cfg or DeserializerConfig()
    result = PersistResult()

    has_key = "key" in raw.columns
    decoded = decode_envelope(
        raw, snapshot_schema, keep_cols=("key",) if has_key else ()
    )
    _, action = parse_event_name(F.col("event"))
    decoded = decoded.withColumn("__action", action).cache()
    try:
        known, unknown = dispatch_events(
            decoded.filter(F.col("record").isNotNull()), "__action"
        )
        # root frame: canonical columns + the event action driving the
        # created/updated/destroyed MERGE branches
        sideloads = set(_sideload_fields(snapshot_schema))
        root = known.select(
            F.col("__action").alias("event"),
            *canonical_columns(F.col("record"), snapshot_schema, entity, cfg, sideloads),
        )
        if has_key:
            # S10/T7 tombstones: NULL value under a "Model:id" key hard-
            # deletes through the same MERGE (tombstone_publisher.rb:4-21;
            # the delete branch fires because every payload column is NULL)
            id_type = snapshot_schema["id"].dataType
            tombs = raw.filter(
                F.col("value").isNull() & F.col("key").isNotNull()
            ).select(
                F.lit(None).cast(snapshot_schema).alias("record"),
                F.element_at(F.split("key", ":"), -1).cast(id_type).alias("__tomb_id"),
            )
            tomb_root = (
                tombs.select(
                    "__tomb_id",
                    F.lit("destroyed").alias("event"),
                    *canonical_columns(
                        F.col("record"), snapshot_schema, entity, cfg, sideloads
                    ),
                )
                .withColumn(cfg.synced_id, F.col("__tomb_id"))
                .drop("__tomb_id")
            )
            root = root.unionByName(tomb_root, allowMissingColumns=True)
        # the frames to MERGE, in order: (entity, frame, J4 parent column)
        merges: list[tuple[str, DataFrame, str | None]] = []
        if entity in sinks:
            merges.append((entity, root, None))
        for ent in deserialize(
            known, snapshot_schema, entity, cfg, polymorphic_types=polymorphic_types
        ):
            if ent.relationship == "root" or ent.entity not in sinks:
                continue
            frame = ent.frame.withColumn("event", F.lit("updated")).withColumnRenamed(
                "__parent_id", "synced_parent_id"
            )
            j4 = ent.relationship == "has_many"
            merges.append((ent.entity, frame, "synced_parent_id" if j4 else None))

        # ONE grouped count tallies every merged frame (tagged with its
        # entity) and the dead letters (tagged NULL). It runs first, so it
        # also fills the decoded cache the merges re-scan, and a zero
        # dead-letter count skips the dead-letter store's rewrite. An
        # Observation on the commit writes does deliver inside
        # foreachBatch on Spark 4.1.2 (ROADMAP "Measured at this
        # re-anchor"); replacing this count with it is ROADMAP item 4.
        tags = [f.select(F.lit(name).alias("__entity")) for name, f, _ in merges]
        dl = None
        if dead_letter_store is not None:
            # T9/F4 dead letters: unknown event names, plus payloads the
            # envelope parser rejected (non-null value, nothing decoded)
            dl = unknown.filter(F.col("event").isNotNull()).select("event", "value")
            corrupt = decoded.filter(
                F.col("record").isNull()
                & F.col("event").isNull()
                & F.col("value").isNotNull()
            ).select("event", "value")
            dl = dl.unionByName(corrupt)
            tags.append(dl.select(F.lit(None).cast("string").alias("__entity")))
        if tags:
            tally = tags[0]
            for t in tags[1:]:
                tally = tally.unionByName(t)
            for r in tally.groupBy("__entity").count().collect():
                if r["__entity"] is None:
                    result.dead_letter_count = int(r["count"])
                else:
                    result.persisted[r["__entity"]] = int(r["count"])

        if result.dead_letter_count:
            dead_letter_store.append(spark, dl)
        for name, frame, parent_col in merges:
            sinks[name].store.merge(spark, frame, parent_col=parent_col)
    finally:
        decoded.unpersist()
    return result
