"""Full-cycle CDC integration: a change log with pre/post images flows
through the producer (F2 soft-delete classification -> registry
responder -> envelope) into files, then through the streaming consumer
(D1-D7 + guarded MERGE) — the final snapshot must equal the source
table's visible end state. This is the engine's analogue of the
reference's spec/integration_spec.rb produce->consume roundtrip."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from dionysus_rb_spark.consumer.persistor import EntitySink
from dionysus_rb_spark.registry import ProducerRegistry, PublicationDecl
from dionysus_rb_spark.streaming.pipeline import run_consumer_stream
from dionysus_rb_spark.streaming.snapshot_store import SnapshotStore

RENTAL = StructType(
    [
        StructField("id", LongType()),
        StructField("updated_at", StringType()),
        StructField("canceled_at", StringType()),
        StructField("price", DoubleType()),
        StructField("account_id", LongType()),
    ]
)

# change log rows: (seq, id, price, canceled_at, account_id) — seq is the
# commit order; canceled transitions drive the F2 state machine
CHANGELOG = [
    (1, 1, 100.0, None, 10),       # create 1
    (2, 2, 200.0, None, 20),       # create 2
    (3, 1, 110.0, None, 10),       # update 1
    (4, 2, 200.0, "2024-01-04 00:00:00", 20),  # soft-delete 2
    (5, 3, 300.0, None, 30),       # create 3
    (6, 2, 200.0, None, 20),       # restore 2 -> created again
    (7, 3, 310.0, None, 30),       # update 3
    (8, 1, 100.0, "2024-01-08 00:00:00", 10),  # soft-delete 1
]


def test_cdc_full_roundtrip(spark, tmp_path):
    log = spark.createDataFrame(
        CHANGELOG, "seq LONG, id LONG, price DOUBLE, canceled_at STRING, account_id LONG"
    ).withColumn(
        "updated_at",
        F.date_format(
            F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(days=F.col("seq")),
            "yyyy-MM-dd HH:mm:ss",
        ),
    )

    # --- producer: the composed pipeline (F2 classify -> respond -> log) --
    from dionysus_rb_spark.producer.pipeline import publish_changelog

    reg = ProducerRegistry(namespace="v3")
    reg.topic("rentals", partition_key="account_id")
    reg.publish(
        "rentals",
        PublicationDecl(
            resource="rental",
            attributes=("updated_at", "canceled_at", "price", "account_id"),
        ),
    )
    res = publish_changelog(
        reg, "rentals", "rental", log, str(tmp_path / "topics")
    )
    assert res.n_events == 8  # no suppressed transitions in this log
    assert res.by_action == {"created": 4, "updated": 2, "destroyed": 2}
    out_dir = tmp_path / "topics" / "v3_rentals"

    # --- consumer: stream the files in order into the snapshot store -----
    store = SnapshotStore(str(tmp_path / "rentals_store"))
    q = run_consumer_stream(
        spark,
        str(out_dir),
        str(tmp_path / "cp"),
        RENTAL,
        "rental",
        {"rental": EntitySink(store)},
        available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    # --- verify: snapshot == source-of-truth end state --------------------
    got = {
        r["synced_id"]: (r["price"], r["synced_canceled_at"] is not None)
        for r in store.read(spark).collect()
    }
    # end state: 1 canceled with the destroy payload's attrs persisted
    # (price 100 from seq 8 — assign_attributes precedes the destroy
    # branch, persistor.rb:64), 2 restored @200, 3 live @310; the
    # snapshot equals the source table's visible end state exactly
    assert got[1] == (100.0, True)
    assert got[2] == (200.0, False)
    assert got[3] == (310.0, False)
    # partition keys routed by account_id
    respond = reg.responder("rentals", "rental")
    sample = respond("updated", log.filter(F.col("id") == 1).limit(1))
    assert sample.collect()[0]["partition_key"] == "10"


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
