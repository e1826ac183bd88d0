"""SparkSession construction tuned for the engine.

Local testing runs ``local[N]``; the same config block is what we would
ship on a 1000-executor cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), adaptive broadcast detection, and Arrow
for the few pandas-UDF paths. Nothing here is local-mode-specific except
the master URL.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# Confs that are safe (and necessary) to set on an externally provided
# session at runtime: used by tables.load_table() on the driver's session.
RUNTIME_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read as long and convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # testdata timestamps are naive micros (isAdjustedToUTC=false); read
    # them as TIMESTAMP (wall clock in the UTC session zone, matching
    # DuckDB's naive timestamps) rather than TIMESTAMP_NTZ so epoch
    # casts/arithmetic keep working and scan-level pushdown is native.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # deterministic wall-clock rendering, matching DuckDB's naive timestamps
    "spark.sql.session.timeZone": "UTC",
    # the engine's cast/overflow/raise contracts are written against ANSI
    # semantics (Spark 4's default) — pin it so a driver session that
    # disabled ANSI can't silently turn a raising overflow into a NULL
    # (tests/test_session_portability.py)
    "spark.sql.ansi.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Conf locked on this session; reads may still succeed, but a
            # silently missing conf (e.g. inferTimestampNTZ) breaks
            # timestamp arithmetic downstream — leave a trace.
            logger.warning("could not set %s=%s on session: %s", k, v, exc)
    _enable_py4j_nodelay(spark)


def _enable_py4j_nodelay(spark: SparkSession) -> None:
    """Disable Nagle on Py4J's TCP command channel (optimization r13).

    Py4J leaves TCP_NODELAY unset on its gateway sockets. A
    request-response RPC channel under Nagle can stall a small write
    behind the peer's delayed ACK, so turning it off is the correct
    protocol setting; a raw localhost ping-pong with NODELAY measures a
    62 us floor. Honest measurement note: on this sandbox the observed
    Py4J roundtrip (1-5 ms) is dominated by host scheduling jitter, and
    an interleaved on/off A/B showed no consistent latency win — the
    real construction-cost fix is fewer roundtrips (the pure_plan
    construction memo in plans/catalog.py and the expression-string
    builders). Kept because it removes Nagle's worst-case stall class
    at zero risk: command-channel latency only; plans, results, and
    execution are untouched. Safe no-op on non-TCP transports.
    """
    import socket as _socket

    def _nodelay(sock) -> None:
        try:
            if sock is not None:
                sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
        except Exception:
            pass  # non-TCP transport or closed socket: nothing to tune

    try:
        from py4j import clientserver, java_gateway

        gateway = spark.sparkContext._gateway
        for conn in list(getattr(gateway._gateway_client, "deque", [])):
            _nodelay(getattr(conn, "socket", None))

        for cls in (
            clientserver.ClientServerConnection,
            java_gateway.GatewayConnection,
        ):
            if getattr(cls, "_dionysus_nodelay", False):
                continue
            if hasattr(cls, "connect_to_java_server"):
                orig_connect = cls.connect_to_java_server

                def connect_to_java_server(self, _orig=orig_connect):
                    _orig(self)
                    _nodelay(getattr(self, "socket", None))

                cls.connect_to_java_server = connect_to_java_server
            elif hasattr(cls, "start"):
                orig_start = cls.start

                def start(self, *a, _orig=orig_start, **kw):
                    out = _orig(self, *a, **kw)
                    _nodelay(getattr(self, "socket", None))
                    return out

                cls.start = start
            cls._dionysus_nodelay = True
    except Exception:
        pass  # no py4j gateway (e.g. Spark Connect): latency knob n/a


def get_spark(
    app_name: str = "dionysus-rb-spark",
    cpus: int | None = None,
    task_retries: int = 1,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partition count follows core count locally; on a real cluster AQE
    coalesces the 2x over-provisioned shuffle partitions down to size.
    ``task_retries`` > 1 enables local task re-execution (master
    ``local[N,R]``) — used by the task-retry chaos validation
    (tools/validation/task_retry_chaos.py) to prove results survive
    first-attempt task failures; the default matches plain local mode.
    ``extra_confs`` are applied at builder time (instrumentation only —
    bench.py's event-log attribution; never query semantics): they only
    take effect when this call CREATES the session. A key that is also
    in ``RUNTIME_CONFS`` raises ``ValueError``: the engine's semantics
    depend on those values, so a caller may not override them.
    """
    clash = sorted(set(extra_confs or ()) & set(RUNTIME_CONFS))
    if clash:
        raise ValueError(f"extra_confs may not override RUNTIME_CONFS: {clash}")
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = f"local[{cpus}]" if task_retries <= 1 else f"local[{cpus},{task_retries}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16 MB: small dims broadcast; aggregated/fat sides (whose size
        # estimates lie) shuffle-join instead — the scale-correct default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Same source of truth as the runtime path so the two cannot drift:
    # every conf that tables.load_table() must be able to set on an
    # external session is also baked into our own builder.
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    spark.sparkContext.setLogLevel("WARN")
    _quiet_known_benign_warnings(spark)
    return spark


def _quiet_known_benign_warnings(spark: SparkSession) -> None:
    """Scope WindowExec's "No Partition Defined" warning to ERROR.

    The engine's only unpartitioned windows are provably tiny by
    construction — shard-count-sized cumsums (textops.pack_offsets /
    token_budget_cap bucket totals) and codebook/seed renumbering frames
    (pq, clustering) — so the warning is noise that buries real ones in
    every bench tail. Narrowly scoped to that one logger; everything
    else stays at WARN."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backend; warning stays visible
