"""The CDC workload: set-up, the timed region and the output check.

It drives ``run_consumer_stream`` over the file source into
``SnapshotStore`` sinks (rentals, their sideloaded bookings and the
dead-letter store) from outside the program, and reads the streaming
progress through the program's ``ProgressMonitor``. One run has three
phases over one state, each its own streaming query with its own input
directory and checkpoint, run one after another:

* warm-up: ``WARM_FILES`` files of ``CLEAN_MIX``, closed loop, untimed.
  The JIT keeps speeding micro-batches up for several of them.
* trickle: open loop. A generator thread drops one small file of ``MIX``
  (with dead letters) every ``TRICKLE_INTERVAL_S`` on a fixed schedule,
  whatever the consumer's speed, into a query with
  ``max_files_per_trigger=1``. The first ``TRICKLE_WARM_FILES`` go in
  closed loop first. It gives ``latency_s``, the median over the timed
  files of the commit end of the micro-batch that applied the file
  (progress ``timestamp`` plus ``triggerExecution``) minus the time the
  file was due.
* backlog: closed loop. Large files of ``CLEAN_MIX`` (no dead letters)
  are in place before the query starts with ``available_now=True``. It
  gives ``throughput_per_s``, the median over its micro-batches of
  envelope events per second of ``triggerExecution``. A median, not the
  sum of events over the summed times: on a shared host a burst of load
  from elsewhere slows one micro-batch now and then, and the median
  keeps that out of the figure.

``setup_s`` runs from process start to the time the first timed trickle
file is due.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time
from datetime import datetime, timezone

from cdc import CLEAN_MIX, MIX, ConsumerModel, EnvelopeGenerator, _drop_nulls, rental_schema

# one state for all three phases: rentals with 2 sideloaded bookings each
CDC_RENTALS = 6_000
# warm-up phase: WARM_FILES files of WARM_EVENTS_PER_FILE
WARM_EVENTS_PER_FILE = 6_000
WARM_FILES = 3
# backlog phase
BULK_EVENTS_PER_FILE = 8_000
BULK_TIMED_FILES = 3
# trickle phase: the interval keeps the offered rate below capacity
# (a 200-event micro-batch takes 2.4-3.8 s on 4 vCPUs), so queueing
# stays out of the latency figure unless the host slows down badly
TRICKLE_EVENTS_PER_FILE = 200
TRICKLE_INTERVAL_S = 4.5
TRICKLE_WARM_FILES = 1
# every wait on the stream or on a catalog query ends by this many
# seconds after process start, so a hung query fails the run instead of
# hanging it, and the run still stops Spark and exits within 180 s
RUN_DEADLINE_S = 110.0


def _iso_epoch(ts: str) -> float:
    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class CdcRun:
    """Stores and the streaming queries of one CDC run."""

    def __init__(self, sess, recorder=None):
        from dionysus_rb_spark.consumer.persistor import EntitySink
        from dionysus_rb_spark.streaming.monitor import ProgressMonitor
        from dionysus_rb_spark.streaming.snapshot_store import SnapshotStore

        self.spark = sess.spark
        self.base = os.path.join(sess.work, "cdc")
        self.schema = rental_schema()
        self.recorder = recorder
        self.rentals = SnapshotStore(os.path.join(self.base, "rentals"))
        self.bookings = SnapshotStore(os.path.join(self.base, "bookings"))
        self.dlq = SnapshotStore(os.path.join(self.base, "dead_letters"))
        self.sinks = {"rental": EntitySink(self.rentals), "booking": EntitySink(self.bookings)}
        self.monitor = ProgressMonitor()
        self.spark.streams.addListener(self.monitor)
        self.query = None
        self.query_id = None

    # -- set-up ---------------------------------------------------------
    def load_state(self, lines: list[str]) -> float:
        """Backfill the initial state as one ``persist_batch`` call;
        returns its duration."""
        from dionysus_rb_spark.consumer.persistor import persist_batch

        path = os.path.join(self.base, "initial")
        os.makedirs(path)
        with open(os.path.join(path, "part-0.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        t0 = time.perf_counter()
        persist_batch(
            self.spark,
            self.spark.read.text(path),
            self.schema,
            "rental",
            self.sinks,
            dead_letter_store=self.dlq,
        )
        return time.perf_counter() - t0

    def open_phase(self, phase: str) -> None:
        """Fresh input and staging directories for the next query."""
        self.phase_dir = os.path.join(self.base, phase)
        self.input = os.path.join(self.phase_dir, "input")
        self.staging = os.path.join(self.phase_dir, "staging")
        os.makedirs(self.input)
        os.makedirs(self.staging)
        self.query = None
        self.query_id = None
        self.n_files = 0
        self.file_bytes: list[int] = []
        self.last_mtime_ns = 0

    def start(self, available_now: bool) -> None:
        from dionysus_rb_spark.streaming.pipeline import run_consumer_stream

        # persist_batch calls before this one belong to earlier phases
        self.first_stream_ordinal = self.recorder.batches if self.recorder else 0
        self.query = run_consumer_stream(
            self.spark,
            self.input,
            os.path.join(self.phase_dir, "checkpoint"),
            self.schema,
            "rental",
            self.sinks,
            dead_letter_store=self.dlq,
            available_now=available_now,
            max_files_per_trigger=1,
        )
        self.query_id = str(self.query.id)

    def drop_file(self, lines: list[str]) -> None:
        """Publish one envelope file atomically (write aside, rename in).

        The file source takes new files in modification-time order, read
        at millisecond resolution, and two files written within the same
        millisecond may come in either order. Each file is therefore
        stamped at least 10 ms after the previous one, so the consumer
        sees the files in the order they were generated, which is the
        order the reference model applies them in."""
        name = f"f{self.n_files:06d}.jsonl"
        tmp = os.path.join(self.staging, name)
        data = "\n".join(lines) + "\n"
        with open(tmp, "w") as fh:
            fh.write(data)
        self.last_mtime_ns = max(time.time_ns(), self.last_mtime_ns + 10_000_000)
        os.utime(tmp, ns=(self.last_mtime_ns, self.last_mtime_ns))
        os.rename(tmp, os.path.join(self.input, name))
        self.n_files += 1
        self.file_bytes.append(len(data.encode()))

    # -- progress ------------------------------------------------------
    def state_bytes(self) -> int:
        """Bytes of the current version of the three stores."""
        total = 0
        for s in (self.rentals, self.bookings, self.dlq):
            v = s.current_version()
            if v is None:
                continue
            for d, _, files in os.walk(os.path.join(s.path, v)):
                total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def batches(self) -> list:
        """Progress of the current query's micro-batches that read input."""
        return [
            p
            for p in list(self.monitor.progress)
            if p.num_input_rows > 0 and str(p.query_name) == self.query_id
        ]

    def wait_applied(self, n: int, deadline: float) -> bool:
        """Wait until ``n`` micro-batches of the current query read input.
        Polls the listener's list, and the query (a Py4J call that would
        compete with the micro-batch for the driver) only once a second."""
        polls = 0
        while time.monotonic() < deadline:
            if len(self.batches()) >= n:
                return True
            polls += 1
            if polls % 20 == 0 and self.query.exception() is not None:
                return False
            time.sleep(0.05)
        return False

    def stop(self) -> bool:
        if self.query is None:
            return True
        t = threading.Thread(target=self.query.stop, daemon=True)
        t.start()
        t.join(20)
        return not t.is_alive()

    # -- output check ----------------------------------------------------
    def check(self, model: ConsumerModel) -> list[str]:
        """Compare the three stores with the model; returns mismatches.

        Each row is reduced to one canonical string on both sides (the
        store's in Spark, the model's in Python) and compared by SHA-1
        per key, so only keys and digests cross over to the driver."""
        from pyspark.sql import functions as F

        problems: list[str] = []
        for label, store, want in (
            ("rentals", self.rentals, model.rentals),
            ("bookings", self.bookings, model.bookings),
        ):
            df = store.read(self.spark)
            if df is None or want is None:
                if (df is None) != (want is None):
                    problems.append(f"{label}: store presence differs")
                continue
            canon = F.concat_ws(
                "\x01",
                *[
                    F.coalesce(_as_string(c, dict(df.dtypes)[c]), F.lit("\x02"))
                    for c in df.columns
                ],
            )
            got = df.select("synced_id", F.sha1(canon).alias("d")).toPandas()
            got_by = dict(zip(got["synced_id"].tolist(), got["d"].tolist()))
            if len(got_by) != len(got):
                problems.append(f"{label}: duplicate keys in store")
            want_by = {
                k: hashlib.sha1(_canonical(r, df.columns).encode()).hexdigest()
                for k, r in want.items()
            }
            if set(got_by) != set(want_by):
                extra = sorted(set(got_by) - set(want_by))[:5]
                missing = sorted(set(want_by) - set(got_by))[:5]
                problems.append(f"{label}: keys differ, extra {extra} missing {missing}")
            bad = sorted(k for k in set(got_by) & set(want_by) if got_by[k] != want_by[k])
            if bad:
                row = df.filter(F.col("synced_id") == bad[0]).select(canon).first()[0]
                problems.append(
                    f"{label}: {len(bad)} rows differ, e.g. store {row!r} "
                    f"model {_canonical(want[bad[0]], df.columns)!r}"
                )
        dl = self.dlq.read(self.spark)
        got_dl = sorted(
            (r["event"] or "", r["value"]) for r in dl.collect()
        ) if dl is not None else []
        want_dl = sorted((e or "", v) for e, v in model.dead)
        if got_dl != want_dl:
            problems.append(
                f"dead letters differ: {len(got_dl)} stored, {len(want_dl)} expected"
            )
        return problems


def _as_string(col: str, dtype: str):
    from pyspark.sql import functions as F

    if dtype == "timestamp":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if dtype.startswith("array"):
        return F.array_join(col, ",")
    return F.col(col).cast("string")


def _canonical(row: dict, columns: list[str]) -> str:
    """The model's row as ``_as_string`` renders the stored one."""
    parts = []
    for c in columns:
        v = row[c]
        if v is None:
            parts.append("\x02")
        elif c == "synced_data":
            parts.append(json.dumps(_drop_nulls(v), separators=(",", ":")))
        elif isinstance(v, list):
            parts.append(",".join(map(str, v)))
        else:
            parts.append(str(v))
    return "\x01".join(parts)


def _events_per_s(batches) -> float:
    """Median over the micro-batches of envelope lines per second of
    ``triggerExecution``."""
    rates = [
        b.num_input_rows / (b.duration_ms["triggerExecution"] / 1e3)
        for b in batches
        if b.duration_ms.get("triggerExecution")
    ]
    return statistics.median(rates) if rates else math.nan


def _commit_end(b) -> float:
    return _iso_epoch(b.timestamp) + b.duration_ms.get("triggerExecution", 0) / 1e3


def _stream_phase(
    run: CdcRun, files: list[list[str]], warm: int, open_loop: bool, deadline: float
) -> dict:
    """One phase: a query over ``files``, the first ``warm`` of them
    consumed closed loop before the timed ones. Returns the phase record
    (``ok`` is False when a file was not applied by ``deadline``, a
    ``time.monotonic()`` value)."""
    rec: dict = {"due": [], "late": [], "backlog": []}
    if not open_loop:  # the backlog is in place before the query starts
        for lines in files:
            run.drop_file(lines)
    run.start(available_now=not open_loop)
    ok = True
    if open_loop:
        for i in range(warm):
            run.drop_file(files[i])
            ok &= run.wait_applied(i + 1, deadline)
        # file i is due at t0 + i * interval whatever the consumer does;
        # lateness and backlog are recorded at each drop
        rec["t0"] = t0 = time.time() + 0.2

        def generator():
            for i in range(len(files) - warm):
                d = t0 + i * TRICKLE_INTERVAL_S
                delay = d - time.time()
                if delay > 0:
                    time.sleep(delay)
                run.drop_file(files[warm + i])
                rec["due"].append(d)
                rec["late"].append(time.time() - d)
                rec["backlog"].append(run.n_files - len(run.batches()))

        g = threading.Thread(target=generator, daemon=True)
        g.start()
        g.join(max(0.0, deadline - time.monotonic()))
        ok &= not g.is_alive()
    else:
        run.query.awaitTermination(max(1.0, deadline - time.monotonic()))
    # the listener may deliver the last progress after the file landed
    ok &= run.wait_applied(len(files), deadline)
    if run.query.exception() is not None:
        rec["exception"] = str(run.query.exception())[:2000]
    if not run.stop():
        ok = False
        rec["stop"] = "timed out"
    batches = run.batches()
    rec.update(
        ok=ok,
        applied=len(batches),
        batches=batches,
        timed=batches[warm : len(files)],
        timed_ordinal=run.first_stream_ordinal + warm,
        query_id=run.query_id,
        envelope_bytes=sum(run.file_bytes[warm:]),
    )
    return rec


def cdc(sess, seed: int, seconds: float, recorder, t_process: float, deadline: float) -> dict:
    deadline = time.monotonic() + (deadline - time.time())  # as a monotonic time
    run = CdcRun(sess, recorder)
    # files in the order they are consumed, so the producer's stamps rise
    # in that order too
    t0 = time.perf_counter()
    gen = EnvelopeGenerator(seed, CDC_RENTALS, mix=CLEAN_MIX)
    initial = gen.bootstrap()
    warm_files = [gen.next_file(WARM_EVENTS_PER_FILE) for _ in range(WARM_FILES)]
    gen.mix = MIX
    n_timed = max(3, math.ceil(seconds / TRICKLE_INTERVAL_S))
    trickle_files = [
        gen.next_file(TRICKLE_EVENTS_PER_FILE) for _ in range(TRICKLE_WARM_FILES + n_timed)
    ]
    gen.mix = CLEAN_MIX
    bulk_files = [gen.next_file(BULK_EVENTS_PER_FILE) for _ in range(BULK_TIMED_FILES)]
    gen_s = time.perf_counter() - t0
    load_s = run.load_state(initial)

    # the JIT keeps speeding micro-batches up for several of them, so the
    # large warm-up files and the trickle phase come before the timed
    # backlog micro-batches
    run.open_phase("warmup")
    warm = _stream_phase(run, warm_files, WARM_FILES, False, deadline)
    run.open_phase("trickle")
    trickle = _stream_phase(run, trickle_files, TRICKLE_WARM_FILES, True, deadline)
    run.open_phase("backlog")
    bulk = _stream_phase(run, bulk_files, 0, False, deadline)

    setup_s = trickle["t0"] - t_process if "t0" in trickle else math.nan
    fresh = [_commit_end(b) - d for d, b in zip(trickle["due"], trickle["timed"])]
    phases = (warm, trickle, bulk)
    attempted = len(warm_files) + len(trickle_files) + len(bulk_files)
    failed = attempted - sum(ph["applied"] for ph in phases)
    applied = all(ph["ok"] for ph in phases) and len(fresh) == n_timed

    t1 = time.perf_counter()
    model = ConsumerModel()
    for lines in [initial, *warm_files, *trickle_files, *bulk_files]:
        model.apply(lines)
    t2 = time.perf_counter()
    problems = run.check(model) if applied else ["not every file was applied in time"]
    if problems:
        failed = attempted
    detail = {
        "session_start_s": sess.start_s,
        "gen_s": gen_s,
        "load_state_s": load_s,
        "model_s": t2 - t1,
        "check_s": time.perf_counter() - t2,
        "check": problems or "stores equal the reference model",
        "state_bytes": run.state_bytes(),
        "state_rows": {
            "rentals": len(model.rentals or {}),
            "bookings": len(model.bookings or {}),
            "dead_letters": len(model.dead),
        },
        "freshness_s": fresh,
        "gen_late_max_ms": max(trickle["late"], default=0.0) * 1e3,
        "gen_backlog_max_files": max(trickle["backlog"], default=0),
    }
    for name, ph in (("warmup", warm), ("trickle", trickle), ("backlog", bulk)):
        detail[f"{name}_batch_ms"] = [b.duration_ms for b in ph["batches"]]
        detail[f"{name}_envelope_bytes"] = ph["envelope_bytes"]
        for k in ("exception", "stop"):
            if k in ph:
                detail[f"{name}_{k}"] = ph[k]
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "latency_s": statistics.median(fresh) if fresh else math.nan,
            "throughput_per_s": _events_per_s(bulk["timed"]),
        },
        "detail": detail,
        "phases": {
            name: {k: ph[k] for k in ("timed", "timed_ordinal", "query_id", "envelope_bytes")}
            for name, ph in (("backlog", bulk), ("trickle", trickle))
        },
    }


def run(name: str, sess, seed: int, seconds: float, trace: bool, t_process: float) -> dict:
    recorder = None
    if trace:
        import spans

        recorder = spans.Recorder()
        recorder.install()
    deadline = t_process + RUN_DEADLINE_S
    # Spark jobs still running at the deadline are cancelled, so a hung
    # job fails its operation instead of hanging the run
    watchdog = threading.Timer(
        max(0.0, deadline - time.time()), sess.spark.sparkContext.cancelAllJobs
    )
    watchdog.daemon = True
    watchdog.start()
    try:
        if name == "catalog":
            import catalog

            out = catalog.run(sess, seed, seconds, recorder, t_process, deadline)
        else:
            out = cdc(sess, seed, seconds, recorder, t_process, deadline)
    finally:
        watchdog.cancel()
        if recorder:
            recorder.uninstall()
    out["recorder"] = recorder
    return out
