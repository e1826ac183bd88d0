"""Repository benchmark: the CDC consumer path and the query catalog.

Run from the repository root:

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 16 --trace 0

Workloads (inputs are made from ``--seed``; the program receives only
the generated inputs):

* ``cdc`` (``workloads.py``): ``run_consumer_stream`` over the file
  source into ``SnapshotStore`` sinks: an open-loop trickle of small
  files, then a closed-loop backlog of large ones;
* ``catalog`` (``catalog.py``): the ``bench=True`` catalog queries over
  generated tables, each written to the noop sink, in warm passes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, ``END_TO_END``, which every workload reports:

* ``setup_s``: process start to the first timed operation;
* ``latency_s``: ``cdc``, the median over the timed trickle files of the
  time from a file being due to the commit of the micro-batch that
  applied it; ``catalog``, the sum over the queries of each query's
  median warm wall time;
* ``throughput_per_s``: ``cdc``, envelope events of the timed backlog
  micro-batches over the sum of their ``triggerExecution``;
  ``catalog``, warm queries run per second.

With ``--trace 1`` the run records spans around the calls into each
layer plus the Spark event log, and prints ``spans.PER_LAYER``. Details
go to stderr and, with ``--detail``, to a file.

Correctness is checked after the timed region: the CDC stores against
the reference model ``cdc.ConsumerModel``, the catalog answers against
pinned DuckDB-oracle answers. An operation (a micro-batch or a query)
that raised or was not applied in time counts as failed; a wrong output
fails every operation of the run.

Hygiene: everything the run writes (Spark warehouse, local dirs,
checkpoints, stores, event log, temp files) lives under
``.perfbench_work/`` in the checkout and is removed at exit; the run
fails if it left the rest of the checkout changed. Every wait on the
stream and on Spark's shutdown is bounded. Load average and a CPU probe
are recorded in the detail as run metadata; the run never waits for a
quiet host. Exits non-zero without a result line when the program is
not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cdc", "catalog")
STOP_TIMEOUT_S = 20
END_TO_END = ("setup_s", "latency_s", "throughput_per_s")


def _checkout_snapshot() -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file of the checkout outside the
    benchmark's own scratch and build directories."""
    skip = {".perfbench_work", ".bench_build", ".git", "__pycache__"}
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return out


def _cpu_probe() -> float:
    """Seconds for a fixed single-thread SHA-256 loop: host speed."""
    import hashlib

    t0 = time.perf_counter()
    b = b"\x5a" * 65536
    for _ in range(2000):
        b = hashlib.sha256(b).digest() + b[32:]
    return time.perf_counter() - t0


def _cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies (user ... steal), or []."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Session:
    """The Spark session of one run, with every path under ``work``."""

    def __init__(self, work: str, cpus: int, trace: bool):
        from dionysus_rb_spark.session import get_spark

        self.work = work
        self.event_dir = os.path.join(work, "eventlog") if trace else None
        confs = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.ui.showConsoleProgress": "false",
            # paths only; no perf-data file, which the JVM would write
            # outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
                " -XX:-UsePerfData"
            ),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if self.event_dir:
            os.makedirs(self.event_dir)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file:{self.event_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cpus, extra_confs=confs)
        self.start_s = time.perf_counter() - t0
        self.app_id = self.spark.sparkContext.applicationId
        self.jvm = getattr(self.spark.sparkContext._gateway, "proc", None)

    def gc_totals(self) -> dict[str, float]:
        """JVM garbage-collection count and seconds so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        beans = list(mf.getGarbageCollectorMXBeans())
        return {
            "jvm_gc_count": sum(b.getCollectionCount() for b in beans),
            "jvm_gc_s": sum(b.getCollectionTime() for b in beans) / 1e3,
        }

    def peak_rss_mb(self) -> float:
        import resource

        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return py + (_vm_hwm_mb(self.jvm.pid) if self.jvm else 0.0)

    def stop(self) -> bool:
        """Stop Spark and wait for the JVM to end; False if it had to be
        killed."""
        from pyspark import SparkContext

        t = threading.Thread(target=self.spark.stop, daemon=True)
        t.start()
        t.join(STOP_TIMEOUT_S)
        clean = not t.is_alive()
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort, the JVM is waited below
                pass
        if self.jvm is not None:
            try:
                self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            except (OSError, AttributeError):
                pass
            try:
                self.jvm.wait(STOP_TIMEOUT_S)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                clean = False
                self.jvm.kill()
                self.jvm.wait()
        return clean


def _prepare_env(work: str) -> None:
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the program by module path; the package is
    # not installed, so they need the checkout on their path
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.chdir(work)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in ``main``


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int, default=min(4, len(os.sched_getaffinity(0))),
        help="Spark local cores (the workloads are sized for 4)",
    )
    ap.add_argument("--detail", help="also write the full result record here")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dionysus_rb_spark", "__init__.py")):
        print(f"perfbench: no program under {ROOT}", file=sys.stderr)
        return 2

    before = _checkout_snapshot()
    work = os.path.join(WORK_PARENT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": args.cpus,
        "loadavg_start": os.getloadavg(),
        "cpu_probe_s": _cpu_probe(),
    }
    cpu0 = _cpu_times()
    sess = None
    stopped = False
    try:
        _prepare_env(work)
        import workloads

        sess = Session(work, args.cpus, bool(args.trace))
        result = workloads.run(
            args.workload, sess, args.seed, args.seconds, bool(args.trace), T_PROCESS
        )
        peak_rss_mb = sess.peak_rss_mb()
        meta.update(sess.gc_totals())
        stopped = True  # the event log is complete only once Spark stopped
        if not sess.stop():
            result["failed"] = result["attempted"]
            result["detail"]["stop"] = "spark did not stop in time"
        if args.trace:
            import spans

            result["detail"]["end_to_end"] = result["metrics"]
            layers = spans.catalog_layers if args.workload == "catalog" else spans.cdc_layers
            result["metrics"] = layers(result, sess, args.cpus)
            result["metrics"]["session.peak_rss_mb"] = peak_rss_mb
        result["detail"]["peak_rss_mb"] = peak_rss_mb
        for k in ("phases", "recorder", "queries"):
            result.pop(k, None)
    finally:
        if sess is not None and not stopped:
            sess.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)
        except OSError:
            pass

    after = _checkout_snapshot()
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))
    meta["loadavg_end"] = os.getloadavg()
    cpu1 = _cpu_times()
    if cpu0 and cpu1:
        # share of the host's CPU time taken from this machine (steal)
        # and left idle during the run
        d = [b - a for a, b in zip(cpu0, cpu1)]
        meta["cpu_steal_share"] = d[7] / max(1, sum(d))
        meta["cpu_idle_share"] = d[3] / max(1, sum(d))
    result["detail"]["meta"] = meta
    if changed:
        result["detail"]["checkout_changed"] = changed[:20]
        result["correct"] = False
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump(result, fh, indent=1, default=str)
    summary = {k: v for k, v in result["detail"].items() if k not in ("spans", "jobs")}
    print(json.dumps(summary, default=str), file=sys.stderr)
    if args.trace:
        from spans import PER_LAYER as names
    else:
        names = END_TO_END
    out = {
        "correct": bool(result["correct"]) and result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {
            name: {"value": result["metrics"][name], "unit": unit(name)} for name in names
        },
    }
    print(json.dumps(out))
    return 0


def unit(name: str) -> str:
    """Unit of a metric, by naming convention."""
    special = {"throughput_per_s": "1/s", "session.peak_rss_mb": "MB"}
    if name in special:
        return special[name]
    if "bytes" in name:
        return "bytes"
    for suffix, u in (("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return u
    if name.endswith(("write_amp", "share")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    import signal

    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, HERE)
    sys.exit(main())
