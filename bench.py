"""Benchmark harness: runs the headline (bench=True) catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line as the LAST
line of stdout:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "spread_max": ...}
sized to fit the driver's ~2,000-char stdout tail window (VERDICT r12
item 2 — the old verbose line outgrew it and shipped parsed:null from
r9 on). The full per-query spread / resample / load detail prints to
STDERR for the quiet-bench artifacts.

Each query is fully materialized via the noop sink (no driver collect).

Robustness to machine drift (the round-3 bench read 1.85x slower than
round 2 purely from host load): the suite runs N full passes
(SPARK_GRAFT_BENCH_PASSES, default 3) and reports each query's MINIMUM
across passes — the min is the least load-contaminated estimate of the
plan's true cost. Passes are suite-interleaved (pass 1 runs every query,
then pass 2, ...) so a transient load spike degrades one pass of many
queries rather than every sample of one query. The JSON also carries:
  "spread":   per-query max/min ratio across WARM passes (pass 1 pays
              codegen/JIT and is excluded when 3+ passes ran) — >1.5
              means that query's number is load-noisy, trust the min;
  "load_avg": os.getloadavg() at start and end — compare against
              SPARK_GRAFT_CPUS; a 1-minute load near or above the core
              count means the whole run is contended and cross-round
              totals are not comparable.

Load gating (round 5): both r3 and r4 totals were recorded at host load
4-8, which made round-over-round totals noisy even with the min/spread
fields. Before starting, the harness now waits for the 1-minute loadavg
to drop below SPARK_GRAFT_BENCH_MAX_LOAD (default 1.0 — a run admitted
at ~2 still read 15-20% slow uniformly vs a load-1 run with the same
cpu probe) AND the 5-minute loadavg below 3x that bound (a heavy job
that just finished leaves load1 quiet while the host is still hot:
measured 29.5 s vs 22 s with load1 = 0.98 both times, load5 7.8 vs ~1),
polling every
10s up to SPARK_GRAFT_BENCH_LOAD_WAIT seconds (default 300). It never
refuses to run — a bench row beats no row — but the JSON carries
  "high_load":  true when the gate timed out and the run started
                contended (treat the total as an upper bound);
  "load_waited_sec": how long the gate spent waiting.

Host-speed calibration (round 5): even at loadavg < 1, per-query minima
of UNTOUCHED queries drifted ~1.4-2.0x between rounds — the shared
host's effective CPU speed changes (frequency scaling / co-tenant
quota), which load fields can't see. "cpu_probe_sec" times a fixed
single-thread SHA-256 workload (~128 MB) before the session starts;
comparing two rounds' totals only makes sense after dividing each by
its probe time (a 2x probe means the same plans on a half-speed host).

Spread gating (round 12 — VERDICT r11 item 2): the r11 artifact
shipped with spread_max 6.67 (two queries varied >6x across their own
passes mid-run: the load gate passed, then something polluted the
host mid-flight), which made the committed series read as a 39%
regression the quiet matched-pair instrument disproved. The harness
now RESAMPLES: after the initial passes, any query whose warm spread
exceeds SPARK_GRAFT_BENCH_SPREAD_BAR (default 2.0) is re-run once per
resample round (SPARK_GRAFT_BENCH_RESAMPLE rounds, default 2), and the
reported per-query "spread" is computed over the query's 3 SMALLEST
warm samples — the stable core a single polluted sample can no longer
dominate once the resamples land. The raw all-warm-samples spread is
preserved as "spread_raw" and the extra sample counts as "resampled",
so a run that stayed noisy after resampling is still visible as such.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dionysus_rb_spark.plans import all_queries
from dionysus_rb_spark.session import get_spark


def _cpu_probe() -> float:
    """Seconds to SHA-256 a fixed 128 MB single-thread workload — a
    deterministic host-speed yardstick, independent of Spark."""
    import hashlib

    t0 = time.perf_counter()
    b = b"\x5a" * 65536
    for _ in range(2000):
        b = hashlib.sha256(b).digest() + b[32:]
    return round(time.perf_counter() - t0, 3)


def _parse_event_log(
    evdir: str, app_id: str, min_idx: dict[str, int]
) -> dict[str, dict[str, float]]:
    """Per-query executor task-seconds / GC-seconds / job count for the
    sample named by ``min_idx`` (the one whose wall the headline
    reports), keyed off the ``q:<name>:<sample>`` job groups. Spark 4
    rolls the log into an eventlog_v2_<appId>/ directory of events_*
    part files; older layouts use a flat file.

    Only successful task attempts count: a failed or killed attempt's
    run time is work the query did not keep. A malformed job group
    (wrong field count, non-integer sample) is skipped on its own."""
    v2dir = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2dir):
        paths = [
            os.path.join(v2dir, p)
            for p in sorted(os.listdir(v2dir))
            if p.startswith("events_")
        ]
    else:
        paths = [os.path.join(evdir, app_id)]
    stage_key: dict[int, tuple[str, int]] = {}
    agg: dict[str, dict[str, float]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    parts = grp.split(":", 2)
                    if parts[0] != "q" or len(parts) != 3:
                        continue
                    try:
                        key = (parts[1], int(parts[2]))
                    except ValueError:
                        continue
                    for s in ev.get("Stage IDs", []):
                        stage_key[s] = key
                    if key[1] == min_idx.get(key[0], -1):
                        d = agg.setdefault(key[0], {})
                        d["jobs"] = d.get("jobs", 0) + 1
                elif e == "SparkListenerTaskEnd":
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        continue
                    key = stage_key.get(ev["Stage ID"])
                    if key is not None and key[1] == min_idx.get(key[0], -1):
                        m = ev.get("Task Metrics") or {}
                        d = agg.setdefault(key[0], {})
                        d["task_s"] = d.get("task_s", 0.0) + m.get(
                            "Executor Run Time", 0
                        ) / 1e3
                        d["gc_s"] = d.get("gc_s", 0.0) + m.get(
                            "JVM GC Time", 0
                        ) / 1e3
    return {
        n: {
            "task_s": round(d.get("task_s", 0.0), 2),
            "gc_s": round(d.get("gc_s", 0.0), 2),
            "jobs": d.get("jobs", 0),
        }
        for n, d in agg.items()
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    # wait (bounded) for a quiet host rather than recording a contended
    # total; annotate instead of refusing if the host never quiets down
    # 1.0, not 2.0: a run admitted at load ~2 still read ~15-20% slow
    # uniformly across untouched queries (r5, measured back-to-back
    # against a load-1.0 run with identical cpu_probe).
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "1.0"))
    load_wait = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "300"))
    wait_t0 = time.monotonic()

    # Gate on the 5-minute average too (at 3x the 1-minute bound): a
    # heavy job that JUST finished leaves load1 < 1 while the host is
    # still hot (page cache churn, cgroup history) — measured 29.5 s vs
    # 22 s on the same code with load1 = 0.98 in both runs but load5 at
    # 7.8 vs ~1 (r5). load5 decays slowly, so it gets the looser bound
    # and the same bounded wait.
    def _loaded() -> bool:
        l1, l5, _ = os.getloadavg()
        return l1 > max_load or l5 > 3 * max_load

    while _loaded() and time.monotonic() - wait_t0 < load_wait:
        time.sleep(10)
    load_waited = round(time.monotonic() - wait_t0, 1)
    load_start = os.getloadavg()
    cpu_probe = _cpu_probe()
    # Event-log attribution (optimization r14, VERDICT r13 item 5): the
    # bench at sf0.1 is overhead-bound (255 task-seconds against ~23 s
    # wall in the r13 audit), so wall alone cannot separate engine wins
    # from driver-overhead wins. Each run now records per-query
    # task-seconds / GC-seconds (parsed from the Spark event log, job
    # groups set OUTSIDE the timed region) into the STDERR detail line —
    # the stdout headline contract (last line, same keys, < 1,900 chars)
    # is unchanged, and so is the timed region (clearCache, t0, noop
    # write, t1). Interleaved A/B measured the event log's write cost
    # below host noise (numbers in OPTIMIZATION_r14.md); set
    # SPARK_GRAFT_BENCH_TASKS=0 to run without it.
    want_tasks = os.environ.get("SPARK_GRAFT_BENCH_TASKS", "1") == "1"
    evdir = None
    extra_confs = None
    if want_tasks:
        import tempfile

        evdir = tempfile.mkdtemp(prefix="bench_events_")
        extra_confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark("dionysus-rb-spark-bench", extra_confs=extra_confs)

    qdefs = {n: q for n, q in sorted(all_queries().items()) if q.bench}
    # warm the JVM + parquet footers once with the cheapest action
    next(iter(qdefs.values())).fn(spark, sf_dir).limit(1).count() if qdefs else None

    def run_once(qd, sample_idx: int) -> float:
        # the job group labels this sample's jobs for the event-log
        # attribution; set BEFORE the timed region starts
        if want_tasks:
            spark.sparkContext.setJobGroup(
                f"q:{qd.name}:{sample_idx}", qd.name
            )
        # drop any persisted intermediates so every pass measures the
        # full pipeline, not a previous pass's cache
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Pass 1 additionally pays codegen/JIT/page-cache warmup (varies ~3x
    # run-to-run locally); the cross-pass min is the stable signal.
    samples: dict[str, list[float]] = {n: [] for n in qdefs}
    for _ in range(passes):
        for name, qd in qdefs.items():
            samples[name].append(run_once(qd, len(samples[name])))

    # spread is computed over WARM passes only (pass 1 always pays
    # codegen/JIT, which would read as 2-4x "noise" on every query);
    # the reported "spread" is the post-resample 3-smallest-core metric
    # (noisy bar = SPARK_GRAFT_BENCH_SPREAD_BAR), the raw all-warm
    # ratio ships as "spread_raw"
    def warm_of(ts: list[float]) -> list[float]:
        return ts[1:] if len(ts) > 2 else ts

    # Spread gating (VERDICT r11 item 2): re-run queries whose warm
    # spread exceeds the bar, then judge each query on its 3 smallest
    # warm samples — one mid-run load spike (r11: s10_tombstone_merge
    # read 6.67x across its own passes) no longer poisons the artifact.
    spread_bar = float(os.environ.get("SPARK_GRAFT_BENCH_SPREAD_BAR", "2.0"))
    resample_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_RESAMPLE", "2"))
    resampled: dict[str, int] = {}
    for _ in range(resample_rounds):
        noisy = [
            n
            for n, ts in samples.items()
            if (w := warm_of(ts)) and max(w) / min(w) > spread_bar
        ]
        if not noisy:
            break
        for name in noisy:
            samples[name].append(run_once(qdefs[name], len(samples[name])))
            resampled[name] = resampled.get(name, 0) + 1

    timings = {n: round(min(ts), 3) for n, ts in samples.items()}
    # per-query task/GC seconds for the SAMPLE that produced the
    # reported min wall, so the two numbers describe the same run; the
    # session must stop first to flush the event log
    task_detail: dict[str, dict[str, float]] = {}
    if want_tasks:
        min_idx = {n: ts.index(min(ts)) for n, ts in samples.items()}
        app_id = spark.sparkContext.applicationId
        spark.stop()
        try:
            task_detail = _parse_event_log(evdir, app_id, min_idx)
        except Exception as exc:  # noqa: BLE001 — attribution is advisory
            print(f"bench: event-log parse failed: {exc!r}", file=sys.stderr)
        finally:
            import shutil

            shutil.rmtree(evdir, ignore_errors=True)
    else:
        spark.stop()
    core = {n: sorted(warm_of(ts))[:3] for n, ts in samples.items()}
    spread = {n: round(max(ts) / min(ts), 2) for n, ts in core.items()}
    spread_raw = {
        n: round(max(w) / min(w), 2)
        for n, ts in samples.items()
        if (w := warm_of(ts))
    }

    # Two-channel output (VERDICT r12 item 2): the driver records only
    # the last ~2,000 chars of stdout and parses the FINAL line as the
    # round's bench JSON — the old single verbose line outgrew that
    # window around r9 (per-query spread/spread_raw dicts), so every
    # artifact since shipped parsed:null. The compact HEADLINE (value,
    # unit, sf, per-query minima, spread_max — everything cross-round
    # comparison needs) is now the last stdout line and stays well
    # under the window; the full per-query spread/resample/load detail
    # goes to stderr, where quiet-bench runs capture it into the
    # QUIET_BENCH_* artifacts.
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "passes": passes,
        "spread_max": max(spread.values(), default=1.0),
        "spread_raw_max": max(spread_raw.values(), default=1.0),
        "resampled_n": len(resampled),
        "high_load": load_start[0] > max_load or load_start[1] > 3 * max_load,
        "load_waited_sec": load_waited,
        "cpu_probe_sec": cpu_probe,
    }
    detail = {
        **out,
        "spread": spread,
        "spread_raw": spread_raw,
        "resampled": resampled,
        "load_avg": {
            "start": [round(x, 2) for x in load_start],
            "end": [round(x, 2) for x in os.getloadavg()],
        },
    }
    if task_detail:
        detail["task_s"] = {
            n: d.get("task_s", 0.0) for n, d in task_detail.items()
        }
        detail["gc_s"] = {
            n: d.get("gc_s", 0.0) for n, d in task_detail.items()
        }
        detail["jobs"] = {
            n: int(d.get("jobs", 0)) for n, d in task_detail.items()
        }
    print(json.dumps(detail), file=sys.stderr)
    compact = json.dumps(out)
    if len(compact) > 1900:
        # future-proofing: should the headline set outgrow the window,
        # drop the per-query dict (it survives in the stderr detail)
        # rather than ship another decade of unparseable artifacts
        out.pop("queries")
        compact = json.dumps(out)
    print(compact)


if __name__ == "__main__":
    main()
