"""Drive ``run.py`` for the two reports the benchmark needs.

Spread of the end-to-end metrics over seeds (the steadiness check):

    python3 perfbench/report.py spread --workload cdc --seeds 1-10 --seconds 16

Traced report: for each workload one untraced and one traced run on the
same seed; writes the per-layer table, for each CDC phase the
reconciliation of span self times against ``triggerExecution``, the
per-query table of the catalog and the tracing overhead (traced minus
untraced end-to-end metrics):

    python3 perfbench/report.py traced --seed 1 --seconds 16 --out perfbench/results/traced

Each run is its own ``run.py`` process, run one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int, cpus: int | None) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        detail = os.path.join(tmp, "detail.json")
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--detail", detail,
        ]
        if cpus:
            cmd += ["--cpus", str(cpus)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-3000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(detail) as fh:
            out["detail"] = json.load(fh)["detail"]
    out["wall_s"] = wall
    return out


def spread(args) -> dict:
    runs = []
    for seed in _seeds(args.seeds):
        r = run_once(args.workload, seed, args.seconds, 0, args.cpus)
        runs.append(r)
        vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
        probe = r["detail"]["meta"]["cpu_probe_s"]
        print(
            f"seed {seed}: wall {r['wall_s']:.1f}s cpu_probe {probe:.3f}s "
            f"correct={r['correct']} failed={r['failed']} {vals}",
            flush=True,
        )
        if not r["correct"]:
            why = {
                k: r["detail"].get(k)
                for k in ("check", "backlog_exception", "trickle_exception", "stop", "checkout_changed")
            }
            print(f"seed {seed}: not correct: {why}", flush=True)
    table = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        table[name] = {
            "median": med,
            "q1": q[0],
            "q3": q[2],
            "iqr_share": (q[2] - q[0]) / med if med else None,
            "values": vals,
        }
        print(f"{name:20s} median {med:12.4f}  iqr/median {table[name]['iqr_share']:.4f}")
    return {
        "workload": args.workload,
        "seconds": args.seconds,
        "seeds": _seeds(args.seeds),
        "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
        "wall_s": [r["wall_s"] for r in runs],
        "cpu_probe_s": [r["detail"]["meta"]["cpu_probe_s"] for r in runs],
        "loadavg_start": [r["detail"]["meta"]["loadavg_start"][0] for r in runs],
        # per run, the times behind the metrics
        "runs": [
            {
                k: r["detail"].get(k)
                for k in (
                    "freshness_s", "cold_pass_s", "query_wall_s",
                    "session_start_s", "load_state_s", "model_s", "check_s",
                )
                if k in r["detail"]
            }
            | {
                f"{ph}_trigger_ms": [b["triggerExecution"] for b in r["detail"][f"{ph}_batch_ms"]]
                for ph in ("warmup", "trickle", "backlog")
                if f"{ph}_batch_ms" in r["detail"]
            }
            for r in runs
        ],
        "metrics": table,
    }


def _phase_table(rows: list[dict]) -> dict[str, float]:
    """Mean per timed micro-batch of one CDC phase, in ms (counts and
    bytes as they are): the reconciliation of span self times plus the
    engine overhead against ``triggerExecution``, then the layer times."""
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    layers = sorted({k for r in rows for k in r["span_self_s"]})
    out = {
        "trigger_ms": mean([r["trigger_s"] * 1e3 for r in rows]),
        "engine_overhead_ms": mean([(r["trigger_s"] - r["addBatch_s"]) * 1e3 for r in rows]),
        **{
            f"self_{layer}_ms": mean([r["span_self_s"].get(layer, 0.0) * 1e3 for r in rows])
            for layer in layers
        },
        "unattributed_ms": mean([r["unattributed_s"] * 1e3 for r in rows]),
    }
    for phase in ("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets"):
        out[f"stream.{phase}_ms"] = mean([r["stream_ms"].get(phase, 0) for r in rows])
    for k in ("persist_s", "build_s", "decode_task_s", "store_merge_s", "store_append_s",
              "store_read_s", "task_s", "gc_s", "deser_s", "fetch_wait_s", "idle_s"):
        out[k[:-2] + "_ms"] = mean([r[k] * 1e3 for r in rows])
    for k in ("jobs", "stages", "tasks", "merge_calls", "store_bytes_written",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[k] = mean([r[k] for r in rows])
    return out


def traced(args) -> dict:
    report = {"seed": args.seed, "seconds": args.seconds, "cpus": args.cpus, "workloads": {}}
    for w in args.workloads.split(","):
        plain = run_once(w, args.seed, args.seconds, 0, args.cpus)
        tr = run_once(w, args.seed, args.seconds, 1, args.cpus)
        e2e_plain = {k: v["value"] for k, v in plain["metrics"].items()}
        e2e_traced = tr["detail"]["end_to_end"]
        per_batch = tr["detail"].get("per_batch", {})
        report["workloads"][w] = {
            "correct": plain["correct"] and tr["correct"],
            "end_to_end_untraced": e2e_plain,
            "end_to_end_traced": e2e_traced,
            "tracing_overhead": {
                k: {
                    "traced_minus_untraced": e2e_traced[k] - e2e_plain[k],
                    "share": (e2e_traced[k] - e2e_plain[k]) / e2e_plain[k] if e2e_plain[k] else None,
                }
                for k in e2e_plain
                if k in e2e_traced
            },
            "per_layer": {k: v["value"] for k, v in tr["metrics"].items()},
            "units": {k: v["unit"] for k, v in tr["metrics"].items()},
            "phases_mean_per_batch": {ph: _phase_table(rows) for ph, rows in per_batch.items()},
            "per_query": tr["detail"].get("per_query", {}),
            "detail": {
                k: v
                for k, v in tr["detail"].items()
                if k not in ("spans", "jobs", "per_batch", "per_query", "end_to_end")
            },
        }
        print(f"{w}: done", flush=True)
    return report


def to_markdown(report: dict) -> str:
    lines = [
        f"# Traced run, seed {report['seed']}, {report['seconds']} s per run"
        + (f", local[{report['cpus']}]" if report.get("cpus") else ""),
        "",
    ]
    for w, r in report["workloads"].items():
        lines += [f"## {w}", "", f"Output check passed: {r['correct']}", ""]
        lines += ["| end-to-end metric | untraced | traced | overhead |", "|---|---|---|---|"]
        for k, v in r["end_to_end_untraced"].items():
            t = r["end_to_end_traced"].get(k)
            o = r["tracing_overhead"].get(k, {}).get("share")
            lines.append(
                f"| {k} | {v:.4g} | {t:.4g} | {o:+.1%} |" if t is not None and o is not None
                else f"| {k} | {v:.4g} | | |"
            )
        lines += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        for k, v in r["per_layer"].items():
            lines.append(f"| {k} | {v:.4g} | {r['units'][k]} |")
        phases = r["phases_mean_per_batch"]
        if phases:
            names = list(phases)
            lines += ["", "Mean per timed micro-batch (ms unless a count or bytes):", ""]
            lines += ["| part | " + " | ".join(names) + " |", "|---" * (len(names) + 1) + "|"]
            for k in phases[names[0]]:
                lines.append(
                    f"| {k} | " + " | ".join(f"{phases[n].get(k, 0):.4g}" for n in names) + " |"
                )
        if r["per_query"]:
            lines += ["", "Per query, median over the warm passes:", ""]
            lines += ["| query | wall_s | construct_s | execute_s | jobs | task_s |",
                      "|---|---|---|---|---|---|"]
            for q, v in sorted(r["per_query"].items(), key=lambda kv: -kv[1]["execute_s"]):
                lines.append(
                    f"| {q} | {v['construct_s'] + v['execute_s']:.3f} | {v['construct_s']:.3f}"
                    f" | {v['execute_s']:.3f} | {v['jobs']:.0f} | {v['task_s']:.3f} |"
                )
        lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench reports")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    tp = sub.add_parser("traced")
    tp.add_argument("--workloads", default="cdc,catalog")
    tp.add_argument("--seed", type=int, default=1)
    for p in (sp, tp):
        p.add_argument("--seconds", type=float, default=16)
        p.add_argument("--cpus", type=int, default=None)
        p.add_argument("--out", help="write <out>.json (and <out>.md for traced)")
    args = ap.parse_args()
    report = spread(args) if args.cmd == "spread" else traced(args)
    if args.out:
        with open(args.out + ".json", "w") as fh:
            json.dump(report, fh, indent=1)
        if args.cmd == "traced":
            with open(args.out + ".md", "w") as fh:
                fh.write(to_markdown(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
