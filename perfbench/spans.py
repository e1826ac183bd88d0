"""Traced mode: spans around the calls into each layer, the Spark event
log attributed to those spans, and the per-layer metrics.

Spans are recorded from the benchmark's side by wrapping the public
functions the consumer path calls (the program is not edited):

* ``persistor.persist_batch``: one span per micro-batch body;
* ``build.*``: the lazy plan builders ``decode_envelope``,
  ``deserialize``, ``canonical_columns``, ``dispatch_events`` and
  ``guarded_merge`` (pure driver and Py4J time);
* ``store.merge`` / ``store.append`` / ``store.read``: the
  ``SnapshotStore`` calls.

Each span keeps name, start, end, parent and micro-batch ordinal in
memory; the run writes them out at exit. A span's self time is its
duration minus the union of its children's intervals.

Spark jobs are attributed from the event log: the streaming engine tags
every job of a micro-batch with its query id and batch id in the job
description, which gives the batch; within the batch a job belongs to
the innermost span whose interval holds its submission time
(micro-batches run one at a time, so the interval is unambiguous). The
catalog workload runs each query under the job group
``perfbench:<query>:<pass>``; a group that does not parse is skipped on
its own. Only successful task attempts count.

A span of the catalog workload (``catalog.construct`` for ``qd.fn``,
``catalog.execute`` for the noop write) is opened by the workload itself.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

BUILDERS = (
    "decode_envelope",
    "deserialize",
    "canonical_columns",
    "dispatch_events",
)
TASK_FIELDS = (
    "task_s",
    "gc_s",
    "deser_s",
    "tasks",
    "stages",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "fetch_wait_s",
    "spill_bytes",
)


class Recorder:
    """In-memory span recorder installed by wrapping module attributes."""

    def __init__(self):
        self.spans: list[dict] = []
        self.batches = 0  # persist_batch calls so far
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            if name == "persistor.persist_batch":
                self.batches += 1
            span = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "batch": self.batches - 1,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(span)
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from dionysus_rb_spark.consumer import persistor
        from dionysus_rb_spark.streaming import snapshot_store

        self._wrap(persistor, "persist_batch", "persistor.persist_batch")
        for fn in BUILDERS:
            self._wrap(persistor, fn, f"build.{fn}")
        self._wrap(snapshot_store, "guarded_merge", "build.guarded_merge")
        for m in ("merge", "append", "read"):
            self._wrap(snapshot_store.SnapshotStore, m, f"store.{m}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# -- event log ---------------------------------------------------------------


def _batch_of(description: str | None) -> tuple[str, int] | None:
    """(query id, micro-batch id) that the streaming engine writes into
    a job's description (``...\\nid = <uuid>\\nrunId = ...\\nbatch = 7``);
    None when absent or malformed."""
    if not description:
        return None
    fields = {}
    for line in description.split("\n"):
        key, sep, value = line.partition(" = ")
        if sep:
            fields[key.strip()] = value.strip()
    try:
        return fields["id"], int(fields["batch"])
    except (KeyError, ValueError):
        return None


def _query_pass(group: str | None) -> tuple[str, int] | None:
    """``perfbench:<query>:<pass>`` -> (query, pass); None for any other
    or malformed group, so one bad group never spoils the rest."""
    if not group or not group.startswith("perfbench:"):
        return None
    query, sep, p = group[len("perfbench:"):].rpartition(":")
    if not sep or not query:
        return None
    try:
        return query, int(p)
    except ValueError:
        return None


def read_event_log(event_dir: str, app_id: str) -> list[dict]:
    """Jobs of the application, each with submission and completion
    time (epoch s), its micro-batch id if any, and task totals over
    successful attempts only."""
    path = os.path.join(event_dir, app_id)
    if not os.path.exists(path):
        alt = path + ".inprogress"
        path = alt if os.path.exists(alt) else path
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a torn last line of an unfinished log
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "submit": ev.get("Submission Time", 0) / 1e3,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "batch": _batch_of(props.get("spark.job.description")),
                    "stage_ids": set(),
                    "bytes_written": 0,
                    **{f: 0 for f in TASK_FIELDS},
                }
                jobs[job["id"]] = job
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, job["id"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if reason != "Success" or job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                job["stage_ids"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["task_s"] += m.get("Executor Run Time", 0) / 1e3
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                job["bytes_written"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    for job in jobs.values():
        job["stages"] = len(job.pop("stage_ids"))
    return sorted(jobs.values(), key=lambda j: j["submit"])


# -- attribution ---------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _layer(name: str) -> str:
    return name.split(".", 1)[0]


def attribute(spans: list[dict], jobs: list[dict], stream_batches: dict) -> None:
    """Set ``job["span"]`` to the innermost span of the job's micro-batch
    whose interval holds the job's submission. ``stream_batches`` maps
    (query id, batch id) to the persist_batch ordinal of that batch; a
    job without a known batch is placed by its interval alone."""
    by_batch: dict[int, list[dict]] = {}
    for s in spans:
        by_batch.setdefault(s["batch"], []).append(s)
    for job in jobs:
        ordinal = stream_batches.get(job["batch"])
        candidates = by_batch.get(ordinal, []) if ordinal is not None else spans
        best = None
        for s in candidates:
            if s["end"] is not None and s["start"] <= job["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        job["span"] = best["id"] if best else None


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# the per-layer metrics every run prints (BENCHMARK.json's order); a
# layer a workload does not run reads 0, and such layers report counts,
# bytes or shares of the operation's time so that no time reads 0
OP_FIELDS = ("jobs", "stages", "tasks", "task_s", "gc_s", "deser_s")
OP_BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
PER_LAYER = (
    "session.start_s",
    "session.peak_rss_mb",
    "op.wall_s",
    "op.build_s",
    *(f"op.{f}" for f in OP_FIELDS),
    "op.idle_s",
    *(f"op.{f}" for f in OP_BYTES),
    "stream.engine_share",
    "persistor.self_share",
    "store.share",
    "store.append_share",
    "store.merge_calls",
    "store.bytes_written",
    "store.write_amp",
    "store.state_bytes",
    "backlog.store_share",
    "backlog.decode_share",
    "backlog.write_amp",
    "trace.unattributed_share",
    "gen.backlog_max_files",
    "gen.envelope_bytes",
)


def _phase_batches(phase: dict, spans: list[dict], jobs: list[dict], cores: int) -> list[dict]:
    """Per timed micro-batch of one CDC phase: its stream phases, span
    times and the task totals of the jobs attributed to its spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}

    def self_time(s: dict) -> float:
        return (s["end"] - s["start"]) - _union_len(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        )

    persist = {s["batch"]: s for s in spans if s["name"] == "persistor.persist_batch"}
    out = []
    for i, b in enumerate(phase["timed"]):
        p = persist.get(phase["timed_ordinal"] + i)
        if p is None:
            continue
        # spans inside this batch's persist_batch (the output check after
        # the timed region also reads the stores, under the last ordinal)
        mine = [
            s
            for s in spans
            if s["batch"] == p["batch"] and p["start"] <= s["start"] <= s["end"] <= p["end"]
        ]
        ids = {s["id"] for s in mine}
        bjobs = [j for j in jobs if j["span"] in ids]
        store_jobs = [j for j in bjobs if _layer(by_id[j["span"]]["name"]) == "store"]
        # a builder span inside another builder span is counted in it
        builders = [
            s
            for s in mine
            if _layer(s["name"]) == "build"
            and (s["parent"] is None or _layer(by_id[s["parent"]]["name"]) != "build")
        ]
        trigger_s = b.duration_ms.get("triggerExecution", 0) / 1e3
        rec = {
            "batch": b.batch_id,
            "trigger_s": trigger_s,
            "addBatch_s": b.duration_ms.get("addBatch", 0) / 1e3,
            "stream_ms": dict(b.duration_ms),
            "persist_s": p["end"] - p["start"],
            "persist_self_s": self_time(p),
            "build_s": sum(s["end"] - s["start"] for s in builders),
            "decode_task_s": bjobs[0]["task_s"] if bjobs else 0.0,
            "store_bytes_written": sum(j["bytes_written"] for j in store_jobs),
            "merge_calls": sum(1 for s in mine if s["name"] == "store.merge"),
            "span_self_s": {},
        }
        for op in ("merge", "append", "read"):
            rec[f"store_{op}_s"] = sum(
                s["end"] - s["start"] for s in mine if s["name"] == f"store.{op}"
            )
        for f in (*OP_FIELDS, *OP_BYTES, "fetch_wait_s"):
            rec[f] = len(bjobs) if f == "jobs" else sum(j[f] for j in bjobs)
        for s in mine:
            layer = _layer(s["name"])
            rec["span_self_s"][layer] = rec["span_self_s"].get(layer, 0.0) + self_time(s)
        rec["idle_s"] = trigger_s - rec["task_s"] / cores
        rec["unattributed_s"] = rec["addBatch_s"] - rec["persist_s"]
        out.append(rec)
    return out


def cdc_layers(result: dict, sess, cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced CDC run: ``op.*`` and the store
    shares per timed trickle micro-batch (times as medians, counts and
    bytes as means), ``backlog.*`` per timed backlog micro-batch."""
    rec: Recorder = result["recorder"]
    detail = result["detail"]
    spans = [s for s in rec.spans if s["end"] is not None]
    jobs = read_event_log(sess.event_dir, sess.app_id)
    phases = result["phases"]
    stream_batches = {
        (ph["query_id"], b.batch_id): ph["timed_ordinal"] + i
        for ph in phases.values()
        for i, b in enumerate(ph["timed"])
    }
    attribute(spans, jobs, stream_batches)
    per = {name: _phase_batches(ph, spans, jobs, cores) for name, ph in phases.items()}
    t, bl = per["trickle"], per["backlog"]

    def med(rows, key):
        return _median([r[key] for r in rows])

    def mean(rows, key):
        return _mean([r[key] for r in rows])

    def share(rows, part):
        return _median([part(r) / r["trigger_s"] for r in rows if r["trigger_s"]])

    def store_s(r):
        return r["store_merge_s"] + r["store_append_s"] + r["store_read_s"]

    m = {f: 0.0 for f in PER_LAYER}
    m["session.start_s"] = sess.start_s
    m["op.wall_s"] = med(t, "trigger_s")
    m["op.build_s"] = med(t, "build_s")
    for f in OP_FIELDS + ("idle_s",):
        m[f"op.{f}"] = med(t, f) if f.endswith("_s") else mean(t, f)
    for f in OP_BYTES:
        m[f"op.{f}"] = mean(t, f)
    m["stream.engine_share"] = share(t, lambda r: r["trigger_s"] - r["addBatch_s"])
    m["persistor.self_share"] = share(t, lambda r: r["persist_self_s"])
    m["store.share"] = share(t, store_s)
    m["store.append_share"] = share(t, lambda r: r["store_append_s"])
    m["store.merge_calls"] = mean(t, "merge_calls")
    m["store.bytes_written"] = mean(t, "store_bytes_written")
    m["store.write_amp"] = sum(r["store_bytes_written"] for r in t) / max(
        1, phases["trickle"]["envelope_bytes"]
    )
    m["store.state_bytes"] = detail["state_bytes"]
    m["backlog.store_share"] = share(bl, store_s)
    m["backlog.decode_share"] = share(bl, lambda r: r["decode_task_s"] / cores)
    m["backlog.write_amp"] = sum(r["store_bytes_written"] for r in bl) / max(
        1, phases["backlog"]["envelope_bytes"]
    )
    m["trace.unattributed_share"] = share(t, lambda r: r["unattributed_s"])
    m["gen.backlog_max_files"] = detail["gen_backlog_max_files"]
    m["gen.envelope_bytes"] = phases["trickle"]["envelope_bytes"]
    detail["per_batch"] = per
    detail["spans"] = spans
    detail["jobs"] = [
        {k: v for k, v in j.items() if k != "group"} for j in jobs if j["span"] is not None
    ]
    return m


def catalog_layers(result: dict, sess, cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced catalog run: jobs are attributed to
    (query, pass) by job group, construction and execution times come
    from the spans; each ``op.*`` is the sum over queries of the
    query's median across the warm passes, so one op is one pass."""
    rec: Recorder = result["recorder"]
    jobs = read_event_log(sess.event_dir, sess.app_id)
    fields = ("jobs", *TASK_FIELDS)
    per: dict[tuple[str, int], dict[str, float]] = {}
    for job in jobs:
        key = _query_pass(job["group"])
        if key is None:
            continue
        d = per.setdefault(key, dict.fromkeys(fields, 0.0))
        d["jobs"] += 1
        for f in TASK_FIELDS:
            d[f] += job[f]
    for s in rec.spans:
        if s["end"] is None or "query" not in s:
            continue
        d = per.setdefault((s["query"], s["pass_"]), dict.fromkeys(fields, 0.0))
        d[s["name"].split(".", 1)[1] + "_s"] = s["end"] - s["start"]

    per_query: dict[str, dict[str, float]] = {}
    for q in result["queries"]:
        rows = [d for (qq, _), d in per.items() if qq == q]
        per_query[q] = {
            f: _median([d.get(f, 0.0) for d in rows])
            for f in ("construct_s", "execute_s", *fields)
        }

    def total(f: str) -> float:
        return sum(v[f] for v in per_query.values())

    m = {f: 0.0 for f in PER_LAYER}
    m["session.start_s"] = sess.start_s
    m["op.wall_s"] = total("construct_s") + total("execute_s")
    m["op.build_s"] = total("construct_s")
    for f in OP_FIELDS + OP_BYTES:
        m[f"op.{f}"] = total(f)
    m["op.idle_s"] = m["op.wall_s"] - total("task_s") / cores
    result["detail"]["per_query"] = per_query
    return m
