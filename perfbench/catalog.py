"""The ``catalog`` workload: the 31 ``bench=True`` catalog queries.

Data: the ten tables of the seeded generator in
``tests/test_fuzz_parity.py`` (sf0.001-sized, the same schemas and value
domains as the test datasets), drawn with ``DATA_SEED`` and written under
the run's work directory. The data is the same on every run, so each
query's DuckDB-oracle answer is pinned in ``catalog_oracle.json`` as a
row count and an order-insensitive content hash. Re-pin after a change
to the generator or to a query's oracle with

    python3 perfbench/catalog.py --pin

which runs each oracle in DuckDB, checks that Spark's answer matches it
by the rules of ``tests/test_oracle_parity.py`` (exact floats, order
ignored) and that the content hash agrees, and rewrites the pins.

The inputs do not depend on ``--seed``: with fixed data the oracle
answers can be pinned, and every pass runs the queries in one fixed
order, so that one query's leftovers (cached plans, garbage, compiled
code) meet the next query the same way in every run.

A run: a cold pass collects every query and compares it with its pin,
outside the timed region. Then warm passes run: at least
``MIN_WARM_PASSES``, and another one while it would still end within
``--seconds`` at the last pass's speed; each query is built (``qd.fn``) and written to
the noop sink under the job group ``perfbench:<query>:<pass>``.
``latency_s`` is the sum over queries of each query's median warm wall
time; ``throughput_per_s`` is warm queries per second of the timed
passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
from datetime import datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "catalog_oracle.json")
DATA_SEED = 1337  # the fuzz-parity test's default draw
MIN_WARM_PASSES = 1
SETTLE_S = 2.0


def _render(v) -> str:
    """One value as text, equal for values the oracle parity test
    counts as equal (floats exactly; 5 and 5.0 alike)."""
    import numpy as np
    import pandas as pd

    if v is None:
        return "~"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_render(x) for x in list(v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    try:
        if pd.isna(v):
            return "~"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).floor("us").isoformat()
    return str(v)


def content_hash(df) -> list:
    """[rows, order-insensitive SHA-1] of a pandas frame."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(_render(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha1("\x02".join(cols).encode())
    for r in rows:
        h.update(b"\x03" + r.encode())
    return [len(rows), h.hexdigest()]


def write_data(out: str) -> None:
    """The generated tables as parquet files in ``out``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from test_fuzz_parity import _gen_tables

    os.makedirs(out)
    for name, df in _gen_tables(np.random.default_rng(DATA_SEED)).items():
        if name == "embeddings":
            tbl = pa.table(
                {
                    "vec_id": pa.array(df["vec_id"], pa.int64()),
                    "embedding": pa.array(
                        [list(map(float, v)) for v in df["embedding"]],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(df["label"], pa.int32()),
                }
            )
        else:
            tbl = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def settle(spark) -> None:
    """Start the timed region from the same JVM state in every run: a
    full collection, then a pause in which the compiler threads finish
    the work the warm-up queued for them."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(SETTLE_S)


def bench_queries() -> dict:
    from dionysus_rb_spark.plans import all_queries

    return {n: q for n, q in sorted(all_queries().items()) if q.bench}


def run(sess, seed: int, seconds: float, recorder, t_process: float, deadline: float) -> dict:
    """One run; a query not started by ``deadline`` (epoch seconds)
    counts as failed."""
    spark = sess.spark
    sc = spark.sparkContext
    data = os.path.join(sess.work, "catalog_data")
    t0 = time.perf_counter()
    write_data(data)
    gen_s = time.perf_counter() - t0
    queries = bench_queries()
    with open(PINS) as fh:
        pins = json.load(fh)
    problems: list[str] = []
    failed: set[str] = set()

    # cold pass = output check; outside the timed region
    t0 = time.perf_counter()
    for name, qd in queries.items():
        if time.time() > deadline:
            got = "not run by the deadline"
        else:
            try:
                got = content_hash(qd.fn(spark, data).toPandas())
            except Exception as exc:  # noqa: BLE001 - one query's failure is counted, not fatal
                got = f"{type(exc).__name__}: {str(exc)[:300]}"
        if got != pins.get(name):
            failed.add(name)
            problems.append(f"{name}: {got} != pinned oracle {pins.get(name)}")
    cold_s = time.perf_counter() - t0

    walls: dict[str, list[float]] = {n: [] for n in queries}
    settle(spark)
    setup_s = time.time() - t_process
    t_start = time.perf_counter()
    passes = 0
    t_pass = t_start
    while passes < MIN_WARM_PASSES or 2 * time.perf_counter() - t_pass - t_start <= seconds:
        t_pass = time.perf_counter()
        for name in queries:
            qd = queries[name]
            if time.time() > deadline:
                failed.add(name)
                problems.append(f"{name} pass {passes}: not run by the deadline")
                continue
            sc.setJobGroup(f"perfbench:{name}:{passes}", name)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                if recorder:
                    with recorder.span("catalog.construct", query=name, pass_=passes):
                        df = qd.fn(spark, data)
                    with recorder.span("catalog.execute", query=name, pass_=passes):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    qd.fn(spark, data).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                failed.add(name)
                problems.append(f"{name} pass {passes}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            walls[name].append(time.perf_counter() - t0)
        passes += 1
    timed_s = time.perf_counter() - t_start
    sc.setJobGroup("", "")
    med = {n: statistics.median(w) for n, w in walls.items() if w}
    done = sum(len(w) for w in walls.values())
    return {
        "correct": not problems,
        "attempted": len(queries) * (passes + 1),
        "failed": len(failed),
        "metrics": {
            "setup_s": setup_s,
            "latency_s": sum(med.values()) if len(med) == len(queries) else float("nan"),
            "throughput_per_s": done / timed_s,
        },
        "detail": {
            "session_start_s": sess.start_s,
            "gen_s": gen_s,
            "cold_pass_s": cold_s,
            "warm_passes": passes,
            "check": problems or "every query matches its pinned DuckDB oracle answer",
            "query_wall_s": med,
        },
        "queries": list(queries),
    }


def pin() -> int:
    """Recompute ``catalog_oracle.json`` from DuckDB (see the module
    docstring); exits non-zero if Spark disagrees with an oracle."""
    import shutil

    import run as runner

    work = os.path.join(runner.WORK_PARENT, f"pin-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    sess = None
    try:
        runner._prepare_env(work)
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from test_oracle_parity import _duck, frames_match

        data = os.path.join(work, "data")
        write_data(data)
        sess = runner.Session(work, 4, trace=False)
        pins, bad = {}, []
        for name, qd in bench_queries().items():
            got = qd.fn(sess.spark, data).toPandas()
            con = _duck(data)
            want = con.execute(qd.oracle).df()
            con.close()
            pins[name] = content_hash(want)
            if not frames_match(got, want) or content_hash(got) != pins[name]:
                bad.append(name)
    finally:
        if sess is not None:
            sess.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(runner.WORK_PARENT)
        except OSError:
            pass  # another run's work directory is still there
    if bad:
        print(f"Spark differs from the oracle on {bad}; pins not written", file=sys.stderr)
        return 1
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} oracle answers in {PINS}")
    return 0


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python3 perfbench/catalog.py --pin")
    sys.exit(pin())
