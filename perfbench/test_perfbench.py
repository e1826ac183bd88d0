"""Fast checks of the benchmark's generator and reference model (no
Spark). Run with ``python3 -m pytest perfbench/test_perfbench.py``."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdc import CLEAN_MIX, ConsumerModel, EnvelopeGenerator, _envelope  # noqa: E402
from spans import _batch_of, _union_len  # noqa: E402


def _files(seed: int, n_files: int = 5, **kw):
    g = EnvelopeGenerator(seed, 50, **kw)
    return g.bootstrap(), [g.next_file(200) for _ in range(n_files)]


def test_generator_is_seeded():
    assert _files(3) == _files(3)
    assert _files(3) != _files(4)


def test_generator_mix_and_unique_stamps():
    boot, files = _files(5)
    lines = [l for f in files for l in f]
    kinds = {"corrupt" if l.startswith("#") else json.loads(l)["message"][0]["event"] for l in lines}
    assert kinds == {
        "rental_created", "rental_updated", "rental_destroyed", "rental_frobbed", "corrupt",
    }
    # one (id, stamp) always carries one content, for rentals and for
    # bookings, so keep-latest never chooses between different rows
    seen: dict[tuple, str] = {}
    for l in boot + lines:
        if l.startswith("#"):
            continue
        snap = json.loads(l)["message"][0]["data"][0]
        rows = [(("rental", snap["id"], snap["updated_at"]), snap)]
        rows += [(("booking", b["id"], b["updated_at"]), b) for b in snap["bookings"]]
        for key, row in rows:
            assert seen.setdefault(key, json.dumps(row, sort_keys=True)) == json.dumps(
                row, sort_keys=True
            ), key


def test_clean_mix_has_no_dead_letters():
    boot, files = _files(5, mix=CLEAN_MIX)
    m = ConsumerModel()
    for lines in (boot, *files):
        m.apply(lines)
    assert m.dead == [] and m.rentals and m.bookings


def _rental(rid, ts, bookings=(), canceled=None, name="r"):
    bs = [dict(id=b, updated_at=bts, canceled_at=bc, nights=1) for b, bts, bc in bookings]
    return {
        "id": rid, "created_at": "2024-01-01 00:00:00", "updated_at": ts,
        "canceled_at": canceled, "name": name, "price_cents": 1,
        "links": {"bookings": [b["id"] for b in bs]}, "bookings": bs,
    }


def test_model_semantics():
    m = ConsumerModel()
    t = "2024-01-01 00:00:0{}".format
    m.apply([
        _envelope("rental_created", _rental(1, t(1), [(10, t(1), None), (11, t(1), None)])),
        _envelope("rental_created", _rental(2, t(1), [(20, t(1), None)])),
        _envelope("rental_created", _rental(3, t(1))),
    ])
    assert set(m.rentals) == {1, 2, 3} and set(m.bookings) == {10, 11, 20}
    m.apply([
        # rental 1 drops booking 11 (J4 hard-deletes it), renames twice
        # in one batch (keep-latest), and a stale replay loses the guard
        _envelope("rental_updated", _rental(1, t(3), [(10, t(1), None)], name="new")),
        _envelope("rental_updated", _rental(1, t(2), [(10, t(1), None)], name="mid")),
        _envelope("rental_updated", _rental(1, "2023-12-31 23:59:59", name="stale")),
        # rental 2 cancels booking 20 and then drops it: a canceled child
        # is destroyed with its own row as payload, so it stays
        _envelope("rental_destroyed", _rental(2, t(4), [(20, t(4), t(4))], canceled=t(4))),
        _envelope("rental_destroyed", _rental(3, t(4))),  # hard destroy
        _envelope("rental_frobbed", _rental(1, t(5))),
        "#corrupt#{",
    ])
    assert m.rentals[1]["name"] == "new"
    assert m.rentals[2]["synced_canceled_at"] == t(4)
    assert 3 not in m.rentals
    assert set(m.bookings) == {10, 20}
    m.apply([_envelope("rental_updated", _rental(2, t(6), [], name="x"))])
    assert 20 in m.bookings  # an empty child list reconciles nothing
    m.apply([_envelope("rental_updated", _rental(2, t(7), [(21, t(7), None)]))])
    assert set(m.bookings) == {10, 20, 21}  # 20 is canceled, so J4 keeps it
    assert [e for e, _ in m.dead] == ["rental_frobbed", None]
    assert m.rentals[1]["synced_canceled_at"] is None


def test_trace_helpers():
    assert _batch_of("q\nid = x\nrunId = y\nbatch = 7") == ("x", 7)
    assert _batch_of("\nid = x\nrunId = y\nbatch = 7") == ("x", 7)
    assert _batch_of("q\nid = x\nbatch = init") is None
    assert _batch_of("q\nbatch = 7") is None
    assert _batch_of("batch = = 3") is None
    assert _batch_of(None) is None
    assert _union_len([(0, 2), (1, 3), (5, 6)]) == 4


def test_benchmark_json_matches_the_runner():
    import run
    import spans

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(spans.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit(m["name"]), m
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_catalog_content_hash_and_groups():
    import pandas as pd

    from catalog import content_hash
    from spans import _query_pass

    a = pd.DataFrame({"x": [1, 2], "y": [0.5, None], "z": [[1.0, 2.0], []]})
    b = pd.DataFrame({"z": [[], [1, 2]], "y": [float("nan"), 0.5], "x": [2.0, 1.0]})
    assert content_hash(a) == content_hash(b)
    assert content_hash(a) != content_hash(a.assign(y=[0.5000001, None]))
    assert _query_pass("perfbench:q1:3") == ("q1", 3)
    assert _query_pass("perfbench:a:b:4") == ("a:b", 4)
    assert _query_pass("perfbench:q1:x") is None
    assert _query_pass("perfbench:") is None
    assert _query_pass("4b1c-run-id") is None
