"""Seeded CDC envelope generator and an independent reference model of
the consumer's semantics.

The generator plays the producer: it keeps its own source-of-truth
rentals (each with a sideloaded ``bookings`` list) and emits envelope
lines, one event with one snapshot per line, in a fixed mix:

* updates with zipf-skewed keys (some shrink the booking list, which
  exercises J4 child reconciliation; some cancel a booking);
* creates, soft destroys (``canceled_at`` set) and hard destroys;
* stale replays, stamped older than anything the consumer stored;
* unknown event names and corrupt JSON, which must dead-letter.

Every timestamp is unique, so keep-latest never ties between different
rows. The program under test receives only the generated lines.

``ConsumerModel`` is a pure-Python restatement of what
``persist_batch`` must do with a batch of lines: per-batch keep-latest,
the F1 stale guard, soft and hard destroys, the child upsert plus J4
reconciliation, and dead-letter routing. It shares no code with the
program; the benchmark compares the final stores against it.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

BASE_TS = datetime(2024, 1, 1)

# Event mix (fractions of a file's lines; the remainder are updates).
# These fractions and the key skew are assumptions, not measurements:
# neither the reference nor its fixtures publish a production event mix.
# They are chosen so that every branch of the consumer runs in every
# file of the mix: creates, both destroy kinds, stale replays and, with
# MIX, dead letters. CLEAN_MIX has no unknown or corrupt lines, so its
# batches take persist_batch's path without a dead-letter write.
MIX = {
    "create": 0.08,
    "soft_destroy": 0.04,
    "hard_destroy": 0.03,
    "stale": 0.07,
    "unknown": 0.03,
    "corrupt": 0.02,
}
CLEAN_MIX = {k: v for k, v in MIX.items() if k not in ("unknown", "corrupt")}
ZIPF_S = 1.1  # skew exponent of the update keys (assumed)


def rental_schema():
    """Snapshot schema the consumer decodes with (imported lazily so the
    generator and model run without Spark)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    booking = StructType(
        [
            StructField("id", LongType()),
            StructField("updated_at", StringType()),
            StructField("canceled_at", StringType()),
            StructField("nights", LongType()),
        ]
    )
    return StructType(
        [
            StructField("id", LongType()),
            StructField("created_at", StringType()),
            StructField("updated_at", StringType()),
            StructField("canceled_at", StringType()),
            StructField("name", StringType()),
            StructField("price_cents", LongType()),
            StructField(
                "links", StructType([StructField("bookings", ArrayType(LongType()))])
            ),
            StructField("bookings", ArrayType(booking)),
        ]
    )


def _ts(offset_s: int) -> str:
    day, sec = divmod(offset_s, 86400)
    date = (BASE_TS + timedelta(days=day)).strftime("%Y-%m-%d")
    return f"{date} {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def _envelope(event: str, snapshot: dict) -> str:
    return json.dumps(
        {"message": [{"event": event, "model_name": "Rental", "data": [snapshot]}]},
        separators=(",", ":"),
    )


class EnvelopeGenerator:
    """Producer simulation. ``bootstrap()`` returns the initial state as
    create events; ``next_file(n)`` returns ``n`` lines of the mix."""

    def __init__(
        self, seed: int, n_rentals: int, bookings_per_rental: int = 2, mix: dict = MIX
    ):
        self.rng = random.Random(seed)
        self.mix = mix
        self.n_initial = n_rentals
        self.bookings_per = bookings_per_rental
        self.clock = 0  # seconds after BASE_TS, strictly increasing
        self.past = 0  # seconds before BASE_TS, for stale replays
        self.next_rental = 1
        self.next_booking = 1
        # producer truth: id -> snapshot (live and soft-destroyed rentals)
        self.rentals: dict[int, dict] = {}
        self.ids: list[int] = []  # rank order for the zipf draw

    def _tick(self) -> str:
        self.clock += 1
        return _ts(self.clock)

    def _stale_tick(self) -> str:
        self.past += 1
        return _ts(-self.past)

    def _booking(self, bid: int | None = None) -> dict:
        if bid is None:
            bid = self.next_booking
            self.next_booking += 1
        return {
            "id": bid,
            "updated_at": self._tick(),
            "canceled_at": None,
            "nights": self.rng.randint(1, 21),
        }

    def _new_rental(self) -> dict:
        rid = self.next_rental
        self.next_rental += 1
        now = self._tick()
        bookings = [self._booking() for _ in range(self.bookings_per)]
        return {
            "id": rid,
            "created_at": now,
            "updated_at": now,
            "canceled_at": None,
            "name": f"rental-{rid}-{self.rng.randrange(10**6)}",
            "price_cents": self.rng.randint(1_000, 500_000),
            "links": {"bookings": [b["id"] for b in bookings]},
            "bookings": bookings,
        }

    def _add(self, r: dict) -> None:
        # ``ids`` is in hotness order (rank 1 first); a new key lands at
        # a random rank so hot keys are not simply the oldest ones
        self.rentals[r["id"]] = r
        self.ids.insert(self.rng.randrange(len(self.ids) + 1), r["id"])

    def _pick(self) -> int:
        """Zipf-skewed key: inverse CDF of the continuous power law
        p(k) ~ k^-s on [1, n+1), truncated to a rank."""
        n = len(self.ids)
        a = 1.0 - ZIPF_S
        k = ((((n + 1) ** a - 1.0) * self.rng.random() + 1.0) ** (1.0 / a))
        return self.ids[min(int(k) - 1, n - 1)]

    def _remove(self, rid: int) -> None:
        del self.rentals[rid]
        self.ids.remove(rid)

    def bootstrap(self) -> list[str]:
        lines = []
        for _ in range(self.n_initial):
            r = self._new_rental()
            self.rentals[r["id"]] = r
            lines.append(_envelope("rental_created", r))
        self.ids = list(self.rentals)
        self.rng.shuffle(self.ids)
        return lines

    def _updated(self, r: dict) -> dict:
        r = dict(r)
        r["updated_at"] = self._tick()
        r["canceled_at"] = None  # an update of a canceled rental restores it
        r["price_cents"] = self.rng.randint(1_000, 500_000)
        bookings = list(r["bookings"])
        roll = self.rng.random()
        if roll < 0.2 and bookings:
            bookings.pop(self.rng.randrange(len(bookings)))  # shrink: J4
        elif roll < 0.35:
            bookings.append(self._booking())
        elif roll < 0.45 and bookings:
            i = self.rng.randrange(len(bookings))
            b = dict(bookings[i], updated_at=self._tick())
            b["canceled_at"] = b["updated_at"]
            bookings[i] = b
        elif bookings:
            i = self.rng.randrange(len(bookings))
            b = dict(bookings[i], updated_at=self._tick())
            b["nights"] = self.rng.randint(1, 21)
            bookings[i] = b
        r["bookings"] = bookings
        r["links"] = {"bookings": [b["id"] for b in bookings]}
        return r

    def _stale(self, r: dict) -> dict:
        """An old version of ``r``: every stamp predates BASE_TS, so the
        rental and each listed booking lose the F1 guard."""
        r = dict(r)
        r["updated_at"] = self._stale_tick()
        r["name"] = r["name"] + "-stale"
        r["bookings"] = [
            dict(b, updated_at=self._stale_tick(), nights=0) for b in r["bookings"]
        ]
        return r

    def next_file(self, n_lines: int) -> list[str]:
        lines = []
        for _ in range(n_lines):
            u = self.rng.random()
            kind = "update"
            for k, p in self.mix.items():
                if u < p:
                    kind = k
                    break
                u -= p
            if kind == "create" or len(self.ids) < 10:
                r = self._new_rental()
                self._add(r)
                lines.append(_envelope("rental_created", r))
                continue
            rid = self._pick()
            cur = self.rentals[rid]
            if kind == "update":
                r = self._updated(cur)
                self.rentals[rid] = r
                lines.append(_envelope("rental_updated", r))
            elif kind == "soft_destroy":
                r = dict(cur)
                r["updated_at"] = self._tick()
                r["canceled_at"] = r["updated_at"]
                self.rentals[rid] = r
                lines.append(_envelope("rental_destroyed", r))
            elif kind == "hard_destroy":
                r = dict(cur, updated_at=self._tick(), canceled_at=None)
                self._remove(rid)
                lines.append(_envelope("rental_destroyed", r))
            elif kind == "stale":
                lines.append(_envelope("rental_updated", self._stale(cur)))
            elif kind == "unknown":
                r = dict(cur, updated_at=self._tick())
                lines.append(_envelope("rental_frobbed", r))
            else:  # corrupt: not JSON from the first byte on
                line = _envelope("rental_updated", dict(cur, updated_at=self._tick()))
                lines.append("#corrupt#" + line[: len(line) // 2])
        return lines


def _drop_nulls(v):
    """The payload as the consumer archives it (Spark's to_json omits
    NULL struct fields at every depth)."""
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_drop_nulls(x) for x in v]
    return v


class ConsumerModel:
    """Reference state after applying batches of envelope lines.

    Rows are keyed by ``synced_id``; timestamps stay strings of one
    fixed format, so string order is time order."""

    def __init__(self):
        self.rentals: dict[int, dict] | None = None  # None = no version yet
        self.bookings: dict[int, dict] | None = None
        self.dead: list[tuple[str | None, str]] = []

    @staticmethod
    def _rental_row(s: dict) -> dict:
        return {
            "synced_id": s["id"],
            "synced_created_at": s.get("created_at"),
            "synced_updated_at": s.get("updated_at"),
            "synced_canceled_at": s.get("canceled_at"),
            "name": s.get("name"),
            "price_cents": s.get("price_cents"),
            "synced_booking_ids": (s.get("links") or {}).get("bookings"),
            "synced_data": s,  # archived as to_json renders it, NULLs dropped
        }

    @staticmethod
    def _booking_row(parent: int, b: dict) -> dict:
        return {
            "synced_parent_id": parent,
            "synced_id": b["id"],
            "synced_updated_at": b.get("updated_at"),
            "synced_canceled_at": b.get("canceled_at"),
            "nights": b.get("nights"),
            "synced_data": b,
        }

    @staticmethod
    def _keep_latest(rows: list[tuple[str, dict]]) -> dict[int, tuple[str, dict]]:
        out: dict[int, tuple[str, dict]] = {}
        for ev, row in rows:
            k = row["synced_id"]
            if k not in out or row["synced_updated_at"] > out[k][1]["synced_updated_at"]:
                out[k] = (ev, row)
        return out

    @staticmethod
    def _merge(store: dict[int, dict] | None, rows: list[tuple[str, dict]]):
        """One store.merge call: bootstrap when the store has no version,
        else the guarded MERGE (F1 guard, then F3 destroy branches)."""
        latest = ConsumerModel._keep_latest(rows)
        if store is None:
            return {k: r for k, (ev, r) in latest.items() if ev != "destroyed"}
        out = dict(store)
        for k, (ev, r) in latest.items():
            hard = ev == "destroyed" and r["synced_canceled_at"] is None
            tgt = out.get(k)
            if tgt is None:
                if not hard:
                    out[k] = r
                continue
            if r["synced_updated_at"] < tgt["synced_updated_at"]:
                continue  # F1: stale, keep the stored row
            if hard:
                del out[k]
            else:
                out[k] = r
        return out

    def apply(self, lines: list[str]) -> None:
        known: list[tuple[str, dict]] = []
        for line in lines:
            try:
                env = json.loads(line)
            except ValueError:
                self.dead.append((None, line))
                continue
            for evt in env["message"]:
                for snap in evt["data"]:
                    name = evt["event"]
                    action = name.rsplit("_", 1)[-1]
                    if action in ("created", "updated", "destroyed"):
                        known.append((action, snap))
                    else:
                        self.dead.append((name, line))
        if not known:
            return
        self.rentals = self._merge(
            self.rentals, [(ev, self._rental_row(s)) for ev, s in known]
        )
        children = [
            self._booking_row(s["id"], b) for _, s in known for b in s.get("bookings") or []
        ]
        if not children:
            return
        self.bookings = self._merge(self.bookings, [("updated", c) for c in children])
        # J4: a parent's payloads in this batch list its children; stored
        # children they no longer list are destroyed with their own row
        # as the payload (a canceled child is therefore kept as it is)
        listed = {(c["synced_parent_id"], c["synced_id"]) for c in children}
        parents = {p for p, _ in listed}
        stale = [
            ("destroyed", b)
            for b in self.bookings.values()
            if b["synced_parent_id"] in parents
            and (b["synced_parent_id"], b["synced_id"]) not in listed
        ]
        if stale:
            self.bookings = self._merge(self.bookings, stale)
