"""Seeded food-diary day payloads in the reference API's wire format,
and the store contents the sync pipeline must end up with.

A day payload is ``{"food_entries": {"food_entry": [...]}}`` with every
field a string. The generator reproduces the wire quirks the pipeline
must survive, each at a stated share of days or entries:

- ``single``: a one-entry day whose ``food_entry`` is an object, not a list;
- ``null``: ``{"food_entries": null}``, an empty day;
- ``malformed``: a payload that is not JSON;
- ``missing``: no payload at all (the fetch returns None);
- per entry: no ``food_entry_id`` or an unparseable ``date_int`` (the
  entry is dropped), or a non-numeric nutrient (it reads as 0.0).

The generator knows which entries are valid, so :class:`Diary` keeps the
expected store (one row per fingerprint, last write wins) without
parsing its own output.
"""

from __future__ import annotations

import datetime
import json
import os
import random

EPOCH = datetime.date(1970, 1, 1)
NUTRIENTS = ("calories", "carbohydrate", "fat", "protein")
MEALS = ("breakfast", "lunch", "dinner", "other")

DAY_SHARES = {"single": 0.04, "null": 0.03, "malformed": 0.02, "missing": 0.02}
ENTRY_SHARES = {"no_id": 0.01, "bad_date": 0.01, "non_numeric": 0.02}


def _draw(rng: random.Random, shares: dict[str, float], default: str) -> str:
    """One kind, drawn with the given shares; ``default`` otherwise."""
    r = rng.random()
    for kind, share in shares.items():
        if r < share:
            return kind
        r -= share
    return default


class Diary:
    """One user's diary: the current payload of every day written so far
    and the expected store contents after syncing them."""

    def __init__(self, seed: int, fixture_dir: str, first_day: datetime.date,
                 entries_per_day: int):
        self.rng = random.Random(seed)
        self.dir = fixture_dir
        self.first_day = first_day
        self.per_day = entries_per_day
        self.days: list[datetime.date] = []
        self.valid: dict[datetime.date, dict[str, tuple]] = {}  # day -> fp -> row
        self.store: dict[str, tuple] = {}  # fingerprint -> (date, *nutrients)
        self.payload_bytes: dict[datetime.date, int] = {}
        self._serial = 0
        os.makedirs(fixture_dir, exist_ok=True)

    # -- generation --------------------------------------------------------

    def _entry(self, day: datetime.date) -> tuple[dict, tuple | None]:
        """One wire entry and its expected (fingerprint, row), or None
        when the pipeline must drop it."""
        self._serial += 1
        eid = f"e{self._serial:07d}"
        date_int = (day - EPOCH).days
        ts = str(1_700_000_000 + date_int * 100 + self._serial % 97)
        values = [round(self.rng.uniform(0, 900), 1) for _ in NUTRIENTS]
        wire = {
            "food_entry_id": eid,
            "date_int": str(date_int),
            "timestamp": ts,
            "meal": self.rng.choice(MEALS),
            "food_entry_name": f"food-{self.rng.randrange(500)}",
            "food_entry_description": "1 serving",
            **{n: f"{v:.1f}" for n, v in zip(NUTRIENTS, values)},
            "fiber": "2.0",
            "sugar": "1.5",
            "sodium": "120",
            "number_of_units": "1.000",
        }
        quirk = _draw(self.rng, ENTRY_SHARES, "none")
        if quirk == "no_id":
            del wire["food_entry_id"]
            return wire, None
        if quirk == "bad_date":
            wire["date_int"] = "not-a-day"
            return wire, None
        if quirk == "non_numeric":
            wire["calories"] = "n/a"
            values[0] = 0.0
        return wire, (f"{eid}_{date_int}_{ts}", (day, *values))

    def _write(self, day: datetime.date, payload: str | None) -> None:
        path = os.path.join(self.dir, f"{day.isoformat()}.json")
        if payload is None:
            if os.path.exists(path):
                os.remove(path)
            self.payload_bytes[day] = 0
            return
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(payload)
        self.payload_bytes[day] = len(payload.encode())

    def add_day(self) -> datetime.date:
        """Write the next day's payload, its kind drawn by the shares."""
        day = self.first_day + datetime.timedelta(days=len(self.days))
        self.days.append(day)
        kind = _draw(self.rng, DAY_SHARES, "list")
        self.valid[day] = {}
        if kind == "missing":
            self._write(day, None)
        elif kind == "malformed":
            self._write(day, '{"food_entries": {"food_entry": [{"food_en')
        elif kind == "null":
            self._write(day, json.dumps({"food_entries": None}))
        else:
            n = 1 if kind == "single" else self.per_day
            wires = []
            for _ in range(n):
                wire, row = self._entry(day)
                wires.append(wire)
                if row is not None:
                    self.valid[day][row[0]] = row[1]
            body = wires[0] if kind == "single" else wires
            self._write(day, json.dumps({"food_entries": {"food_entry": body}}))
        return day

    def edit_day(self, day: datetime.date) -> None:
        """A later edit of ``day``: three entries change their nutrients
        (same fingerprint, so the store updates them) and one entry is
        added. A day that had no usable payload becomes a list day."""
        path = os.path.join(self.dir, f"{day.isoformat()}.json")
        try:
            with open(path, encoding="utf-8") as fh:
                body = json.load(fh)["food_entries"]["food_entry"]
        except (OSError, ValueError, TypeError, KeyError):
            body = []
        wires = body if isinstance(body, list) else [body]
        for wire in self.rng.sample(wires, min(3, len(wires))):
            for n in NUTRIENTS:
                wire[n] = f"{round(self.rng.uniform(0, 900), 1):.1f}"
            eid, ts = wire.get("food_entry_id"), wire.get("timestamp")
            fp = f"{eid}_{wire['date_int']}_{ts}"
            if fp in self.valid[day]:
                self.valid[day][fp] = (day, *(float(wire[n]) for n in NUTRIENTS))
        wire, row = self._entry(day)
        wires.append(wire)
        if row is not None:
            self.valid[day][row[0]] = row[1]
        self._write(day, json.dumps({"food_entries": {"food_entry": wires}}))

    # -- expectations ------------------------------------------------------

    def synced(self, start: datetime.date, end: datetime.date) -> None:
        """Record that ``sync`` ran over [start, end]: every valid entry of
        those days is now in the store with its current values."""
        for day in self.days:
            if start <= day <= end:
                self.store.update(self.valid[day])

    def user_bytes(self) -> int:
        return sum(self.payload_bytes.values())
