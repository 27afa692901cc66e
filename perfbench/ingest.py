"""Seeded food-entry day payloads and a pure-Python model of the store.

The generator writes one ``<date>.json`` file per day in the wire
shape ``{"food_entries": {"food_entry": X}}`` (FIXTURES.md A1/A2), as
the REST source would serve it for one sync window. Entries live in a
per-day book that changes between windows, so successive overlapping
syncs see:

- multi-entry days (``X`` a list) and single-entry days (``X`` one
  object);
- empty days (``"food_entries": null``, a missing envelope, or no file
  at all);
- malformed days (invalid JSON, a JSON array instead of an object) and
  malformed entries (missing ``food_entry_id``, a ``date_int`` that is
  not a number, a calorie string that is not a number);
- fingerprints repeated across windows, unchanged;
- one changed nutrient on an existing fingerprint;
- new fingerprints.

:class:`StoreModel` replays the same payloads with the reference
semantics (skip what cannot be parsed, coerce bad numbers to 0.0,
dedup by fingerprint, the latest write wins) and then applies the
same update and delete steps the benchmark runs on the real store.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random

EPOCH = datetime.date(1970, 1, 1)
MEALS = ("breakfast", "lunch", "dinner", "other")
FOODS = ("oats", "apple", "rice", "tofu", "salmon", "bread", "yogurt", "beans")
NUTRIENTS = ("calories", "carbohydrate", "fat", "protein", "fiber", "sugar", "sodium")
# How the days of one window are served: one empty day, one malformed
# day and one day with malformed entries among them (each drawn from
# its kind), the rest as they are, so every window drops the same
# number of days.
EMPTY_SHAPES = ("null", "no_envelope", "missing_file")
MALFORMED_SHAPES = ("bad_json", "not_object")
# columns of the store row, in the order normalize_day_payloads emits
COLUMNS = (
    "food_entry_id",
    "date",
    "date_int",
    "timestamp",
    "meal",
    "food_entry_name",
    "food_entry_description",
    *NUTRIENTS,
    "number_of_units",
    "fingerprint",
)


def _num(rng: random.Random, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.2f}"


class DayBook:
    """Every day's entries as the API would return them right now.

    ``advance(window_days)`` mutates the book the way a user's log
    changes between two syncs: new entries appear and one existing
    entry gets one nutrient edited. ``write_window`` then serves the
    window's days as fixture files."""

    def __init__(self, seed: int, entries_per_day: int):
        self.rng = random.Random(seed)
        self.entries_per_day = entries_per_day
        self.days: dict[datetime.date, list[dict]] = {}
        self._next_id = 0

    def _new_entry(self, day: datetime.date) -> dict:
        rng = self.rng
        self._next_id += 1
        date_int = (day - EPOCH).days
        entry = {
            "food_entry_id": f"fe{self._next_id:07d}",
            # the wire sometimes carries epoch days as a float string
            "date_int": f"{date_int}.0" if rng.random() < 0.2 else str(date_int),
            "timestamp": str(1_700_000_000 + date_int * 86400 + rng.randrange(86400)),
            "meal": rng.choice(MEALS),
            "food_entry_name": rng.choice(FOODS),
            "food_entry_description": rng.choice(("1 cup", "1 serving", "100 g")),
            "calories": _num(rng, 20, 900),
            "carbohydrate": _num(rng, 0, 120),
            "fat": _num(rng, 0, 60),
            "protein": _num(rng, 0, 80),
            "number_of_units": _num(rng, 0.5, 3),
        }
        # optional nutrients: absent on some entries (default 0.0)
        for n in ("fiber", "sugar", "sodium"):
            if rng.random() < 0.8:
                entry[n] = _num(rng, 0, 40)
        if rng.random() < 0.02:
            entry["calories"] = "n/a"  # coerces to 0.0
        return entry

    def advance(self, window: list[datetime.date]) -> None:
        rng = self.rng
        for day in window:
            book = self.days.get(day)
            if book is None:
                # every tenth day holds a single entry
                n = 1 if day.toordinal() % 10 == 0 else self.entries_per_day
                self.days[day] = [self._new_entry(day) for _ in range(n)]
            else:
                book.append(self._new_entry(day))  # a new fingerprint
        # one changed nutrient on one existing fingerprint
        seen = [e for d in window if d in self.days for e in self.days[d]]
        if seen:
            victim = rng.choice(seen)
            victim[rng.choice(NUTRIENTS[:4])] = _num(rng, 1, 500)

    def payload(self, day: datetime.date, shape: str) -> str | None:
        """The wire text for one day, or None for a missing file."""
        entries = self.days.get(day, [])
        if shape == "missing_file":
            return None
        if shape == "null":
            return json.dumps({"food_entries": None})
        if shape == "no_envelope":
            return json.dumps({"other": 1})
        if shape == "bad_json":
            return '{"food_entries": {"food_entry": [ {"food_entry_id": '
        if shape == "not_object":
            return json.dumps([1, 2, 3])
        if len(entries) == 1:
            # the reference's single-entry day: an object, not a list
            return json.dumps({"food_entries": {"food_entry": entries[0]}})
        body = list(entries)
        if len(body) > 2:
            # an exact duplicate inside one payload (dedup path)
            body.append(body[len(body) // 2])
        if shape == "bad_entries":
            no_id = self._new_entry(day)
            del no_id["food_entry_id"]
            bad_date = self._new_entry(day)
            bad_date["date_int"] = "not-a-number"
            body += [no_id, bad_date]
        return json.dumps({"food_entries": {"food_entry": body}})

    def write_window(self, fixture_dir: str, window: list[datetime.date]) -> dict[str, str | None]:
        """(Re)write the fixture files of ``window``; returns date →
        payload text (None where the file is absent)."""
        os.makedirs(fixture_dir, exist_ok=True)
        rng = self.rng
        shapes = [rng.choice(EMPTY_SHAPES), rng.choice(MALFORMED_SHAPES), "bad_entries"]
        shapes += ["entries"] * (len(window) - len(shapes))
        rng.shuffle(shapes)
        served: dict[str, str | None] = {}
        for day, shape in zip(window, shapes):
            text = self.payload(day, shape)
            path = os.path.join(fixture_dir, f"{day.isoformat()}.json")
            if text is None:
                if os.path.exists(path):
                    os.remove(path)
            else:
                with open(path, "w", encoding="utf-8") as f:
                    f.write(text)
            served[day.isoformat()] = text
        return served


def _double(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _opt_double(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _date_int(v) -> int | None:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return None


def normalize(text: str | None) -> list[dict]:
    """Reference semantics of one day payload → typed store rows."""
    if text is None:
        return []
    try:
        doc = json.loads(text)
    except ValueError:
        return []
    if not isinstance(doc, dict) or not isinstance(doc.get("food_entries"), dict):
        return []
    raw = doc["food_entries"].get("food_entry")
    if isinstance(raw, dict):
        raw = [raw]
    if not isinstance(raw, list):
        return []
    rows = []
    for e in raw:
        if not isinstance(e, dict) or e.get("food_entry_id") is None:
            continue
        di = _date_int(e.get("date_int"))
        if di is None:
            continue
        row = {
            "food_entry_id": e["food_entry_id"],
            "date": EPOCH + datetime.timedelta(days=di),
            "date_int": di,
            "timestamp": e.get("timestamp"),
            "meal": e.get("meal"),
            "food_entry_name": e.get("food_entry_name"),
            "food_entry_description": e.get("food_entry_description"),
            **{n: _double(e.get(n)) for n in NUTRIENTS},
            "number_of_units": _opt_double(e.get("number_of_units")),
        }
        row["fingerprint"] = f"{row['food_entry_id']}_{di}_{row['timestamp'] or ''}"
        rows.append(row)
    return rows


class StoreModel:
    """Expected store contents: fingerprint → row."""

    def __init__(self):
        self.rows: dict[str, dict] = {}

    def sync(self, served: dict[str, str | None]) -> int:
        """Upsert one window; returns the number of valid input rows."""
        batch: dict[str, dict] = {}
        for text in served.values():
            for row in normalize(text):
                batch.setdefault(row["fingerprint"], row)
        self.rows.update(batch)
        return len(batch)

    def update(self, meal: str, lo: datetime.date, hi: datetime.date, column: str, value: float) -> None:
        for row in self.rows.values():
            if row["meal"] == meal and lo <= row["date"] <= hi:
                row[column] = value

    def delete(self, meal: str, lo: datetime.date, hi: datetime.date) -> None:
        self.rows = {
            fp: r
            for fp, r in self.rows.items()
            if not (r["meal"] == meal and lo <= r["date"] <= hi)
        }


def value_hash(rows) -> str:
    """Order-insensitive hash of store rows (dicts keyed by
    :data:`COLUMNS`)."""
    digests = sorted(
        hashlib.sha256(
            repr(tuple(_canon(r[c]) for c in COLUMNS)).encode()
        ).hexdigest()
        for r in rows
    )
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v
