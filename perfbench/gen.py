"""Seeded input generators. The same seed gives byte-identical inputs.

- ``write_star_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, in the column layout the query
  surface reads (``region .. embeddings``, one parquet file each).
- ``SheetGenerator``: the wide form-responses sheet of
  ``examples/habits.yml``, grown and edited between sends, re-sent whole
  on every ingest run. It keeps the typed truth of every cell.
- ``stream_event_batch``: rows for one event file of the rollup stream,
  with a share of late events.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# star schema (headline)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "fr", "de", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DAY_US = 86_400_000_000


def _epoch_us(d: dt.date) -> int:
    return (dt.date.toordinal(d) - dt.date(1970, 1, 1).toordinal()) * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    s = lambda n: max(int(n * sf), 1)  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": s(150_000),
        "supplier": s(10_000),
        "part": s(200_000),
        "orders": s(1_500_000),
        "lineitem": s(6_000_000),
        "events": s(1_000_000),
        "documents": s(50_000),
        "embeddings": s(20_000),
    }


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = star_sizes(sf)
    nk = np.arange
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(nk(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(nk(25) % 5, pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": nk(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": nk(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": nk(p, dtype="int64"),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (nk(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    d0, d1 = _epoch_us(dt.date(1995, 1, 1)) // DAY_US, _epoch_us(dt.date(2001, 8, 1)) // DAY_US
    out["orders"] = pa.table({
        "o_orderkey": nk(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, o) * DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    s0 = _epoch_us(dt.date(1995, 1, 2)) // DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(rng.integers(s0, s0 + 2499, li) * DAY_US),
    })
    e = n["events"]
    users = max(n["customer"] // 10, 10)
    e0 = _epoch_us(dt.date(2024, 1, 1))
    out["events"] = pa.table({
        "event_id": nk(e, dtype="int64"),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * DAY_US, e))),
        "user_id": rng.integers(0, users, e),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    out["documents"] = pa.table({
        "doc_id": nk(nd, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=lang_p)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": nk(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` files under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = table.num_rows
    return sizes


# --------------------------------------------------------------------------
# wide sheet (ingest)

SHEET_TZ = "America/Chicago"
HABIT_COLUMNS = {
    # sheet column -> (habit id, type)
    "Sleep (Number of hours)": ("sleep_hours", "number"),
    "Nutrition": ("nutrition_score", "number"),
    "Mood": ("mood_score", "number"),
    "Meditation (Number of Minutes)": ("meditation_minutes", "number"),
    "Workout": ("workout", "bool"),
    "Water (How many litres?)": ("water_liters", "number"),
    "Skin Care": ("skin_care", "bool"),
    "How authentically did you live this day?": ("authenticity_score", "number"),
}
SHEET_COLUMNS = ["Timestamp", "Email Address", "Report Date", *HABIT_COLUMNS, "Notes"]
PIPELINE_CONFIG = {
    "timezone": SHEET_TZ,
    "email_column": "Email Address",
    "date_column": "Report Date",
    "habits": {col: {"id": hid, "type": typ} for col, (hid, typ) in HABIT_COLUMNS.items()},
    "notes_columns": ["Notes"],
    "source": "sheets",
}
_TRUE_CELLS = ["Yes", "yes", "TRUE", "y", "1", "on"]
_FALSE_CELLS = ["No", "no", "FALSE", "n", "0", "off"]
_JUNK_NUMBERS = ["n/a", "seven", "-", "?"]
_NOTE_WORDS = "rest travel sick great tired busy calm gym late early".split()
_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_SERIAL_EPOCH = dt.date(1899, 12, 30)
SHEET_START = dt.date(2025, 1, 1)
EDIT_SHARE = 0.03  # rows with one habit cell edited before each send
CLEAR_SHARE = 0.01  # rows whose notes are cleared before each send


def noon_utc(d: dt.date) -> dt.datetime:
    """Report date -> naive UTC instant of local noon (the engine's anchor)."""
    local = dt.datetime(d.year, d.month, d.day, 12, tzinfo=ZoneInfo(SHEET_TZ))
    return local.astimezone(dt.timezone.utc).replace(tzinfo=None)


def _date_cell(d: dt.date, style: int) -> str:
    if style == 0:
        return f"{d.month}/{d.day}/{d.year}"
    if style == 1:
        return d.isoformat()
    if style == 2:
        return f"{_MONTHS[d.month - 1]} {d.day}, {d.year}"
    return str((d - _SERIAL_EPOCH).days)


@dataclass
class SheetRow:
    """One form response: raw cells plus the typed truth they encode."""

    cells: dict[str, str]
    user: str | None  # normalized email; None when the row is dropped
    day: dt.date | None
    values: dict[str, float] = field(default_factory=dict)  # habit id -> value

    @property
    def note(self) -> str | None:
        raw = self.cells["Notes"]
        return f"Notes: {raw}" if raw.strip() else None


class SheetGenerator:
    """A growing sheet: ``users`` people report one row per day.

    ``initial_days`` rows per user form the history; each ``grow()`` adds
    ``days_per_send`` more days, then edits EDIT_SHARE of the existing
    rows (one habit cell each) and clears the notes of CLEAR_SHARE.
    Edge rows ride along at fixed shares: blank and non-numeric habit
    cells, mixed date formats, mixed-case and padded emails, exact
    duplicate rows, re-submissions of a day with new values, and rows
    missing the email or the date.
    """

    def __init__(self, seed: int, users: int, initial_days: int, days_per_send: int):
        self.rng = np.random.default_rng([seed, 2])
        self.users = [f"user{u:03d}@example.com" for u in range(users)]
        self.days_per_send = days_per_send
        self.rows: list[SheetRow] = []
        self.next_day = 0
        self.sends = 0
        self._add_days(initial_days)

    # -- cell samplers
    def _number(self, hid: str) -> tuple[str, float | None]:
        r = self.rng.random()
        if r < 0.04:
            return "", None
        if r < 0.06:
            return str(self.rng.choice(_JUNK_NUMBERS)), None
        if hid == "sleep_hours":
            v = 5 + 0.25 * int(self.rng.integers(0, 17))
        elif hid == "meditation_minutes":
            v = float(self.rng.integers(0, 61))
        elif hid == "water_liters":
            v = round(1 + 0.1 * int(self.rng.integers(0, 26)), 1)
        else:
            v = float(self.rng.integers(1, 11))
        cell = f"{v:g}" if self.rng.random() < 0.9 else f" {v:g} "
        return cell, float(v)

    def _bool(self) -> tuple[str, float | None]:
        r = self.rng.random()
        if r < 0.04:
            return "", None
        if self.rng.random() < 0.5:
            return str(self.rng.choice(_TRUE_CELLS)), 1.0
        return str(self.rng.choice(_FALSE_CELLS)), 0.0

    def _habit_cell(self, col: str) -> tuple[str, float | None]:
        hid, typ = HABIT_COLUMNS[col]
        return self._bool() if typ == "bool" else self._number(hid)

    def _note(self) -> str:
        if self.rng.random() < 0.6:
            return ""
        k = int(self.rng.integers(1, 4))
        return " ".join(self.rng.choice(_NOTE_WORDS, k))

    def _row(self, user_idx: int, day: dt.date) -> SheetRow:
        email = self.users[user_idx]
        shown = email
        if self.rng.random() < 0.1:
            shown = email.upper() if self.rng.random() < 0.5 else f" {email} "
        submitted = dt.datetime.combine(day, dt.time(21)) + dt.timedelta(
            seconds=int(self.rng.integers(0, 7200)))
        cells = {
            "Timestamp": submitted.strftime("%m/%d/%Y %H:%M:%S"),
            "Email Address": shown,
            "Report Date": _date_cell(day, int(self.rng.integers(0, 4))),
        }
        row = SheetRow(cells, email, day)
        for col in HABIT_COLUMNS:
            cell, val = self._habit_cell(col)
            cells[col] = cell
            if val is not None:
                row.values[HABIT_COLUMNS[col][0]] = val
        cells["Notes"] = self._note()
        r = self.rng.random()
        if r < 0.01:  # missing email: the row is dropped
            cells["Email Address"], row.user = "", None
        elif r < 0.02:  # missing date: the row is dropped
            cells["Report Date"], row.day = "", None
        return row

    def _add_days(self, n: int) -> None:
        for _ in range(n):
            day = SHEET_START + dt.timedelta(days=self.next_day)
            self.next_day += 1
            for u in range(len(self.users)):
                row = self._row(u, day)
                self.rows.append(row)
                r = self.rng.random()
                if r < 0.02:  # exact duplicate submission
                    self.rows.append(SheetRow(dict(row.cells), row.user, row.day,
                                              dict(row.values)))
                elif r < 0.04:  # re-submission of the same day, new values
                    self.rows.append(self._row(u, day))

    def _edit(self) -> None:
        n = len(self.rows)
        for i in self.rng.choice(n, max(1, int(n * EDIT_SHARE)), replace=False):
            row = self.rows[int(i)]
            col = list(HABIT_COLUMNS)[int(self.rng.integers(0, len(HABIT_COLUMNS)))]
            cell, val = self._habit_cell(col)
            row.cells[col] = cell
            hid = HABIT_COLUMNS[col][0]
            if val is None:
                row.values.pop(hid, None)
            else:
                row.values[hid] = val
        for i in self.rng.choice(n, max(1, int(n * CLEAR_SHARE)), replace=False):
            self.rows[int(i)].cells["Notes"] = ""

    def grow(self) -> None:
        """Advance the sheet to its next send: new days, then edits."""
        self.sends += 1
        self._add_days(self.days_per_send)
        self._edit()

    @property
    def last_day(self) -> dt.date:
        return SHEET_START + dt.timedelta(days=self.next_day - 1)

    def csv_bytes(self) -> bytes:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(SHEET_COLUMNS)
        for row in self.rows:
            w.writerow([row.cells[c] for c in SHEET_COLUMNS])
        return buf.getvalue().encode()

    def raw_payloads(self) -> set[tuple]:
        """Distinct raw rows of the current send (non-blank cells only)."""
        return {
            tuple(sorted((c, v) for c, v in row.cells.items() if v != ""))
            for row in self.rows
        }


class SheetTruth:
    """Expected ``habit_events`` and ``habits_raw`` after a series of
    ingest runs: within a send the last row of a key wins; across sends
    ``value`` is replaced and ``notes`` coalesce (a NULL note keeps the
    stored one)."""

    def __init__(self) -> None:
        self.events: dict[tuple, tuple[float, str | None]] = {}
        self.raw: set[tuple] = set()

    def apply(self, sheet: SheetGenerator) -> None:
        incoming: dict[tuple, tuple[float, str | None]] = {}
        for row in sheet.rows:
            if row.user is None or row.day is None:
                continue
            ts = noon_utc(row.day)
            for hid, val in row.values.items():
                incoming[(row.user, hid, ts)] = (val, row.note)
        for key, (val, note) in incoming.items():
            old = self.events.get(key)
            if note is None and old is not None:
                note = old[1]
            self.events[key] = (val, note)
        self.raw |= sheet.raw_payloads()


# --------------------------------------------------------------------------
# rollup stream events

STREAM_HABITS = ["meditation_minutes", "mood_score", "sleep_hours", "workout"]
STREAM_START = dt.date(2024, 6, 1)


def stream_event_batch(seed: int, file_no: int, n: int, users: int, current_day: int,
                       late_share: float, late_span: int) -> pa.Table:
    """Events of one file. Most fall on ``current_day`` (days after
    STREAM_START); ``late_share`` of them fall up to ``late_span`` days
    earlier, on days the rollup already holds."""
    rng = np.random.default_rng([seed, 3, file_no])
    late = rng.random(n) < late_share
    day = np.where(late, current_day - rng.integers(1, late_span + 1, n), current_day)
    day = np.maximum(day, 0)
    base = _epoch_us(STREAM_START)
    ts = base + day * DAY_US + rng.integers(0, DAY_US, n)
    habit = np.array(STREAM_HABITS)[rng.integers(0, len(STREAM_HABITS), n)]
    value = rng.integers(0, 41, n) / 4.0
    return pa.table({
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_email": [f"user{u:03d}@example.com" for u in rng.integers(0, users, n)],
        "habit": habit,
        "value": value,
    })
