"""Seeded generator for the ETL workload's trips CSV input, with its truth.

The input follows the NYC-taxi sample's 18-column layout and its dirty-data
profile (FIXTURES.md F1). The expected six counters and the exact list of
duplicate LineNumbers come from ``replay``: a pure-Python re-implementation
of the reference rules applied to the bytes that were written. Spark never
computes the truth.

Single process, standard library only; the same seed gives byte-identical
files.
"""

from __future__ import annotations

import json
import os
import random
import re
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

HEADER = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge",
]
REQUIRED = [
    "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
    "trip_distance", "store_and_fwd_flag", "PULocationID", "DOLocationID",
    "fare_amount", "tip_amount",
]
EASTERN = ZoneInfo("America/New_York")
YEAR_START = datetime(2020, 1, 1)
YEAR_SECONDS = 366 * 86400 - 7200  # keep dropoffs inside 2020

# Each FIXTURES F1 edge case, as (pickup, dropoff, passenger_count,
# store_and_fwd_flag, fare_amount). Every generated file carries each
# of these at least once, at seeded positions.
F1_EDGES = {
    "negative_fare": ("01/02/2020 08:00:00 AM", "01/02/2020 08:10:00 AM", "1", "N", "-4.5"),
    "empty_pax_and_flag": ("01/02/2020 09:00:00 AM", "01/02/2020 09:10:00 AM", "", "", "7"),
    "padded_values": ("01/02/2020 10:00:00 AM", "01/02/2020 10:20:00 AM", " 2 ", " y ", "12.5"),
    "pax_256": ("01/02/2020 11:00:00 AM", "01/02/2020 11:05:00 AM", "256", "N", "5"),
    "pax_minus_1": ("01/02/2020 11:30:00 AM", "01/02/2020 11:35:00 AM", "-1", "N", "5"),
    "dst_straddle": ("03/08/2020 01:59:00 AM", "03/08/2020 03:00:00 AM", "1", "N", "6"),
    "dst_gap": ("03/08/2020 02:30:00 AM", "03/08/2020 03:10:00 AM", "1", "N", "6"),
    "dst_ambiguous": ("11/01/2020 01:30:00 AM", "11/01/2020 01:45:00 AM", "2", "N", "8"),
    "dropoff_before_pickup": ("01/03/2020 05:00:00 PM", "01/03/2020 04:50:00 PM", "1", "N", "9"),
    "flag_outside_domain": ("01/03/2020 06:00:00 PM", "01/03/2020 06:15:00 PM", "1", "X", "9"),
}


# Formatted "MM/DD/YYYY" for every day of 2020 and "hh:mm:ss AM" for every
# second of a day: a timestamp string is two list lookups.
_DAYS = [(YEAR_START + timedelta(days=d)).strftime("%m/%d/%Y") for d in range(366)]
_CLOCK = [
    f"{(s // 3600) % 12 or 12:02d}:{s // 60 % 60:02d}:{s % 60:02d} "
    f"{'AM' if s < 43200 else 'PM'}"
    for s in range(86400)
]


def _fmt(second_of_year: int) -> str:
    return f"{_DAYS[second_of_year // 86400]} {_CLOCK[second_of_year % 86400]}"


class _TripWriter:
    """Builds 18-column rows from seeded draws."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def trip_key(self) -> tuple[str, str, str]:
        r = self.rng.getrandbits(48)
        pickup = r % YEAR_SECONDS
        dropoff = pickup + 60 + (r >> 25) % 3541
        return _fmt(pickup), _fmt(dropoff), "1111122356"[(r >> 37) % 10]

    def row(self, pickup: str, dropoff: str, pax: str, flag: str | None = None,
            fare: str | None = None) -> str:
        r = self.rng.getrandbits(64)
        if flag is None:
            flag = "Y" if r % 50 == 0 else "N"
        if fare is None:
            fare = _cents((r >> 6) % 6001)
        dist = (r >> 19) % 25001
        fields = [
            "12"[(r >> 34) & 1], pickup, dropoff, pax,
            f"{dist // 1000}.{dist % 1000:03d}".rstrip("0").rstrip("."),
            "1", flag, str(1 + (r >> 35) % 265), str(1 + (r >> 44) % 265),
            "1234"[(r >> 53) & 3], fare, "0.5", "0.5", _cents((r >> 55) % 501),
            "0", "0.3", "0", "2.5",
        ]
        return ",".join(fields)


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def make_fidelity(path: str, seed: int, rows: int) -> None:
    """One CSV file, F1 dirty profile: ~0.32% negative fares, ~0.16%
    empty pax+flag, ~0.05% duplicate keys, padding, blank lines, DST gap
    and ambiguous times, dropoff<pickup, pax 256/-1."""
    rng = random.Random(seed)
    w = _TripWriter(rng)
    edge_at = {
        pos: name
        for pos, name in zip(rng.sample(range(rows), len(F1_EDGES)), F1_EDGES)
    }
    keys: list[tuple[str, str, str]] = []
    lines = [",".join(HEADER)]
    for i in range(rows):
        if i in edge_at:
            lines.append(w.row(*F1_EDGES[edge_at[i]]))
            continue
        u = rng.random()
        if u < 0.0005 and keys:
            pickup, dropoff, pax = rng.choice(keys)  # re-sent trip key
            lines.append(w.row(pickup, dropoff, f" {pax}" if rng.random() < 0.3 else pax))
        else:
            pickup, dropoff, pax = w.trip_key()
            keys.append((pickup, dropoff, pax))
            if u < 0.0037:
                lines.append(w.row(pickup, dropoff, pax, fare="-" + _cents(rng.randrange(1, 2001))))
            elif u < 0.0053:
                lines.append(w.row(pickup, dropoff, "", flag=""))
            elif u < 0.0056:
                lines.append(w.row(pickup, dropoff, rng.choice(["256", "-1"])))
            elif u < 0.0058:
                lines.append(w.row(dropoff, pickup, pax))
            elif u < 0.0158:
                lines.append(w.row(pickup, dropoff, f" {pax} ", flag=rng.choice([" n ", " y", "y "])))
            else:
                lines.append(w.row(pickup, dropoff, pax))
        if rng.random() < 0.001:
            lines.append("")
    with open(path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")


# ---------------------------------------------------------------------------
# Truth: replay of the reference rules over the written bytes.

_DATE = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4})$")
_TIME = re.compile(r"^(\d{1,2}):(\d{2}):(\d{2}) (AM|PM)$")
_INT = re.compile(r"^[+-]?\d+$")
_DEC = re.compile(r"^[+-]?(\d*)(?:\.(\d*))?$")
_EPOCH = datetime(1970, 1, 1)


class _Clock:
    """Wall-clock parsing and EST/EDT→UTC conversion, memoized by the
    date string, the time string and the (day, hour) pair."""

    def __init__(self):
        self.dates: dict[str, int | None] = {}
        self.times: dict[str, int | None] = {}
        self.offsets: dict[int, int | None] = {}

    def local(self, s: str) -> int | None:
        """Local seconds since 1970 of ``M/d/yyyy h:mm:ss a``, or None."""
        date, _, clock = s.partition(" ")
        day = self.dates.get(date, -1)
        if day == -1:
            day = self.dates[date] = self._day(date)
        sod = self.times.get(clock, -1)
        if sod == -1:
            sod = self.times[clock] = self._second_of_day(clock)
        if day is None or sod is None:
            return None
        return day * 86400 + sod

    @staticmethod
    def _day(s: str) -> int | None:
        m = _DATE.match(s)
        if not m:
            return None
        mo, d, y = (int(x) for x in m.groups())
        try:
            return (datetime(y, mo, d) - _EPOCH).days
        except ValueError:
            return None

    @staticmethod
    def _second_of_day(s: str) -> int | None:
        m = _TIME.match(s)
        if not m:
            return None
        h, mi, se = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if not 1 <= h <= 12 or mi > 59 or se > 59:
            return None
        h = h % 12 + (12 if m.group(4) == "PM" else 0)
        return h * 3600 + mi * 60 + se

    def to_utc(self, local: int) -> int | None:
        """As .NET ConvertTimeToUtc: None inside the spring-forward gap,
        the standard offset for ambiguous fall-back times. DST changes
        on the hour, so the offset is a function of (day, hour)."""
        hour = local // 3600
        off = self.offsets.get(hour, -1)
        if off == -1:
            wall = _EPOCH + timedelta(hours=hour)
            utc = wall.replace(tzinfo=EASTERN, fold=1).astimezone(timezone.utc)
            back = utc.astimezone(EASTERN).replace(tzinfo=None)
            off = self.offsets[hour] = (
                None if back != wall
                else int((utc.replace(tzinfo=None) - wall).total_seconds())
            )
        return None if off is None else local + off


def _int(s: str) -> int | None:
    return int(s) if _INT.match(s) else None


def _dec(s: str, int_digits: int) -> float | None:
    """Value of a decimal(p, s) literal, or None when it does not parse
    or overflows ``int_digits`` integer digits."""
    m = _DEC.match(s)
    if not m or not (m.group(1) or m.group(2)):
        return None
    if len(m.group(1).lstrip("0")) > int_digits:
        return None
    return float(s)


class _Memo(dict):
    """Field parser memoized by the field string."""

    def __init__(self, parse):
        super().__init__()
        self.parse = parse

    def __missing__(self, s):
        value = self[s] = self.parse(s)
        return value


def replay(lines) -> dict:
    """Apply the reference rules to the data lines of one or more files
    (header lines and blank lines skipped). Returns the six counters and
    the duplicate LineNumbers in file order."""
    clock = _Clock()
    ints = _Memo(_int)
    distances = _Memo(lambda s: _dec(s, 6))  # decimal(9,3)
    money = _Memo(lambda s: _dec(s, 8))  # decimal(10,2)
    index: list[int] | None = None
    header_line = None
    total = parsed = invalid = 0
    seen: set = set()
    dup_lines: list[int] = []
    for raw in lines:
        raw = raw.rstrip("\n")
        if index is None:
            header_line = raw
            names = [n.strip().lower() for n in raw.split(",")]
            index = [names.index(c.lower()) for c in REQUIRED]
            continue
        if raw == header_line or raw.strip() == "":
            continue
        total += 1
        f = raw.split(",")
        v = [f[i].strip() if i < len(f) else "" for i in index]
        pickup, dropoff = clock.local(v[0]), clock.local(v[1])
        pax = ints[v[2]]
        dist = distances[v[3]]
        pu, do = ints[v[5]], ints[v[6]]
        fare, tip = money[v[7]], money[v[8]]
        if (
            pickup is None or dropoff is None
            or pax is None or not 0 <= pax <= 255
            or dist is None or dist < 0
            or v[4] == ""
            or pu is None or pu < 0 or do is None or do < 0
            or fare is None or fare < 0 or tip is None or tip < 0
        ):
            invalid += 1
            continue
        parsed += 1  # normalize-stage failures below still count as parsed
        pickup_utc, dropoff_utc = clock.to_utc(pickup), clock.to_utc(dropoff)
        if (
            pickup_utc is None or dropoff_utc is None
            or v[4].upper() not in ("N", "Y")
            or dropoff < pickup
        ):
            invalid += 1
            continue
        key = (pickup_utc, dropoff_utc, pax)
        if key in seen:
            dup_lines.append(total)
        else:
            seen.add(key)
    valid = total - invalid
    return {
        "counters": {
            "TotalRowsRead": total,
            "ParsedRows": parsed,
            "InvalidRows": invalid,
            "DuplicateRows": len(dup_lines),
            "InsertedRows": valid - len(dup_lines),
            "DuplicatesFileRows": len(dup_lines),
        },
        "duplicate_line_numbers": dup_lines,
    }


def build(seed: int, directory: str, rows: int) -> dict:
    """Write the input under ``directory`` (once per seed) and
    return {"input": path, "rows": data rows, "bytes": n, "truth": {...}}."""
    done = os.path.join(directory, "truth.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "trips.csv")
    make_fidelity(path, seed, rows)
    with open(path, newline="") as f:
        truth = replay(f)
    info = {
        "input": path,
        "rows": truth["counters"]["TotalRowsRead"],
        "bytes": os.path.getsize(path),
        "truth": truth,
    }
    with open(done + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(done + ".tmp", done)
    return info
