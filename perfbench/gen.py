"""Seeded input generators for the benchmark.

Everything the program reads during a run is written here, from the
``--seed`` alone: the raw bikeshare layer (headerless CSVs in the
reference's shape) and a text corpus for the dedup index. Row counts are
fixed per scale, so two seeds give inputs of the same size and shape but
different values.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: the reference's year of trips (Divvy 2021-02 .. 2022-01)
YEAR_START = dt.datetime(2021, 2, 1)
N_MONTHS = 12
TABLES = ("trips", "payments", "riders", "stations")

_STREETS = np.array([
    "Clark St", "Lake St", "Racine Ave", "Halsted St", "Wells St", "State St",
    "Ashland Ave", "Damen Ave", "Western Ave", "Broadway", "Sheridan Rd",
    "Milwaukee Ave", "Division St", "Chicago Ave", "Grand Ave", "Fullerton Ave",
    "Belmont Ave", "Addison St", "Irving Park Rd", "Lawrence Ave", "Foster Ave",
    "Montrose Ave", "Wabash Ave", "Michigan Ave", "Dearborn St", "Canal St",
])
_RIDEABLE = np.array(["classic_bike", "electric_bike", "docked_bike"])


@dataclass(frozen=True)
class BikeshareScale:
    """Row counts of one generated raw layer. The default is the reference
    lake (~4.58M trips, ~1.95M payments, ~75k riders, 838 stations) at
    about 1/110 for facts and riders; stations keep the reference's count.
    At this size run time is mostly fixed per-job cost: on 4 cores a
    layer three times larger takes about as long to build into the lake."""

    trips: int = 40_000
    payments: int = 17_000
    riders: int = 700
    stations: int = 838


@dataclass
class BikeshareLayer:
    """Where the generated raw layer lives and what it holds."""

    full_dir: str
    month_dirs: list[str]
    #: table -> rows in the full-year directory
    rows: dict[str, int]
    #: per month: table -> rows, plus the expected date-dimension sizes
    month_rows: list[dict[str, int]] = field(default_factory=list)
    full_dims: dict[str, int] = field(default_factory=dict)
    input_bytes: int = 0
    month_bytes: list[int] = field(default_factory=list)


def _station_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    # Divvy mixes numeric ids with alphanumeric KA/TA/KP ids (BASELINE.md)
    numeric = rng.choice(np.arange(2, 20_000), size=n, replace=False).astype(str)
    prefix = rng.choice(np.array(["KA", "TA", "KP"]), size=n)
    digits = rng.integers(10**9, 10**10, size=n).astype(str)
    alnum = np.char.add(np.char.add(prefix, np.full(n, "1")), np.char.ljust(digits, 10, "0"))
    use_alnum = rng.random(n) < 0.6
    ids = np.where(use_alnum, alnum, numeric)
    # keep ids unique even if a KA/TA/KP draw collides
    _, first = np.unique(ids, return_index=True)
    dup = np.setdiff1d(np.arange(n), first)
    ids[dup] = np.char.add("S", np.arange(len(dup)).astype(str))
    return ids


def _dates(days: np.ndarray, base: dt.date) -> np.ndarray:
    return (np.datetime64(base) + days.astype("timedelta64[D]")).astype(str)


def _write_csv(frame: pd.DataFrame, path: str) -> int:
    # headerless, unquoted: the reference's raw files carry no header and
    # no field holds a comma
    frame.to_csv(path, header=False, index=False, quoting=3, na_rep="")
    return os.path.getsize(path)


def generate_bikeshare(out_dir: str, seed: int, scale: BikeshareScale = BikeshareScale()) -> BikeshareLayer:
    """Write ``out_dir/full`` (the year) and ``out_dir/month_01..12`` (one
    month of trips and payments each, plus the full riders and stations)."""
    rng = np.random.default_rng(seed)

    sid = _station_ids(rng, scale.stations)
    a = rng.choice(_STREETS, size=scale.stations)
    b = rng.choice(_STREETS, size=scale.stations)
    stations = pd.DataFrame({
        "station_id": sid,
        "name": np.char.add(np.char.add(a, " & "), b),
        "latitude": np.round(41.65 + rng.random(scale.stations) * 0.4, 6),
        "longitude": np.round(-87.85 + rng.random(scale.stations) * 0.3, 6),
    })

    rid = np.arange(1000, 1000 + scale.riders)
    born = rng.integers(0, 55 * 365, size=scale.riders)
    start = rng.integers(0, 8 * 365 + 300, size=scale.riders)
    ended = rng.random(scale.riders) < 0.2
    end_days = start + rng.integers(30, 900, size=scale.riders)
    end = np.where(ended, _dates(end_days, dt.date(2013, 1, 1)), "")
    riders = pd.DataFrame({
        "rider_id": rid,
        "first": np.char.add("First", rid.astype(str)),
        "last": np.char.add("Last", rng.integers(0, 5000, size=scale.riders).astype(str)),
        "address": np.char.add(rng.integers(1, 9999, size=scale.riders).astype(str), " Main St"),
        "birthday": _dates(born, dt.date(1950, 1, 1)),
        "account_start_date": _dates(start, dt.date(2013, 1, 1)),
        # the reference leaves account_end_date empty for open accounts
        "account_end_date": end,
        "is_member": np.where(rng.random(scale.riders) < 0.8, "True", "False"),
    })

    # riders ride with a skewed frequency, like the reference's heavy users
    weight = rng.pareto(1.5, size=scale.riders) + 1.0
    weight /= weight.sum()
    year_minutes = 365 * 24 * 60
    t0 = np.sort(rng.integers(0, year_minutes, size=scale.trips))
    dur = rng.integers(60, 60 + 3 * 3600, size=scale.trips) + rng.integers(0, 60, size=scale.trips)
    base = np.datetime64(YEAR_START, "s")
    started = base + (t0 * 60).astype("timedelta64[s]")
    ended_at = started + dur.astype("timedelta64[s]")
    st = rng.integers(0, scale.stations, size=scale.trips)
    en = rng.integers(0, scale.stations, size=scale.trips)
    trips = pd.DataFrame({
        "trip_id": [f"{v:016X}" for v in rng.integers(0, 2**63, size=scale.trips)],
        "rideable_type": rng.choice(_RIDEABLE, size=scale.trips),
        "started_at": np.datetime_as_string(started, unit="s"),
        "ended_at": np.datetime_as_string(ended_at, unit="s"),
        "start_station_id": sid[st],
        "end_station_id": sid[en],
        "rider_id": rng.choice(rid, size=scale.trips, p=weight),
    })
    trips["started_at"] = trips["started_at"].str.replace("T", " ", regex=False)
    trips["ended_at"] = trips["ended_at"].str.replace("T", " ", regex=False)

    pay_day = np.sort(rng.integers(0, 365, size=scale.payments))
    pay_dates = np.datetime64(YEAR_START.date()) + pay_day.astype("timedelta64[D]")
    # bare decimals: mostly the $9 monthly fee, some one-off amounts with cents
    amount = np.where(
        rng.random(scale.payments) < 0.7, "9.0",
        np.char.mod("%.2f", rng.integers(100, 4000, size=scale.payments) / 100.0),
    )
    members = rid[riders["is_member"].to_numpy() == "True"]
    payments = pd.DataFrame({
        "payment_id": np.arange(1, scale.payments + 1),
        "date_id": pay_dates.astype(str),
        "amount": amount,
        "rider_id": rng.choice(members, size=scale.payments),
    })

    frames = {"trips": trips, "payments": payments, "riders": riders, "stations": stations}
    full = os.path.join(out_dir, "full")
    os.makedirs(full)
    total = sum(_write_csv(frames[t], os.path.join(full, f"{t}.csv")) for t in TABLES)
    layer = BikeshareLayer(
        full_dir=full,
        month_dirs=[],
        rows={t: len(frames[t]) for t in TABLES},
        full_dims=_dim_rows(started, pay_dates),
        input_bytes=total,
    )

    trip_month = _month_index(started)
    pay_month = _month_index(pay_dates.astype("datetime64[s]"))
    for m in range(N_MONTHS):
        d = os.path.join(out_dir, f"month_{m + 1:02d}")
        os.makedirs(d)
        tm, pm = trip_month == m, pay_month == m
        part = {"trips": trips[tm], "payments": payments[pm], "riders": riders, "stations": stations}
        layer.month_bytes.append(sum(_write_csv(part[t], os.path.join(d, f"{t}.csv")) for t in TABLES))
        layer.month_dirs.append(d)
        counts = {t: len(part[t]) for t in TABLES}
        counts.update(_dim_rows(started[tm], pay_dates[pm]))
        layer.month_rows.append(counts)
    return layer


def _month_index(ts: np.ndarray) -> np.ndarray:
    months = ts.astype("datetime64[M]") - np.datetime64(YEAR_START, "M")
    return months.astype(int)


def _dim_rows(started: np.ndarray, pay_dates: np.ndarray) -> dict[str, int]:
    """Rows the generated date dimensions must have: every hour between the
    first and last trip hour, every day between the first and last payment."""
    hours = started.astype("datetime64[h]")
    days = pay_dates.astype("datetime64[D]")
    return {
        "trip_dates": int((hours.max() - hours.min()).astype(int)) + 1,
        "payment_dates": int((days.max() - days.min()).astype(int)) + 1,
    }


_WORDS = np.array(
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query a the data key window row table stream merge big "
    "join vector customer lake delta trip rider station payment month hour "
    "member casual bike dock route city north south east west loop river".split()
)


def generate_documents(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``out_dir/documents.parquet`` in the curation tables' schema
    (doc_id, text, lang, source, n_chars): random word sequences, a third
    of them near-copies of an earlier document with a few words changed,
    so the dedup index has real pairs and components to find."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.33:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, size=int(rng.integers(15, 60))))
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(np.array(["en", "de", "zh"]), size=n_docs).tolist()),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 8, size=n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir
