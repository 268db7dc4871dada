"""Seeded input generators for the benchmark.

Two families, both pure NumPy + PyArrow so that landing costs no Spark
job and the same seed always yields byte-identical inputs:

* ``write_tables`` — the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the ``q_*`` keys read
  (same names, columns and parquet types as the testdata the keys were
  written against), at a chosen scale factor.
* ``write_trip_days`` / ``write_locations`` — FordGoBike-shaped raw trip
  CSV files, one directory per day, plus the geocoded location lookup
  that the medallion runner joins against.

The tables follow the repo's test tables (TESTDATA.md) in the shapes the
``corpus_build`` keys' work depends on: rows per table, the 31-word
document vocabulary, 10–100 words per document, about 5% of documents
being another one plus a trailing ``dup`` token, events per user, 64
distinct part names, lines per order. ``calibrate.py`` measures these and
each key's output rows, eager jobs and build share on both;
CALIBRATION.md holds the result. Distributions no ``corpus_build`` key
reads (embeddings, prices, dates, event values) are not calibrated.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _day_us(date: str) -> int:
    return int((np.datetime64(date, "us") - _EPOCH).astype(np.int64))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> list[str]:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)].tolist()


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.01 ≈ 60k lineitems)."""
    return {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 50),
        "orders": max(int(1_500_000 * sf), 200),
        "lineitem": max(int(6_000_000 * sf), 800),
        "events": max(int(1_000_000 * sf), 500),
        "documents": max(int(50_000 * sf), 100),
        "embeddings": min(max(int(50_000 * sf), 100), 2000),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nk = np.arange(25)
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    ck = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, ck.size), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, ck.size),
    })
    sk = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, sk.size), 2),
    })
    pk = np.arange(n["part"])
    adj = rng.integers(0, len(_P_ADJ), pk.size)
    noun = rng.integers(0, len(_P_NOUN), pk.size)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, pk.size).tolist()],
        "p_type": _pick(rng, _P_TYPES, pk.size),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n["orders"])
    lo, hi = _day_us("1995-01-01"), _day_us("2001-08-01")
    day = 86_400_000_000
    odate = lo + rng.integers(0, (hi - lo) // day + 1, ok.size) * day
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ck.size, ok.size), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], ok.size),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, ok.size), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, ok.size),
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, ok.size, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, pk.size, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sk.size, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, nl) * day),
    })
    ne = n["events"]
    start = _day_us("2024-01-01")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * day, ne))),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about 5% are exact copies of an earlier
    document with a trailing ``dup`` token (near-duplicates for dedup)."""
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, words.size, lengths[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------------------
# FordGoBike-shaped trips
# ---------------------------------------------------------------------------

TRIP_COLUMNS = [
    "duration_sec", "start_time", "end_time",
    "start_station_id", "start_station_name", "start_station_latitude",
    "start_station_longitude",
    "end_station_id", "end_station_name", "end_station_latitude",
    "end_station_longitude",
    "bike_id", "user_type", "member_birth_year", "member_gender",
    "bike_share_for_all_trip",
]


def _stations(n_stations: int) -> list[tuple[str, float, float]]:
    """Fixed station grid around the Bay Area: (id, lat, lon)."""
    return [
        (f"{i + 1}.0", round(37.30 + (i * 7919 % 600) / 1000.0, 6),
         round(-122.50 + (i * 104729 % 700) / 1000.0, 6))
        for i in range(n_stations)
    ]


def write_locations(out_path: str, n_stations: int) -> int:
    """Geocoded lookup, one row per station coordinate; every 17th row is
    outside California and every 5th has no city (silver filters and
    defaults those)."""
    rows = []
    for i, (_, lat, lon) in enumerate(_stations(n_stations)):
        rows.append({
            "location_id": f"place_{i}", "latitude": lat, "longitude": lon,
            "highway": None, "road": f"Road {i}", "neighbourhood": None,
            "suburb": None, "city": None if i % 5 == 0 else f"City{i % 12}",
            "state": "Nevada" if i % 17 == 0 else "California",
            "postcode": f"9{i:04d}", "country": "United States",
            "display_name": f"Station {i}, California",
        })
    pq.write_table(pa.Table.from_pylist(rows), out_path)
    return len(rows)


def write_trip_days(
    out_dir: str, days: int, trips_per_day: int, n_stations: int, seed: int
) -> list[str]:
    """Write ``days`` landing directories ``dayNN/<period>-tripdata.csv``
    of raw trips starting 2018-01-01; return the directories in order."""
    rng = np.random.default_rng(seed)
    stations = _stations(n_stations)
    base = dt.datetime(2018, 1, 1)
    dirs = []
    for d in range(days):
        day_dir = os.path.join(out_dir, f"day{d:02d}")
        os.makedirs(day_dir)
        day0 = base + dt.timedelta(days=d)
        path = os.path.join(day_dir, f"{day0:%Y%m}-tripdata.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(TRIP_COLUMNS)
            for row in _trip_rows(rng, trips_per_day, stations, day0):
                w.writerow(row)
        dirs.append(day_dir)
    return dirs


def _trip_rows(rng, n, stations, day0):
    offs_ms = np.sort(rng.integers(0, 86_400_000, n))
    dur = np.minimum(61 + rng.exponential(700.0, n).astype(np.int64), 86_369)
    s_idx = rng.integers(0, len(stations), n)
    e_idx = rng.integers(0, len(stations), n)
    bike = rng.integers(10, 7109, n)
    subscriber = rng.random(n) < 0.85
    birth = rng.integers(1940, 2002, n)
    birth_null = rng.random(n) < 0.07
    gender = rng.choice(np.asarray(["Male", "Female", "Other", ""], dtype=object), n,
                        p=[0.6, 0.25, 0.05, 0.10])
    share = rng.choice(np.asarray(["No", "Yes", ""], dtype=object), n, p=[0.75, 0.09, 0.16])
    missing_start = rng.random(n) < 0.005
    for i in range(n):
        start = day0 + dt.timedelta(milliseconds=int(offs_ms[i]))
        end = start + dt.timedelta(seconds=int(dur[i]))
        sid, slat, slon = stations[s_idx[i]]
        eid, elat, elon = stations[e_idx[i]]
        if missing_start[i]:
            start_station = ["", "NULL", 0.0, 0.0]
        else:
            start_station = [sid, f"Station {sid}", slat, slon]
        yield [
            int(dur[i]),
            start.strftime("%Y-%m-%d %H:%M:%S.%f")[:-2],
            end.strftime("%Y-%m-%d %H:%M:%S.%f")[:-2],
            *start_station,
            eid, f"Station {eid}", elat, elon,
            int(bike[i]),
            "Subscriber" if subscriber[i] else "Customer",
            "" if birth_null[i] else int(birth[i]),
            gender[i], share[i],
        ]
