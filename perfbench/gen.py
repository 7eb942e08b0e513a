"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from ``--seed``:
weather-reading envelope files for ``etl_daily`` and the stream phase of
``stream_serving``, the table-log commits of its serving phase
(``workloads/serving_mix.py``), and the ten TPC-H-like parquet tables
its catalog queries read. The same seed gives byte-identical inputs.

Weather readings follow the reference producer's shape: the 16-field
envelope ``{"readings": [...]}``, pretty-printed (``indent=2``), five
Indian cities. Values are drawn so the engine's alert classifier sees
roughly NORMAL 60 / WATCH 30 / WARNING 8 / CRITICAL 2, and the comfort
and severity classes are all populated.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

CITIES = (
    ("Mumbai", 19.076, 72.8777),
    ("Delhi", 28.7041, 77.1025),
    ("Chennai", 13.0827, 80.2707),
    ("Kolkata", 22.5726, 88.3639),
    ("Bengaluru", 12.9716, 77.5946),
)
DIRECTIONS = ("N", "NE", "E", "SE", "S", "SW", "W", "NW")
CONDITIONS = ("Clear", "Cloudy", "Rain", "Thunderstorm", "Haze", "Fog")
ALERT_MIX = (("NORMAL", 0.60), ("WATCH", 0.30), ("WARNING", 0.08),
             ("CRITICAL", 0.02))

# Readings of day 0 start here; day d starts d days later.
EPOCH = dt.datetime(2024, 6, 1)


def heat_index_c(temp_c: float, rh: float) -> float:
    """NOAA heat index in Celsius, the formula the reference producer
    used to fill ``heat_index_celsius``."""
    tf = temp_c * 9 / 5 + 32
    if tf < 80:
        return temp_c
    simple = 0.5 * (tf + 61.0 + ((tf - 68.0) * 1.2) + (rh * 0.094))
    if simple > 79:
        hi = (-42.379 + 2.04901523 * tf + 10.14333127 * rh
              - 0.22475541 * tf * rh - 0.00683783 * tf * tf
              - 0.05481717 * rh * rh + 0.00122874 * tf * tf * rh
              + 0.00085282 * tf * rh * rh - 0.00000199 * tf * tf * rh * rh)
    else:
        hi = simple
    return round((hi - 32) * 5 / 9, 1)


def alert_level(r: dict) -> str:
    """The reference's alert classifier (same thresholds and order as
    ``functions.weather.alert_level``), used as the correctness oracle."""
    hi, p = r["heat_index_celsius"], r["precipitation_mm"]
    w, v, uv = r["wind_speed_kmh"], r["visibility_km"], r["uv_index"]
    if hi > 54 or p > 50 or w > 80:
        return "CRITICAL"
    if hi > 41 or p > 25 or w > 60 or v < 2 or uv > 10:
        return "WARNING"
    if hi > 32 or p > 10 or w > 40 or uv > 8:
        return "WATCH"
    return "NORMAL"


def _pick_level(rng: random.Random) -> str:
    x, acc = rng.random(), 0.0
    for level, share in ALERT_MIX:
        acc += share
        if x < acc:
            return level
    return "NORMAL"


def _temp_for_hi(rng: random.Random, lo: float, hi: float):
    """(temperature, humidity, heat index) with heat index in (lo, hi]."""
    while True:
        t = round(rng.uniform(26.0, 48.0), 1)
        h = round(rng.uniform(20.0, 95.0), 1)
        x = heat_index_c(t, h)
        if lo < x <= hi:
            return t, h, x


def make_reading(rng: random.Random, station: int, when: dt.datetime) -> dict:
    """One reading whose alert class is drawn from ``ALERT_MIX``."""
    city, lat, lon = CITIES[station % len(CITIES)]
    level = _pick_level(rng)
    # calm baseline: NORMAL under every threshold
    t = round(rng.uniform(12.0, 31.0), 1)
    h = round(rng.uniform(25.0, 90.0), 1)
    hi = heat_index_c(t, h)
    if hi > 32:
        t = round(rng.uniform(12.0, 26.0), 1)
        hi = heat_index_c(t, h)
    precip = round(rng.uniform(0.0, 9.5), 1)
    wind = round(rng.uniform(0.0, 39.5), 1)
    vis = round(rng.uniform(3.0, 10.0), 1)
    uv = rng.randint(0, 8)
    factor = rng.randrange(4)
    if level == "WATCH":
        if factor == 0:
            t, h, hi = _temp_for_hi(rng, 32.0, 41.0)
        elif factor == 1:
            precip = round(rng.uniform(10.5, 25.0), 1)
        elif factor == 2:
            wind = round(rng.uniform(40.5, 60.0), 1)
        else:
            uv = rng.randint(9, 10)
    elif level == "WARNING":
        if factor == 0:
            t, h, hi = _temp_for_hi(rng, 41.0, 54.0)
        elif factor == 1:
            precip = round(rng.uniform(25.5, 50.0), 1)
        elif factor == 2:
            wind = round(rng.uniform(60.5, 80.0), 1)
        else:
            vis, uv = round(rng.uniform(0.2, 1.9), 1), rng.randint(11, 12)
    elif level == "CRITICAL":
        if factor == 0:
            t, h, hi = _temp_for_hi(rng, 54.0, 75.0)
        elif factor == 1:
            precip = round(rng.uniform(50.5, 90.0), 1)
        else:
            wind = round(rng.uniform(80.5, 120.0), 1)
    return {
        "station_id": f"WS{station:04d}",
        "city": city,
        "country": "India",
        "latitude": round(lat + (station % 7) * 0.01, 4),
        "longitude": round(lon + (station % 11) * 0.01, 4),
        "timestamp": when.strftime("%Y-%m-%dT%H:%M:%S"),
        "temperature_celsius": t,
        "humidity_percent": h,
        "pressure_hpa": round(rng.uniform(990.0, 1030.0), 1),
        "wind_speed_kmh": wind,
        "wind_direction": rng.choice(DIRECTIONS),
        "precipitation_mm": precip,
        "weather_condition": rng.choice(CONDITIONS),
        "visibility_km": vis,
        "uv_index": uv,
        "heat_index_celsius": hi,
    }


def day_readings(seed: int, day: int, stations: int, slots: int) -> list[dict]:
    """All readings of one day: ``slots`` evenly spaced instants, one
    reading per station per instant, so (station_id, timestamp) is
    unique within and across days."""
    rng = random.Random(f"{seed}/day/{day}")
    start = EPOCH + dt.timedelta(days=day)
    step = dt.timedelta(seconds=86400 // slots)
    return [
        make_reading(rng, s, start + k * step)
        for k in range(slots)
        for s in range(stations)
    ]


def stream_readings(seed: int, n_files: int, per_file: int,
                    stations: int, day: int = 0) -> list[list[dict]]:
    """Readings of ``n_files`` streamed files, ``per_file`` each, with
    timestamps one second apart per station from the start of ``day``
    (keys never repeat)."""
    rng = random.Random(f"{seed}/stream/{day}")
    start = EPOCH + dt.timedelta(days=day)
    out, i = [], 0
    for _ in range(n_files):
        batch = []
        for _ in range(per_file):
            station, tick = i % stations, i // stations
            batch.append(make_reading(
                rng, station, start + dt.timedelta(seconds=tick)))
            i += 1
        out.append(batch)
    return out


def write_envelope(path: str, readings: list[dict]) -> None:
    """Write one pretty-printed ``{"readings": [...]}`` file atomically
    (temp name then rename), so a file-stream source never lists a
    half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        json.dump({"readings": readings}, f, indent=2)
    os.replace(tmp, path)


def write_day(raw_dir: str, readings: list[dict], per_file: int,
              day: int) -> int:
    """Spread one day's readings over files under a zero-padded date
    prefix, like the reference's raw zone. Returns the file count."""
    d = EPOCH + dt.timedelta(days=day)
    out = os.path.join(raw_dir, f"{d:%Y}", f"{d:%m}", f"{d:%d}")
    os.makedirs(out, exist_ok=True)
    n = 0
    for k in range(0, len(readings), per_file):
        write_envelope(os.path.join(out, f"batch_{n:05d}.json"),
                       readings[k:k + per_file])
        n += 1
    return n


# --------------------------------------------------------------------------
# serving_mix tables: the ten TPC-H-like tables the catalog queries read,
# with the same column types and value domains as the engine's test data
# --------------------------------------------------------------------------

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (("en", 0.44), ("zh", 0.14), ("es", 0.14), ("de", 0.14), ("fr", 0.14))
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = (("red", "small", "hot", "old", "large", "blue", "green",
               "shiny"), ("plate", "widget", "ring", "rod", "gear", "bolt",
                          "valve", "spring"))
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten parquet tables at ``scale`` (1.0 = 60,000 lineitem
    rows) under ``out_dir``; returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_line, n_ev = int(60000 * scale), int(10000 * scale)
    n_doc = n_vec = max(50, int(500 * scale))

    def days(lo: str, hi: str, n: int):
        base = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - base).astype(int) + 1
        return (base + rng.integers(0, span, n)).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_WORDS[0], n_part),
                rng.choice(PART_WORDS[1], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(("R", "A", "N"), n_line),
            "l_linestatus": rng.choice(("O", "F"), n_line),
            "l_shipdate": days("1995-01-02", "2001-11-04", n_line),
        },
    }
    gaps = rng.exponential(259e6, n_ev).astype(np.int64)  # µs, ~4.3 min
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            copy = texts[int(rng.integers(0, i))]
            texts.append(copy + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    langs, shares = zip(*LANGS)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n_doc, p=shares),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def alert_counts(readings) -> dict[str, int]:
    """Readings per alert level, as the engine's classifier assigns them."""
    out: dict[str, int] = {}
    for r in readings:
        level = alert_level(r)
        out[level] = out.get(level, 0) + 1
    return out
