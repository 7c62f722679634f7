"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, size): the same seed always
gives byte-identical inputs. The program under test receives only the
files written here; nothing in the program generates them.

- ``weather_docs``: raw weather documents in the shape of the reference
  fetch output (one document per city x run date, ten parameters, 193
  hourly readings from run-1d to run+7d). Numeric values come from integer
  arithmetic, so DuckDB can recompute every reading exactly.
- ``corpus``: a ``documents`` and an ``embeddings`` table drawn like the
  sf0.1 test tables (README.md, "Generated tables"), in the schemas of
  FIXTURES.md.
- ``tables``: the ten test tables of FIXTURES.md at a scale factor,
  drawn like the real ones.
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NUMERIC_PARAMS = [
    "t_2m:C", "t_max_2m_24h:C", "t_min_2m_24h:C", "precip_1h:mm",
    "wind_speed_10m:ms", "wind_dir_10m:d", "msl_pressure:hPa", "relative_humidity_2m:p",
]
SUN_PARAMS = ["sunrise:sql", "sunset:sql"]
PARAMS = NUMERIC_PARAMS + SUN_PARAMS
HOURS = 193  # run-1d .. run+7d at one-hour steps, both ends included

WORDS = ("the a fast slow key order sort table scan merge part window small big "
         "hash join batch stream spark group query row data filter customer line "
         "value agg column vector dup").split()


def run_dates(seed, days):
    """Consecutive run dates (midnight UTC); the first moves with the seed."""
    start = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(days=seed % 97)
    return [start + dt.timedelta(days=d) for d in range(days)]


def cities(seed, n):
    rnd = random.Random(seed * 7919 + 1)
    out = []
    for c in range(n):
        out.append({
            "city": f"city_{c:03d}",
            "country": f"country_{c % 4}",
            "latitude": round(35.0 + rnd.randrange(0, 3000) / 100.0, 2),
            "longitude": round(-10.0 + rnd.randrange(0, 4000) / 100.0, 2),
        })
    return out


def _iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def weather_doc(seed, city_idx, city, run_idx, run):
    generated = run + dt.timedelta(hours=2)
    first = run - dt.timedelta(days=1)
    data = []
    for p_idx, param in enumerate(PARAMS):
        dates = []
        for k in range(HOURS):
            ts = first + dt.timedelta(hours=k)
            if param in SUN_PARAMS:
                minute = (city_idx * 7 + run_idx + seed + p_idx) % 60
                hour = 6 if param == "sunrise:sql" else 18
                value = ts.strftime("%Y-%m-%d") + f" {hour:02d}:{minute:02d}:00"
            else:
                v10 = (city_idx * 31 + p_idx * 7 + k * 3 + run_idx * 13 + seed * 17) % 1000
                value = v10 / 10.0
            dates.append({"date": _iso(ts), "value": value})
        data.append({"parameter": param,
                     "coordinates": [{"lat": city["latitude"], "lon": city["longitude"],
                                      "dates": dates}]})
    return {
        **city,
        "weather": {"version": "3.0", "user": "perfbench", "dateGenerated": _iso(generated),
                    "status": "OK", "data": data},
    }


def weather_docs(out_dir, seed, n_cities, n_days):
    """Write one JSON-lines file per run date: ``run_<d>.json``."""
    os.makedirs(out_dir, exist_ok=True)
    cs = cities(seed, n_cities)
    for d, run in enumerate(run_dates(seed, n_days)):
        with open(os.path.join(out_dir, f"run_{d:02d}.json"), "w") as f:
            for ci, city in enumerate(cs):
                f.write(json.dumps(weather_doc(seed, ci, city, d, run), separators=(",", ":")))
                f.write("\n")


# Test-table value domains, read off the sf0.001/sf0.01/sf0.1 tables of
# TESTDATA.md (see README.md, "Generated tables"): every column is drawn
# independently and uniformly from these, except where noted.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_SHARE = [0.41, 0.15, 0.15, 0.15, 0.14]  # sf0.1: 2059/753/744/742/702 of 5,000
DUP_SHARE = 0.05  # sf0.1: 250 of 5,000 documents are another's text + " dup"
TEXT_WORDS = (10, 99)  # sf0.1: originals have 10..99 words, uniform
EMB_DIM = 64


def _ts(rng, n, lo, hi, sort=False):
    """n timestamps (microseconds, tz-less) uniform in [lo, hi)."""
    lo_us = int(lo.timestamp() * 1e6)
    hi_us = int(hi.timestamp() * 1e6)
    v = rng.integers(lo_us, hi_us, size=n)
    if sort:
        v = np.sort(v)
    return pa.array(v, pa.timestamp("us"))


def _days(rng, n, lo, hi):
    """n midnight timestamps, days uniform in [lo, hi]."""
    d = rng.integers(0, (hi - lo).days + 1, size=n)
    base = int(lo.timestamp() * 1e6)
    return pa.array(base + d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2), pa.float64())


def _pick(rng, values, n, p=None):
    return pa.array([values[i] for i in rng.choice(len(values), size=n, p=p)], pa.string())


def documents(rng, n):
    """``documents``: texts of 10..99 words over the 30-word vocabulary;
    5% are another document's text with " dup" appended."""
    words = np.array(WORDS[:-1])  # "dup" marks near-duplicates only
    lens = rng.integers(TEXT_WORDS[0], TEXT_WORDS[1] + 1, size=n)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
    dups = rng.choice(n, size=int(round(n * DUP_SHARE)), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_SHARE),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n):
    """``embeddings``: isotropic unit vectors with a uniform label in 0..9.
    In the real tables the labels carry no geometry: per-label centroids
    have norm ~1/sqrt(rows per label), as for random directions."""
    v = rng.normal(0.0, 1.0, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def corpus(out_dir, seed, n_docs, n_vecs):
    """Write ``documents.parquet`` and ``embeddings.parquet`` under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    pq.write_table(documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))


def tables(out_dir, seed, sf):
    """Write the ten test tables of FIXTURES.md at scale factor ``sf``,
    one ``<name>.parquet`` each, in their real column types."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = (5000, 2000) if sf >= 0.1 else (500, 500)
    utc = dt.timezone.utc
    day = lambda y, m, d: dt.datetime(y, m, d, tzinfo=utc)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, size=n_part), rng.integers(0, 8, size=n_part))],
                               pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            # not random in the real tables: 900.0 + (partkey % 1000) / 10
            "p_retailprice": pa.array([round(900.0 + (i % 1000) / 10.0, 1) for i in range(n_part)],
                                      pa.float64())}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, day(1995, 1, 1), day(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": _money(rng, n_line, 0.0, 0.1),
            "l_tax": _money(rng, n_line, 0.0, 0.08),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, day(1995, 1, 2), day(2001, 11, 4))}),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            # ordered by event_id, as in the real tables
            "ts": _ts(rng, n_ev, day(2024, 1, 1), day(2024, 1, 31), sort=True),
            "user_id": pa.array(rng.integers(0, max(1, n_ev * 3 // 200), size=n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            # exponential with mean 50 (real quartiles 14.9 / 35.7 / 71.8)
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, size=n_ev), 2)),
                              pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
                              pa.string())}),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
