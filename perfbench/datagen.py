"""Seeded input generators for the benchmark.

Two input sets, both written as parquet (plus one CSV) under a directory
the caller chooses:

- ``write_star(out_dir, seed)`` — the ten contract tables of the sf0.1
  test data that TESTDATA.md describes (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``), redrawn: the same row
  counts, column names, parquet types and per-column value
  distributions (independent uniform keys and values, the same
  30-word document vocabulary with 5% ``dup`` near-duplicates, unit
  embeddings), so the queries do the same work as on that data. Sizes
  are fixed; the seed changes only the values.
- ``write_trips(out_dir, seed, rows)`` — raw green and yellow taxi trips
  with the ``fixtures.py`` schema and the 265-row zone lookup, the input
  of the reference ``dbt build``.

Same seed, same bytes: every random draw comes from one
``numpy.random.default_rng`` per table, derived from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the contract tables.
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**63, salt])


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path, row_group_size=1 << 30)


def star_tables(seed: int) -> dict[str, dict]:
    """Column dicts (pyarrow arrays) for the ten contract tables."""
    n = SIZES
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out: dict[str, dict] = {
        "region": {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
    }

    r = _rng(seed, 1)
    out["customer"] = {
        "c_custkey": i64(np.arange(n["customer"])),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": i32(r.integers(0, 25, n["customer"])),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n["customer"])),
    }
    r = _rng(seed, 2)
    out["supplier"] = {
        "s_suppkey": i64(np.arange(n["supplier"])),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": i32(r.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    }
    r = _rng(seed, 3)
    k = np.arange(n["part"])
    out["part"] = {
        "p_partkey": i64(k),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, len(k)), r.choice(PART_NOUN, len(k)))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, len(k))]),
        "p_type": pa.array(r.choice(PART_TYPES, len(k))),
        "p_size": i32(r.integers(1, 51, len(k))),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
    }
    r = _rng(seed, 4)
    m = n["orders"]
    out["orders"] = {
        "o_orderkey": i64(np.arange(m)),
        "o_custkey": i64(r.integers(0, n["customer"], m)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], m)),
        "o_totalprice": _money(r, 1000.0, 500000.0, m),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", m),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, m)),
    }
    r = _rng(seed, 5)
    m = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": i64(r.integers(0, n["orders"], m)),
        "l_partkey": i64(r.integers(0, n["part"], m)),
        "l_suppkey": i64(r.integers(0, n["supplier"], m)),
        "l_linenumber": i32(r.integers(1, 8, m)),
        "l_quantity": r.integers(1, 51, m).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": np.round(r.uniform(0.0, 0.10, m), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, m), 2),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(r.choice(["F", "O"], m)),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", m),
    }
    r = _rng(seed, 6)
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, m))
    out["events"] = {
        "event_id": i64(np.arange(m)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": i64(r.integers(0, 1500, m)),
        "event_type": pa.array(r.choice(EVENT_TYPES, m)),
        "value": np.round(r.exponential(50.0, m), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, m)]),
    }
    out["documents"] = _documents(_rng(seed, 7), n["documents"])
    r = _rng(seed, 8)
    m = n["embeddings"]
    v = r.standard_normal((m, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = {
        "vec_id": i64(np.arange(m)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(r.integers(0, 10, m)),
    }
    return out


def _documents(r: np.random.Generator, m: int) -> dict:
    """Bag-of-words documents over a 30-word vocabulary, 10-99 words
    each; 5% are near-duplicates (another document's text plus a
    trailing ``dup`` token), which the dedup operators must find."""
    lens = r.integers(10, 100, m)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n_words in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n_words]))
        at += n_words
    dup_rows = r.choice(m, m // 20, replace=False)
    for d, src in zip(dup_rows, r.integers(0, m, len(dup_rows))):
        texts[d] = texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, m, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(m)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_star(out_dir: str, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in star_tables(seed).items():
        _write(cols, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_trips(out_dir: str, seed: int, rows: int) -> dict[str, str]:
    """Raw green/yellow trips (``rows`` per colour before the 5%
    full-row duplicates) and the zone lookup CSV; returns name → path."""
    from taxi_rides_ny_duckdb_spark import fixtures

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "green_tripdata": os.path.join(out_dir, "green_tripdata.parquet"),
        "yellow_tripdata": os.path.join(out_dir, "yellow_tripdata.parquet"),
        "taxi_zone_lookup": os.path.join(out_dir, "taxi_zone_lookup.csv"),
    }
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    for salt, (name, prefix, green) in enumerate(
        (("green_tripdata", "lpep", True), ("yellow_tripdata", "tpep", False)), start=11
    ):
        df: pd.DataFrame = fixtures._trips(
            _rng(seed, salt), rows, f"{prefix}_pickup_datetime",
            f"{prefix}_dropoff_datetime", green,
        )
        df.to_parquet(paths[name], **kw)
    fixtures.make_zone_lookup().to_csv(paths["taxi_zone_lookup"], index=False)
    return paths
