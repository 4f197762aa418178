#!/usr/bin/env python3
"""Compare the benchmark's generated contract tables with a reference
copy of the sf0.1 test tables (TESTDATA.md), column by column.

    python3 perfbench/compare_inputs.py REFERENCE_DIR [--seed 1]

Writes the tables for ``--seed`` under ``.perfbench/`` in the repository,
prints, per table, the row counts and, per column, the distinct count,
range, mean and standard deviation (numbers, timestamps) or mean length
(strings) on both sides, and removes the generated tables. Exits 1 when a
table's row count or Arrow schema differs from the reference.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import datagen  # noqa: E402
from perfbench.oracle import STAR_TABLES  # noqa: E402


def column_stats(con, path: str, col: str, kind: str) -> str:
    rel, c = f"read_parquet('{path}')", f'"{col}"'
    if kind == "VARCHAR":
        ndv, avg_len = con.sql(f"SELECT count(DISTINCT {c}), avg(length({c})) FROM {rel}").fetchone()
        return f"ndv {ndv} len {avg_len:.1f}"
    if kind.endswith("[]"):
        return "len %.1f" % con.sql(f"SELECT avg(len({c})) FROM {rel}").fetchone()
    ndv, lo, hi = con.sql(f"SELECT count(DISTINCT {c}), min({c}), max({c}) FROM {rel}").fetchone()
    out = f"ndv {ndv} [{lo}, {hi}]"
    if kind in ("BIGINT", "INTEGER", "DOUBLE"):
        mean, sd = con.sql(f"SELECT avg({c}), stddev({c}) FROM {rel}").fetchone()
        out += f" mean {mean:.4g} sd {sd:.4g}"
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    out = os.path.join(ROOT, ".perfbench", f"compare-{os.getpid()}")
    con = duckdb.connect()
    differ = []
    try:
        datagen.write_star(out, args.seed)
        for t in STAR_TABLES:
            ref, gen = (os.path.join(d, f"{t}.parquet") for d in (args.reference_dir, out))
            rows = [pq.ParquetFile(p).metadata.num_rows for p in (ref, gen)]
            same_schema = pq.read_schema(ref).remove_metadata() == pq.read_schema(gen).remove_metadata()
            if rows[0] != rows[1] or not same_schema:
                differ.append(t)
            print(f"== {t}: rows {rows[0]} reference, {rows[1]} generated; "
                  f"schema {'equal' if same_schema else 'DIFFERS'}")
            for col, kind, *_ in con.sql(f"DESCRIBE SELECT * FROM read_parquet('{ref}')").fetchall():
                print(f"   {col:18s} reference  {column_stats(con, ref, col, kind)}")
                print(f"   {'':18s} generated  {column_stats(con, gen, col, kind)}")
    finally:
        con.close()
        shutil.rmtree(out, ignore_errors=True)
    if differ:
        print(f"row counts or schemas differ: {differ}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
