"""DuckDB side of the benchmark: the oracle each result is checked
against, and the DuckDB timing behind ``vs_duckdb_geomean``.

The check follows the contract's hash rules in ``tests/pandas_hash.py``:
both sides go through pandas the way the contract converts them (PySpark's
Arrow ``toPandas`` conversion, DuckDB's ``.df()``), columns are compared by
name, and the rows ``pandas_hash.pandas_rows`` stringifies must be
equal as multisets. Later fetches of the same operation are
checked against the first one with an order-insensitive DuckDB row-hash
fingerprint, so every fetched result is checked without paying the
pandas compare more than once per operation.
"""

from __future__ import annotations

import time

import duckdb
import pyarrow as pa

from tests.pandas_hash import pandas_rows

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class Oracle:
    def __init__(self, threads: int, star_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        if star_dir:
            for t in STAR_TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')"
                )

    def close(self) -> None:
        self.con.close()

    def expected(self, sql: str):
        """The oracle result as the contract compares it (DuckDB's ``.df()``)."""
        return self.con.sql(sql).df()

    def time_query(self, sql: str, repeats: int = 3, budget_s: float = 0.3) -> float:
        """Fastest wall time of full Arrow fetches of ``sql``, after the
        untimed ``expected`` call has warmed DuckDB's caches: ``repeats``
        fetches, fewer once they have taken ``budget_s``."""
        times: list[float] = []
        while len(times) < repeats and sum(times) < budget_s:
            t0 = time.perf_counter()
            self.con.sql(sql).arrow()
            times.append(time.perf_counter() - t0)
        return min(times)

    def fingerprint(self, table: pa.Table) -> tuple:
        """Row count plus an order-insensitive sum of per-row hashes."""
        if table.num_columns == 0:
            return (table.num_rows,)
        cols = ", ".join(f'"{c}"' for c in table.column_names)
        view = self.con.from_arrow(table)
        return view.aggregate(f"count(*), sum(hash({cols}))::HUGEINT").fetchone()


def spark_pandas(table: pa.Table, schema, timezone: str):
    """Convert a fetched Arrow table to pandas exactly as PySpark's
    Arrow ``toPandas`` does (the contract's view of a Spark result)."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if table.num_rows == 0:
        return pd.DataFrame(columns=[f.name for f in schema.fields])
    pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
        date_as_object=True, coerce_temporal_nanoseconds=True
    )
    pdf.columns = [f.name for f in schema.fields]
    return pd.concat(
        [
            _create_converter_to_pandas(f.dataType, f.nullable, timezone=timezone,
                                        struct_in_pandas="dict")(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def mismatch(spark_pdf, oracle_pdf) -> str | None:
    """None when the two pandas frames hash equal under the contract's
    rules (``pandas_hash.pandas_rows``), else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"row counts differ: {len(spark_pdf)} vs {len(oracle_pdf)}"
    a, b = pandas_rows(spark_pdf), pandas_rows(oracle_pdf)
    if a != b:
        bad = sum(x != y for x, y in zip(a, b))
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"{bad} rows differ; first: {str(first[0])[:160]!r} vs {str(first[1])[:160]!r}"
    return None
