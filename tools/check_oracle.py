"""Dev-loop correctness harness: run every declared query against its
DuckDB oracle, mimicking the driver's t2 gate (row-count + schema +
order-insensitive value compare).

Usage:
    python tools/check_oracle.py [sf_dir] [query ...]

Exit code 0 iff all checked queries match.
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from parquet_to_postgres_spark import TABLES  # noqa: E402
from parquet_to_postgres_spark.queries import load_all  # noqa: E402
from parquet_to_postgres_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical form: sort columns by name, stringify
    cells (lists -> tuples, floats via repr for bit-exactness), sort rows."""
    df = df[sorted(df.columns)]

    def cell(v):
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(cell(x) for x in v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        return str(v)

    return sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


def run(sf_dir: str, names: list[str] | None = None) -> int:
    specs = load_all()
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = 0
    for name, spec in sorted(specs.items()):
        if names and name not in names:
            continue
        try:
            sdf = spec.builder(spark, sf_dir)
            spark_pd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            duck_pd = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(spark_pd.columns) != sorted(duck_pd.columns):
            print(
                f"FAIL  {name}: columns differ\n"
                f"      spark={sorted(spark_pd.columns)}\n"
                f"      duck ={sorted(duck_pd.columns)}"
            )
            failures += 1
            continue
        if len(spark_pd) != len(duck_pd):
            print(f"FAIL  {name}: rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
            failures += 1
            continue
        cs, cd = canon(spark_pd), canon(duck_pd)
        if cs != cd:
            bad = next(i for i, (a, b) in enumerate(zip(cs, cd)) if a != b)
            print(
                f"FAIL  {name}: values differ at canonical row {bad}\n"
                f"      spark={cs[bad]}\n"
                f"      duck ={cd[bad]}"
            )
            failures += 1
            continue
        print(f"ok    {name}: {len(spark_pd)} rows hash-match")
    spark.stop()
    return failures


if __name__ == "__main__":
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    names = [a for a in argv if "/" not in a] or None
    sys.exit(1 if run(sf_dir, names) else 0)
