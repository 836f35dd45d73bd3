from __future__ import annotations

import duckdb
import pytest

from parquet_to_postgres_spark import TABLES
from parquet_to_postgres_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def zero_cell(spark, dim: int = 64):
    """One all-zero coarse cell.  IVF-PQ over it (``ivfpq_train(...,
    centroids=zero_cell(spark))``, ``n_probes=1``) is plain full-scan
    product quantization: the residual ``x − 0`` is ``x`` itself."""
    return spark.createDataFrame(
        [(0, [0.0] * dim)], "cell int, centroid array<double>"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.001 tables registered as views
    (mirrors the driver's oracle setup)."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
