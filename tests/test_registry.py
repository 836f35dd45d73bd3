"""Every registered query runs at sf0.001 and matches its oracle.

This is the self-hosted version of the driver's t2 gate — it must stay
green for the full registry at all times: the declared queries (those
in DRIVER_ORDER) and the registered-but-undeclared ones alike.
"""

from __future__ import annotations

import pytest

from parquet_to_postgres_spark.queries import REGISTRY, load_all

from ._compare import assert_matches_oracle
from .conftest import SF_SMOKE

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.builder(spark, SF_SMOKE), duck, spec.oracle, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_driver_order_registry_consistency():
    """The driver observes at most 50 queries in DRIVER_ORDER order.
    load_all() is exactly the declared list — an undeclared registered
    query must never leak into the driver, bench or tools — and every
    declared name is registered (a typo here would drop a query from
    the correctness gate)."""
    from parquet_to_postgres_spark.queries import DRIVER_ORDER

    assert len(DRIVER_ORDER) == 50
    assert len(set(DRIVER_ORDER)) == 50
    assert list(SPECS) == list(DRIVER_ORDER)
    assert set(REGISTRY) >= set(DRIVER_ORDER)
    # every registered query has an oracle (zero rows-only checks)
    assert all(spec.oracle is not None for spec in REGISTRY.values())


def test_etl_pg_roundtrip_fallback_matches_oracle(spark, duck, monkeypatch):
    """etl_pg_roundtrip's declared result must be engine-independent:
    on a box with no postgres toolchain the builder swaps the live COPY
    roundtrip for a plain Parquet roundtrip, and THAT path must hash-match
    the same oracle (the parametrized gate above only ever exercises
    whichever path this box supports).  The deliberate fallback's
    RuntimeWarning is ASSERTED here (pytest.warns swallows it), so the
    suite's warnings summary stays clean and any *unexpected* pg
    fallback elsewhere in CI output is signal, not noise (r8 verdict)."""
    from parquet_to_postgres_spark import pg
    from parquet_to_postgres_spark.queries.etl_q import etl_pg_roundtrip

    monkeypatch.setattr(pg, "shared_postgres", lambda: None)
    spec = SPECS["etl_pg_roundtrip"]
    with pytest.warns(RuntimeWarning, match="fall"):
        result = etl_pg_roundtrip(spark, SF_SMOKE)
    assert_matches_oracle(
        result,
        duck,
        spec.oracle,
        "etl_pg_roundtrip[fallback]",
    )
