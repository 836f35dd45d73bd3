"""Fixture-drift guard (round-4 postmortem, round-5 verdict item 5).

The driver regenerates /root/testdata between rounds and has already
changed physical types once (events.ts -> TIMESTAMP(NANOS)), which cost
round 4 its bench.  These tests make that class of break a one-line
pytest failure instead of a mysterious downstream one:

- every fixture footer, every table, both SF dirs: the loader must
  normalize to CATALOG_SCHEMA exactly;
- known drift shapes (nanos ts, date, narrowed ints, widened floats)
  are exercised against synthetic drifted files and must normalize;
- unknown drift shapes must raise naming the column.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_to_postgres_spark import TABLES
from parquet_to_postgres_spark.tables import (
    CATALOG_SCHEMA,
    load_table,
    normalize_to_catalog,
)

from .conftest import SF_CORRECT, SF_SMOKE


def test_catalog_covers_every_table():
    assert set(CATALOG_SCHEMA) == set(TABLES)


@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, SF_CORRECT, "/root/testdata/sf0.1"]
)
@pytest.mark.parametrize("name", TABLES)
def test_loader_normalizes_every_fixture_footer(spark, sf_dir, name):
    """Whatever physical types this round's generator shipped, the
    loaded logical schema IS the catalog schema (order included for the
    catalog's columns; extra columns may trail)."""
    df = load_table(spark, sf_dir, name)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = CATALOG_SCHEMA[name]
    assert {k: got[k] for k in want} == want
    # the footer itself must be readable by pyarrow (same precondition
    # the DuckDB oracle relies on)
    pq.read_schema(f"{sf_dir}/{name}.parquet")


def _write(tmp, name, table):
    path = os.path.join(tmp, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def test_normalizes_nanos_timestamp_drift(spark):
    """TIMESTAMP(NANOS) -> µs-truncated session-TZ timestamp, by
    integer division (epoch nanos exceed 2^53).  The loader sets the
    nanos reader conf itself, so a session that has it off (as one not
    built by get_spark does) still normalizes."""
    import datetime

    ns = 1_700_000_000_123_456_789
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ns], pa.timestamp("ns")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        _write(d, "events", tbl)
        for conf_before in (None, "false"):
            if conf_before is not None:
                spark.conf.set(
                    "spark.sql.legacy.parquet.nanosAsLong", conf_before
                )
            out = load_table(spark, d, "events")
            got = {
                f.name: f.dataType.simpleString() for f in out.schema.fields
            }
            assert got == CATALOG_SCHEMA["events"], conf_before
            row = out.collect()[0]
            want_us = ns // 1000  # truncation, matching DuckDB's ns->µs cast
            got_us = int(
                row["ts"].replace(tzinfo=datetime.timezone.utc).timestamp()
                * 1e6
            )
            assert got_us == want_us, conf_before


def test_normalizes_date_and_width_drift(spark):
    """orders with o_orderdate as date32 and narrowed/widened numerics
    still lands on the catalog schema."""
    import datetime

    tbl = pa.table(
        {
            "o_orderkey": pa.array([1], pa.int32()),          # narrowed
            "o_custkey": pa.array([2], pa.int64()),
            "o_orderstatus": pa.array(["O"], pa.string()),
            "o_totalprice": pa.array([10.5], pa.float32()),    # narrowed
            "o_orderdate": pa.array(
                [datetime.date(2024, 3, 1)], pa.date32()
            ),
            "o_orderpriority": pa.array(["1-URGENT"], pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        _write(d, "orders", tbl)
        out = load_table(spark, d, "orders")
        got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
        assert got == CATALOG_SCHEMA["orders"]
        row = out.collect()[0]
        assert row["o_orderdate"] == datetime.datetime(2024, 3, 1, 0, 0)
        assert abs(row["o_totalprice"] - 10.5) < 1e-6


def test_unknown_drift_raises_naming_the_column(spark):
    """A drift with no safe rule (string where double belongs; bare
    int64 posing as a timestamp) fails loudly, not silently."""
    tbl = pa.table(
        {
            "r_regionkey": pa.array([1], pa.int32()),
            "r_name": pa.array([3.5], pa.float64()),  # string -> double!?
        }
    )
    with tempfile.TemporaryDirectory() as d:
        _write(d, "region", tbl)
        with pytest.raises(ValueError, match="r_name"):
            load_table(spark, d, "region").schema  # noqa: B018

    bare = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([123], pa.int64()),  # no ns annotation
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["x"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        _write(d, "events", bare)
        with pytest.raises(ValueError, match="ts"):
            load_table(spark, d, "events").schema  # noqa: B018


def test_dropped_column_raises(spark):
    tbl = pa.table({"r_regionkey": pa.array([1], pa.int32())})
    with tempfile.TemporaryDirectory() as d:
        _write(d, "region", tbl)
        with pytest.raises(ValueError, match="r_name"):
            load_table(spark, d, "region")


def test_extra_columns_pass_through(spark):
    tbl = pa.table(
        {
            "r_regionkey": pa.array([1], pa.int32()),
            "r_name": pa.array(["AFRICA"], pa.string()),
            "r_comment": pa.array(["new col"], pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        _write(d, "region", tbl)
        out = load_table(spark, d, "region")
        assert [f.name for f in out.schema.fields] == [
            "r_regionkey", "r_name", "r_comment",
        ]


def test_normalize_to_catalog_noop_on_conforming_frame(spark):
    """A frame already at catalog shape passes through column-identical
    (no extra projection surprises in the hot path)."""
    df = load_table(spark, SF_SMOKE, "lineitem")
    again = normalize_to_catalog(df, "lineitem", f"{SF_SMOKE}/lineitem.parquet")
    assert again.schema == df.schema
