"""Live-PostgreSQL dialect execution (VERDICT r3 item 1).

The reference targets Postgres (``main.rs:60-66``); the JDBC writer path
is executed against embedded Derby (no PG JDBC jar ships here), so these
tests prove the POSTGRES side for real: ``schema_to_pg_ddl``'s corrected
type map (JSONB/BYTEA/NUMERIC/TIMESTAMP) executed by an actual postgres
server, bulk COPY in, bounded-range parallel COPY out, and value-exact
round-trips — including the NULL-vs-empty-string and embedded
quote/comma/newline cases the CSV wire has to carry.

Skipped cleanly when no postgres toolchain is installed.
"""

from __future__ import annotations

import contextlib
import datetime
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_postgres_spark import pg as P

from .conftest import SF_SMOKE

pytestmark = pytest.mark.skipif(
    not P.postgres_available(), reason="no usable postgres toolchain"
)


@pytest.fixture(scope="module")
def pgsrv(tmp_path_factory):
    srv = P.EmbeddedPostgres(str(tmp_path_factory.mktemp("pgsrv")))
    with srv:
        yield srv


@contextlib.contextmanager
def _batch_rows(spark, n):
    """Arrow batches of ``n`` rows inside the block, so one COPY task
    streams several batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _tricky_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("small", T.ShortType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("price", T.DecimalType(12, 2), True),
            T.StructField("ratio", T.DoubleType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("at", T.TimestampNTZType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    rows = [
        (1, 7, True, Decimal("12.34"), 0.5, 'plain', b"\x00\xff\x10",
         datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
         ["a", "b"]),
        (2, None, False, Decimal("-0.01"), None, 'comma, "quote"', None,
         None, None, []),
        (3, 0, None, None, 2.25, "line1\nline2", b"", datetime.date(1999, 12, 31),
         datetime.datetime(1999, 12, 31, 23, 59, 59), None),
        (4, -1, True, Decimal("99999999.99"), -1.5, "", b"\xde\xad\xbe\xef",
         datetime.date(2024, 6, 1), datetime.datetime(2024, 6, 1, 0, 0, 0),
         ['x,y', 'q"r']),
        (5, 12, False, Decimal("0.00"), 3.14159, None, b"\x01",
         datetime.date(2000, 2, 29), datetime.datetime(2000, 2, 29, 12, 0, 0),
         ["été", "中文"]),
    ]
    return spark.createDataFrame(rows, schema)


def test_roundtrip_value_exact(spark, pgsrv):
    """Every supported type survives write→COPY→read-back bit-exactly,
    including NULL vs empty string, embedded separators, unicode, bytea,
    decimals at precision edges and nested→JSONB."""
    df = _tricky_df(spark)
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "tricky", mode="overwrite", num_partitions=2
    )
    ddl = sink.write(df)
    assert "JSONB" in ddl and "BYTEA" in ddl and "NUMERIC(12,2)" in ddl
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "tricky",
        df.schema,
        partition_column="id",
        lower=1,
        upper=5,
        num_partitions=3,
    )
    got = sorted(back.collect(), key=lambda r: r["id"])
    want = sorted(df.collect(), key=lambda r: r["id"])
    assert got == want


def test_jsonb_is_real_jsonb_server_side(spark, pgsrv):
    """The nested column lands as queryable JSONB, not text: the server
    itself evaluates a ``->>`` path over it."""
    df = _tricky_df(spark)
    P.PostgresCopySink(
        pgsrv.conninfo(), "tricky_j", mode="overwrite", num_partitions=1
    ).write(df)
    out = pgsrv.psql(
        "SELECT id, tags->>0 FROM tricky_j WHERE tags IS NOT NULL "
        "AND jsonb_array_length(tags) > 0 ORDER BY id;"
    )
    assert out.splitlines()[0] == "1|a"
    typ = pgsrv.psql(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name='tricky_j' AND column_name='tags';"
    ).strip()
    assert typ == "jsonb"


def test_append_accumulates_overwrite_resets(spark, pgsrv):
    df = _tricky_df(spark).select("id", "name")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "modes_t", mode="overwrite", num_partitions=1
    )
    sink.write(df)
    P.PostgresCopySink(
        pgsrv.conninfo(), "modes_t", mode="append", num_partitions=1
    ).write(df)
    assert pgsrv.psql("SELECT count(*) FROM modes_t;").strip() == "10"
    sink.write(df)
    assert pgsrv.psql("SELECT count(*) FROM modes_t;").strip() == "5"


def test_orders_roundtrip_hash_equivalent(spark, pgsrv):
    """The etl_jdbc_roundtrip shape against REAL Postgres: orders plus a
    synthesized nested column through the COPY sink, read back over 4
    bounded-range connections, aggregated — equal row-for-row to the
    same aggregate over the original parquet (the oracle's side)."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    src = orders.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).withColumn("tags", F.array("o_orderstatus", "o_orderpriority"))
    P.PostgresCopySink(
        pgsrv.conninfo(), "orders_rt", mode="overwrite", num_partitions=4
    ).write(src)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "orders_rt",
        src.schema,
        partition_column="o_orderkey",
        lower=int(lo),
        upper=int(hi),
        num_partitions=4,
    )

    def agg(d):
        return (
            d.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_orderpriority").alias("n_prios"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("total"),
                F.min(F.to_json("tags")).alias("min_tags"),
            )
            .orderBy("o_orderstatus")
        )

    assert agg(back).collect() == agg(src).collect()
    # the server really holds every row
    n = int(pgsrv.psql("SELECT count(*) FROM orders_rt;").strip())
    assert n == orders.count()


def test_cli_pg_conninfo_targets_existing_server(spark, pgsrv, capsys):
    """tools/etl_cli.py --pg-conninfo: the one-flag path onto an EXISTING
    PostgreSQL (the real-cluster deployment noted in pg.py) — same COPY
    sink, no embedded-server scaffolding.  Proven here against the test
    server via its conninfo string, exactly as a user would pass one."""
    import importlib
    import os
    import sys

    tools_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    sys.path.insert(0, tools_dir)
    try:
        etl_cli = importlib.import_module("etl_cli")
    finally:
        sys.path.remove(tools_dir)

    arg = " ".join(f"{k}={v}" for k, v in pgsrv.conninfo().items())
    rc = etl_cli.main(
        [
            f"{SF_SMOKE}/region.parquet",
            "--table",
            "cli_region",
            "--pg-conninfo",
            arg,
            "--mode",
            "overwrite",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "CREATE TABLE" in out  # DDL printed, reference parity
    assert "rows in cli_region: 5" in out  # region has 5 rows at sf0.001


def test_copy_sink_exactly_once_batches_and_stream(spark, pgsrv):
    """PostgresCopySink.write_batch is exactly-once on the live server:
    replaying a committed batch_id moves no rows, new batches append,
    and a multi-micro-batch file stream through foreachBatch lands the
    whole source exactly once."""
    import tempfile

    from parquet_to_postgres_spark.streaming import ops

    src = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "nation_x1", mode="append", num_partitions=2
    )
    b0 = src.where(F.col("n_nationkey") < 10)

    assert sink.write_batch(b0, 0) is True
    n0 = int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip())
    assert n0 == b0.count()
    assert sink.write_batch(b0, 0) is False  # replay: ledger hit
    assert int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip()) == n0
    assert sink.write_batch(src.where(F.col("n_nationkey") >= 10), 1) is True
    assert (
        int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip())
        == src.count()
    )
    assert sink.is_committed(0) and sink.is_committed(1)
    assert not sink.is_committed(7)

    # streaming end-to-end: 3 files, maxFilesPerTrigger=1 → multi-batch
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    ssink = P.PostgresCopySink(
        pgsrv.conninfo(), "events_x1", mode="append", num_partitions=2
    )
    with tempfile.TemporaryDirectory() as d:
        ev.repartition(3).write.parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in")
        )
        ops.run_stream_to_sink(stream, ssink, f"{d}/ckpt")
    assert int(
        pgsrv.psql("SELECT count(*) FROM events_x1;").strip()
    ) == ev.count()
    committed = [b for b in range(5) if ssink.is_committed(b)]
    assert len(committed) >= 2, f"expected multi-batch run: {committed}"
    # replay one finished batch through the same foreachBatch hook
    ops.foreach_batch_writer(ssink)(ev.limit(40), committed[0])
    assert int(
        pgsrv.psql("SELECT count(*) FROM events_x1;").strip()
    ) == ev.count()


def test_partition_tagged_copy_is_task_retry_idempotent(spark, pgsrv):
    """The staged COPY path deletes its own partition's rows before
    copying inside one transaction, so a re-executed task (the
    executor-lost-after-commit retry) replaces rather than duplicates.
    Simulated here by re-running the whole tagged write into the same
    table: every task is a 'retry' and the row count must not move."""
    from parquet_to_postgres_spark.pg import PostgresCopySink, run_psql

    docs = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    sink = PostgresCopySink(
        conninfo=pgsrv.conninfo(),
        table="retry_tagged",
        mode="append",
        num_partitions=3,
        partition_tag=True,
    )
    sink.write(docs)
    first = int(run_psql(pgsrv.conninfo(), "SELECT count(*) FROM retry_tagged;"))
    sink.write(docs)  # every task re-runs: delete-own-partition + copy
    second = int(run_psql(pgsrv.conninfo(), "SELECT count(*) FROM retry_tagged;"))
    assert first == docs.count() == second


FLOAT32_MIN_DENORMAL = 2.0**-149
FLOAT32_MAX = (2.0 - 2.0**-23) * 2.0**127


def _binary_tricky_df(spark):
    """The tricky frame plus the IEEE/integer edge values binary must
    carry bit-exactly: NaN, +-Inf, -0.0, Long.MIN/MAX, Byte.MIN/MAX,
    float32 denormal/max, pre-2000 temporals, and NUMERIC at
    precision/scale edges."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("small", T.ShortType(), True),
            T.StructField("tiny", T.ByteType(), True),
            T.StructField("big", T.LongType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("ratio", T.DoubleType(), True),
            T.StructField("r4", T.FloatType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("at", T.TimestampNTZType(), True),
            # session-tz TimestampType exercises the one _binary_cell
            # branch where timezone semantics enter the wire (cast
            # through timestamp_ntz to match CSV's session-local
            # render) — r11 second-pass review finding
            T.StructField("attz", T.TimestampType(), True),
            # NUMERIC binary send format (base-10000 groups): precision
            # edges, negative, zero, and a high-scale column whose
            # point-alignment needs a fractional pad digit
            T.StructField("price", T.DecimalType(12, 2), True),
            T.StructField("fine", T.DecimalType(20, 11), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    rows = [
        (1, 7, 127, 2**63 - 1, True, float("nan"), -2.25, 'comma, "quote"',
         b"\x00\xff", datetime.date(1999, 12, 31),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         Decimal("99999999.99"), Decimal("123456789.12345678901"),
         ["a", "b"]),
        (2, -32768, -128, -(2**63), False, float("inf"), None, "line1\nline2",
         b"", datetime.date(2000, 1, 1),
         datetime.datetime(2024, 6, 15, 2, 30, 0, 123456),
         datetime.datetime(2024, 6, 15, 2, 30, 0, 123456),
         Decimal("-0.01"), Decimal("-0.00000000001"), []),
        (3, 32767, 0, 0, None, -0.0, float("-inf"), "", None, None, None,
         None, Decimal("0.00"), None, ["été", "中文"]),
        (4, None, None, None, True, 3.14159, 0.0, None, b"\xde\xad", None,
         datetime.datetime(2000, 1, 1, 0, 0, 0),
         datetime.datetime(2000, 2, 29, 12, 0, 0),
         None, Decimal("999999999.99999999999"), None),
        # float32 extremes: the smallest denormal and the largest finite
        (5, None, -1, None, None, None, FLOAT32_MIN_DENORMAL, None, None,
         None, None, None, None, None, None),
        (6, None, 1, None, None, None, FLOAT32_MAX, None, None, None, None,
         None, None, None, None),
    ]
    return spark.createDataFrame(rows, schema)


def test_copy_binary_matches_csv_wire(spark, pgsrv):
    """VERDICT r10 item 4: the PGCOPY binary wire lands the SAME table
    contents as the CSV wire — checked server-side with EXCEPT ALL over
    every edge value (IEEE specials, integer extremes, NULL vs empty
    string, unicode, bytea, jsonb, both sides of the 2000-01-01 binary
    temporal epoch).  The A/B wall numbers live in BASELINE.md; csv
    stays the shipped default (faster end-to-end on this topology),
    binary is the option for server-CPU-bound deployments (measured
    2.1x cheaper server-side parse).  Two-row Arrow batches make each
    COPY span several batches, so the PGCOPY header and trailer must
    frame the whole stream, not each batch."""
    df = _binary_tricky_df(spark)
    for wire in ("csv", "binary"):
        with _batch_rows(spark, 2):
            P.PostgresCopySink(
                pgsrv.conninfo(),
                f"wire_{wire}",
                mode="overwrite",
                num_partitions=2,
                wire_format=wire,
            ).write(df)
    diff = P.run_psql(
        pgsrv.conninfo(),
        """
        SELECT count(*) FROM (
          SELECT id, small, tiny, big, flag, ratio::text, r4::text, name,
                 blob, day, at, attz, price, fine, tags FROM wire_csv
          EXCEPT ALL
          SELECT id, small, tiny, big, flag, ratio::text, r4::text, name,
                 blob, day, at, attz, price, fine, tags FROM wire_binary
          UNION ALL
          SELECT id, small, tiny, big, flag, ratio::text, r4::text, name,
                 blob, day, at, attz, price, fine, tags FROM wire_binary
          EXCEPT ALL
          SELECT id, small, tiny, big, flag, ratio::text, r4::text, name,
                 blob, day, at, attz, price, fine, tags FROM wire_csv) x;
        """,
    ).strip()
    assert diff == "0", diff
    n = P.run_psql(
        pgsrv.conninfo(), "SELECT count(*) FROM wire_binary;"
    ).strip()
    assert n == "6"
    # jsonb payload is real jsonb through the binary wire too
    j = P.run_psql(
        pgsrv.conninfo(),
        "SELECT tags->>1 FROM wire_binary WHERE id = 3;",
    ).strip()
    assert j == "中文"


def _assert_rows_exact(got, want):
    """Row-by-row equality by id that also compares NaN (by isnan) and
    the sign of a float zero, which Row equality cannot see."""
    got = sorted(got, key=lambda r: r["id"])
    want = sorted(want, key=lambda r: r["id"])
    assert [r["id"] for r in got] == [r["id"] for r in want]
    for g, w in zip(got, want):
        assert g.__fields__ == w.__fields__
        for name in w.__fields__:
            a, b = g[name], w[name]
            where = (w["id"], name, a, b)
            if isinstance(b, float) and math.isnan(b):
                assert isinstance(a, float) and math.isnan(a), where
                continue
            assert a == b, where
            if isinstance(b, float):
                assert math.copysign(1.0, a) == math.copysign(1.0, b), where


def _read_tricky(spark, pgsrv, table, df):
    return P.read_back(
        spark,
        pgsrv.conninfo(),
        table,
        df.schema,
        partition_column="id",
        lower=2,
        upper=4,
        num_partitions=2,
    ).collect()


def test_copy_binary_roundtrip_read_back(spark, pgsrv):
    """Binary-written rows read back value-exact through the bounded
    parallel COPY-out path (same assertion family as the csv twin)."""
    df = _binary_tricky_df(spark)
    P.PostgresCopySink(
        pgsrv.conninfo(),
        "wire_rt",
        mode="overwrite",
        num_partitions=2,
        wire_format="binary",
    ).write(df)
    _assert_rows_exact(_read_tricky(spark, pgsrv, "wire_rt", df), df.collect())


def test_csv_wire_edge_values_read_back(spark, pgsrv):
    """The edge frame through the CSV wire reads back value-exact: the
    COPY-out text of NaN/±Infinity/-0, float4 denormal and max, integer
    extremes, session-zone timestamps, high-scale NUMERIC, bytea and
    JSONB each parse to the value written."""
    df = _binary_tricky_df(spark)
    P.PostgresCopySink(
        pgsrv.conninfo(), "wire_csv_rt", mode="overwrite", num_partitions=2
    ).write(df)
    _assert_rows_exact(
        _read_tricky(spark, pgsrv, "wire_csv_rt", df), df.collect()
    )


def test_null_sentinel_text_and_empty_string_read_back(spark, pgsrv):
    """A string whose text looks like a NULL marker is data: NULL, ''
    and '__PGNULL__' (the marker of an earlier read wire) — and the
    spellings a CSV reader nulls by default, and whitespace a CSV
    writer trims by default — all round-trip exactly."""
    texts = [None, "", "__PGNULL__", "NULL", "null", "NA", "N/A", "NaN",
             " ", "  pad  ", "\ttab\t"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, name string"
    )
    P.PostgresCopySink(
        pgsrv.conninfo(), "null_marks", mode="overwrite", num_partitions=1
    ).write(df)
    back = P.read_back(spark, pgsrv.conninfo(), "null_marks", df.schema)
    got = sorted((r["id"], r["name"]) for r in back.collect())
    assert got == list(enumerate(texts))


def test_csv_wire_carries_end_of_data_marker_text(spark, pgsrv):
    """A record that is exactly ``\\.`` is psql's end-of-data line; on
    the CSV wire it must load as data, not silently end the COPY and
    drop the rows after it.  The binary wire carries it as any text.
    Two-row Arrow batches put the marker at a batch's end."""
    texts = ["a", "\\.", "b", "c"]
    df = spark.createDataFrame([(t,) for t in texts], "name string")
    for wire in ("csv", "binary"):
        table = f"eod_marker_{wire}"
        with _batch_rows(spark, 2):
            P.PostgresCopySink(
                pgsrv.conninfo(), table, mode="overwrite", num_partitions=1,
                wire_format=wire,
            ).write(df)
        got = P.run_psql(pgsrv.conninfo(), f"SELECT name FROM {table}")
        assert sorted(got.splitlines()) == sorted(texts), wire


def test_read_back_empty_table(spark, pgsrv):
    """A 0-row table reads back as 0 rows in the declared schema, over
    one connection and over several."""
    df = _binary_tricky_df(spark).where("id < 0")
    P.PostgresCopySink(
        pgsrv.conninfo(), "empty_rt", mode="overwrite", num_partitions=2
    ).write(df)
    declared = [(f.name, f.dataType) for f in df.schema.fields]
    for kw in ({}, {"partition_column": "id", "lower": 0, "upper": 10,
                    "num_partitions": 3}):
        back = P.read_back(spark, pgsrv.conninfo(), "empty_rt", df.schema, **kw)
        assert [(f.name, f.dataType) for f in back.schema.fields] == declared
        assert back.collect() == []


def test_read_back_reports_psql_error(spark, pgsrv):
    """A failed scan raises with psql's own message, not an empty or
    partial result."""
    back = P.read_back(spark, pgsrv.conninfo(), "no_such_table", "id long")
    with pytest.raises(Exception, match="no_such_table.*does not exist"):
        back.collect()


def test_read_back_empty_middle_ranges(spark, pgsrv):
    """Rows clustered at both ends of [lower, upper), plus rows outside
    it, with the middle ranges empty: the read returns exactly the
    table's rows."""
    ids = [-5, 0, 1, 2, 997, 998, 999, 5000]
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in ids], "id long, name string"
    )
    P.PostgresCopySink(
        pgsrv.conninfo(), "sparse_rt", mode="overwrite", num_partitions=2
    ).write(df)
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "sparse_rt",
        df.schema,
        partition_column="id",
        lower=0,
        upper=1000,
        num_partitions=10,
    )
    assert back.rdd.getNumPartitions() == 10
    assert sorted(back.collect()) == sorted(df.collect())


def test_copy_binary_refusal_is_non_destructive(spark, pgsrv):
    """An unsupported column type must refuse BEFORE the overwrite
    DROP, so a populated table survives (r11 second-pass review
    finding — the old order left an empty shell).  Every DDL-mapped
    type now has a binary send format (the r11 fourth-pass review
    lifted the last decimal-width refusal: the string-slicing pipeline
    never builds a point-aligned numeric intermediate), so the trigger
    here is a type with NO Postgres mapping at all — which fails in
    DDL generation, still before the DROP."""
    seed = spark.createDataFrame([(1, "keep")], "id long, note string")
    P.PostgresCopySink(
        pgsrv.conninfo(), "wire_dec", mode="overwrite", num_partitions=1
    ).write(seed)
    df = spark.range(1).select(
        "id", F.expr("interval '1' day").alias("iv")
    )
    sink = P.PostgresCopySink(
        pgsrv.conninfo(),
        "wire_dec",
        mode="overwrite",
        wire_format="binary",
    )
    with pytest.raises(TypeError, match="no Postgres mapping"):
        sink.write(df)
    out = P.run_psql(
        pgsrv.conninfo(), "SELECT id, note FROM wire_dec;"
    ).strip()
    assert out == "1|keep"


def test_copy_binary_decimal_edge_widths(spark, pgsrv):
    """r11 third-pass findings, all reproduced pre-fix: decimal(38,0)
    passed validation then died at COPY runtime (destroying the
    overwritten table), decimal(20,19) threw NumberFormatException
    from an int64-overflowing literal, and decimal(36,19) was silently
    CORRUPTED by Spark's own abs() (…0123456 -> …0123500).  The
    string-slicing digit extraction ships because every arithmetic
    form failed one of these; this pins the full-width/high-scale
    matrix value-equal to the CSV wire."""
    import random

    rng = random.Random(77)

    def rnd(p, s):
        # scaleb, NOT division: the default decimal context rounds the
        # quotient to 28 significant digits, silently zeroing the low
        # base-10000 groups this test exists to pin (r11 fourth-pass
        # review finding, reproduced with this very seed)
        digs = "".join(rng.choice("0123456789") for _ in range(p))
        v = Decimal(digs).scaleb(-s)
        return -v if rng.random() < 0.5 else v

    rows = [
        (
            1,
            Decimal("99999999999999999999999999999999999999"),
            Decimal("0.9999999999999999999"),
            Decimal("-12345678901234567.8901234567890123456"),
        ),
        (2, Decimal(-(10**37)), Decimal("0.0000000000000000001"), None),
        (
            3,
            Decimal(0),
            Decimal("-0.5000000000000000000"),
            Decimal("17.0000000000000000001"),
        ),
    ] + [
        (10 + i, rnd(38, 0), rnd(20, 19), rnd(36, 19))
        for i in range(25)
    ]
    rows = [r + (rnd(38, 3), rnd(38, 38)) for r in rows[:3]] + [
        r + (rnd(38, 3), rnd(38, 38)) for r in rows[3:]
    ]
    df = spark.createDataFrame(
        rows,
        "id long, big decimal(38,0), fine decimal(20,19), "
        "mid decimal(36,19), wide3 decimal(38,3), allfrac decimal(38,38)",
    )
    for wire in ("csv", "binary"):
        P.PostgresCopySink(
            pgsrv.conninfo(),
            f"dedge_{wire}",
            mode="overwrite",
            num_partitions=2,
            wire_format=wire,
        ).write(df)
    diff = P.run_psql(
        pgsrv.conninfo(),
        """
        SELECT count(*) FROM (
          SELECT * FROM dedge_csv EXCEPT ALL SELECT * FROM dedge_binary
          UNION ALL
          SELECT * FROM dedge_binary EXCEPT ALL SELECT * FROM dedge_csv
        ) x;
        """,
    ).strip()
    assert diff == "0", diff


def test_overwrite_keeps_old_table_when_create_fails(spark, pgsrv):
    """Overwrite runs DROP and CREATE as one psql transaction: a CREATE
    that fails (a column named ``select`` is a syntax error in the DDL)
    leaves the old table and its rows, not a dropped target."""
    P.PostgresCopySink(
        pgsrv.conninfo(), "atomic_ow", mode="overwrite", num_partitions=1
    ).write(spark.createDataFrame([(1, "keep")], "id long, note string"))
    bad = spark.createDataFrame([(2, "x")], "id long, note string").toDF(
        "id", "select"
    )
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "atomic_ow", mode="overwrite", num_partitions=1
    )
    with pytest.raises(RuntimeError, match="syntax error"):
        sink.write(bad)
    out = P.run_psql(pgsrv.conninfo(), "SELECT id, note FROM atomic_ow;")
    assert out.strip() == "1|keep"


def test_copy_server_error_mid_stream_raises_psql_message(spark, pgsrv):
    """The server rejects row 50 of a 100-row COPY that arrives in
    8-row Arrow batches: the task fails with a RuntimeError carrying
    psql's own message (not a BrokenPipeError from the pipe it was
    writing), and the aborted COPY leaves the table empty."""
    pgsrv.psql(
        "DROP TABLE IF EXISTS capped; "
        "CREATE TABLE capped (id bigint CHECK (id < 50), name text);"
    )
    df = spark.range(0, 100, 1, 1).selectExpr("id", "concat('r', id) AS name")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "capped", mode="append", num_partitions=1
    )
    with _batch_rows(spark, 8), pytest.raises(Exception) as err:
        sink.write(df)
    msg = str(err.value)
    assert "RuntimeError: psql failed" in msg, msg
    assert "violates check constraint" in msg, msg
    assert "BrokenPipeError" not in msg, msg
    assert pgsrv.psql("SELECT count(*) FROM capped;").strip() == "0"
