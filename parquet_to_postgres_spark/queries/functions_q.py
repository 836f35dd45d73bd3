"""Scalar function library queries (SURVEY.md §2B F1–F7).

``scalar_functions`` carries the per-row families F1/F2/F3/F7 in one
declared query (the driver's correctness gate observes at most 50
queries, so same-grain families share one); F5/F6 share
``semi_structured_functions``, and F4 (higher-order arrays) is declared
via ``embedding_profile`` (llm_q).  Dialect edges handled here:

- ``floor``/``ceil`` return BIGINT in Spark but DOUBLE in DuckDB → cast.
- ``round`` on raw doubles can straddle ties differently → round on the
  exact DECIMAL view instead.
- ``pow``/``log`` are libm-dependent in the last ulp → use exponents /
  arguments where both engines are exact (powers of two, sqrt).
- Spark ``split`` takes a regex, DuckDB ``string_split`` a literal —
  only literal separators are used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import Catalog
from . import register
from ._util import dec


@register(
    "scalar_functions",
    oracle="""
    SELECT o_orderkey,
           -- F1: string family
           lower(o_orderpriority) AS lprio,
           upper(o_orderstatus) AS ustat,
           substring(o_orderpriority, 3, 20) AS prio_name,
           CAST(regexp_extract(o_orderpriority, '([0-9]+)', 1) AS BIGINT) AS prio_num,
           regexp_replace(o_orderpriority, '^[0-9]-', '') AS prio_short,
           length(o_orderpriority) AS prio_len,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded,
           instr(o_orderpriority, '-') AS dash_pos,
           trim(concat(' ', o_orderstatus, ' ')) AS trimmed,
           concat_ws('-', o_orderstatus, o_orderpriority) AS stat_prio,
           -- F2: date/time family
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           date_trunc('month', o_orderdate) AS month_start,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_sec,
           -- F3: math family
           CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_r1,
           CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
           abs(o_custkey - 500) AS cust_dev,
           sqrt(o_totalprice) AS price_sqrt,
           pow(2.0, o_orderkey % 10) AS two_pow,
           ((o_orderkey % 7) + 7) % 7 AS pmod7,
           CAST(sign(o_custkey - 500) AS DOUBLE) AS cust_sign,
           -- F7: cast/conversion family
           CAST(trunc(o_totalprice) AS INTEGER) AS price_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_back,
           CAST(o_custkey AS DOUBLE) AS cust_dbl,
           CAST(o_totalprice > 150000 AS INTEGER) AS big_flag
    FROM orders
    """,
    tags=("F1", "F2", "F3", "F7"),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F3+F7: the scalar function families in one declared query
    over orders (single scan, one stage, pure whole-stage codegen).

    Dialect edges handled: 1-based substring in both engines; DATE values
    emitted as ISO strings (pandas date vs datetime64 representation);
    floor/ceil cast to BIGINT (DuckDB returns DOUBLE); round applied on
    the exact DECIMAL view; pow kept to powers of two and sqrt (IEEE-
    exact in both); Spark's double→int cast truncates toward zero while
    DuckDB's rounds, so the oracle spells trunc() explicitly."""
    t = Catalog(spark, sf_dir)
    return t.orders.select(
        "o_orderkey",
        # F1: strings
        F.lower("o_orderpriority").alias("lprio"),
        F.upper("o_orderstatus").alias("ustat"),
        F.substring("o_orderpriority", 3, 20).alias("prio_name"),
        F.regexp_extract("o_orderpriority", r"([0-9]+)", 1)
        .cast("bigint")
        .alias("prio_num"),
        F.regexp_replace("o_orderpriority", r"^[0-9]-", "").alias("prio_short"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
        F.instr(F.col("o_orderpriority"), "-").cast("long").alias("dash_pos"),
        F.trim(F.concat(F.lit(" "), F.col("o_orderstatus"), F.lit(" "))).alias(
            "trimmed"
        ),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("stat_prio"),
        # F2: date/time
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("order_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days_to_2002"),
        (F.to_date("o_orderdate").cast("timestamp") + F.expr("INTERVAL 30 DAY")).alias(
            "due_ts"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
        # F3: math
        F.round(dec("o_totalprice"), 1).cast("double").alias("price_r1"),
        F.floor("o_totalprice").alias("price_floor"),
        F.ceil("o_totalprice").alias("price_ceil"),
        F.abs(F.col("o_custkey") - 500).cast("long").alias("cust_dev"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.pow(F.lit(2.0), F.col("o_orderkey") % 10).alias("two_pow"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).alias("pmod7"),
        F.signum(F.col("o_custkey") - 500).cast("double").alias("cust_sign"),
        # F7: casts
        F.col("o_totalprice").cast("int").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("key_back"),
        F.col("o_custkey").cast("double").alias("cust_dbl"),
        (F.col("o_totalprice") > 150000).cast("int").alias("big_flag"),
    )


@register(
    "semi_structured_functions",
    oracle="""
    SELECT event_id,
           map {'type': event_type}['type'][1] AS type_back,
           array_to_string(map_keys(map {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS mkeys,
           array_to_string(map_values(map {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}), ',') AS mvals,
           cardinality(map {'type': event_type, 'uid': CAST(user_id AS VARCHAR)}) AS msize,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_str,
           to_json(struct_pack(event_id := event_id, event_type := event_type)) AS packed
    FROM events
    """,
    tags=("F5", "F6"),
)
def semi_structured_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6: the semi-structured families (map + JSON) in one declared
    query over a single events scan.

    Maps are built with literal key order so key/value arrays align
    across engines, and serialized to comma-joined strings — the
    correctness gate cannot hash collection cells, and literal key order
    keeps the string canonical.  JSON stays a string column and is
    parsed on demand (at scale this avoids a schema-inference pass)."""
    t = Catalog(spark, sf_dir)
    m2 = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("uid"),
        F.col("user_id").cast("string"),
    )
    return t.events.select(
        "event_id",
        # F5: map family
        F.element_at(F.create_map(F.lit("type"), F.col("event_type")), "type").alias(
            "type_back"
        ),
        F.concat_ws(",", F.map_keys(m2)).alias("mkeys"),
        F.concat_ws(",", F.map_values(m2)).alias("mvals"),
        F.size(m2).cast("long").alias("msize"),
        # F6: JSON family
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.to_json(F.struct("event_id", "event_type")).alias("packed"),
    )


