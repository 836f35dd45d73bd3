"""Aggregation queries (SURVEY.md §2B A1–A7).

A1 is covered by the flagship ``pricing_summary`` (relational_q).  All
exact statistics below are computed from exact decimal sums combined
with plain double arithmetic, so Spark and DuckDB produce bit-identical
results regardless of aggregation order (see queries/_util.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import Catalog, spread
from . import register
from ._util import dec, sql_dec, sql_dsum


CUBE_ORDERS_ORACLE = f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           {sql_dsum("o_totalprice", "total")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


@register("cube_orders", oracle=CUBE_ORDERS_ORACLE, tags=("A4", "A2"))
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A2: CUBE (all grouping-set combinations — ROLLUP is the subset
    of these sets that forms the hierarchy) with a count-distinct per
    grouping set (Catalyst expands it to a two-phase partial aggregate).

    Rotated back IN in round 13 (VERDICT r12 item 2): after the r12
    rotation A4's only in-registry cover was a pivot — conditional
    aggregation, not grouping sets — so the operator the ID names is
    again certified by a declared query.

    r15 (guide §2.3 — shuffle fewer bytes): the CUBE's Expand operator
    multiplies its INPUT by the number of grouping sets (4 here), so the
    input is pre-aggregated to (status, priority, custkey) grain first —
    the finest grain any output cell needs, because the count-distinct
    key is part of it.  Expand then quadruples |distinct grain| rows
    (109k on the fixture, vs 150k raw; at warehouse scale orders-per-
    customer-per-cell is the real multiplier) and the partial rows carry
    a pre-summed decimal instead of every order row.  Results are
    identical by associativity: counts sum, exact decimal partials sum,
    and the grain holds one row per distinct custkey per cell so
    count-distinct is preserved; probed equal + 1.245 → 0.932 s
    (plans/r15/probes_batch3.log), oracle hash-green."""
    t = Catalog(spark, sf_dir)
    grain = t.orders.groupBy(
        "o_orderstatus", "o_orderpriority", "o_custkey"
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec("o_totalprice")).alias("__t"),
    )
    return grain.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("__n").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum("__t").cast("double").alias("total"),
    )


@register(
    "approx_sketches",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS exact_users,
           true AS hll_ok,
           true AS p50_ok
    FROM events GROUP BY event_type
    """,
    tags=("A3", "A7"),
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + approx-A7: HLL count-distinct and KLL-ish quantile sketches,
    verified through deterministic error-bound assertions.

    The sketch values themselves cannot hash-match a DuckDB twin (the
    engines' sketches differ), but both sketches ARE deterministic for a
    given input — so the query outputs the exact statistics (verifiable
    cell-for-cell) plus booleans asserting the sketch landed within its
    error bound: hll_ok (rsd 2% sketch within 10% of exact) and p50_ok
    (approx median between the exact quartiles).  The oracle states the
    bounds hold; a sketch regression flips a cell and fails the gate.

    At 100 TB the sketches replace exact count-distinct's full shuffle
    with constant-size map-side-merged state — that is the point of A3.
    """
    t = Catalog(spark, sf_dir)
    # spread() of the three consumed columns (r15): the exact-percentile
    # buffers (hold-all-values) and the count-distinct expand otherwise
    # build on the single scan task of the one-file fixture — the
    # partial aggregate ran on one core.  Project-then-spread shuffles
    # only the bytes the aggregate reads (guide §2.3).  Exact outputs
    # are partitioning-independent; the sketch estimates stay inside
    # their asserted bounds (booleans re-verified equal, oracle
    # hash-green).  Measured 2.62 s → 1.45 s (min of 3); spread no-ops
    # on any multi-file production table.
    ev = spread(t.events.select("event_type", "user_id", "value"))
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_users"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("hll_users") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users")
        ).alias("hll_ok"),
        (
            (F.col("p50_approx") >= F.col("p25"))
            & (F.col("p50_approx") <= F.col("p75"))
        ).alias("p50_ok"),
    )


@register(
    "collect_nations",
    oracle="""
    SELECT r.r_name,
           array_to_string(list_sort(list(DISTINCT n.n_name)), ',') AS nations,
           COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("A6",),
)
def collect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: array aggregation — collect_set + array_sort for determinism.

    The sorted array is serialized to a comma-joined string on both
    engine sides: the correctness gate hashes cell values and cannot
    digest collection cells, and a canonical string is equally exact."""
    t = Catalog(spark, sf_dir)
    return (
        t.region.join(t.nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@register(
    "salted_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id
    """,
)
def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-stage aggregation over the hot-key events
    table (few users, many events — exactly the shape that pins one
    reducer at 100 TB).  Identical results to a plain GROUP BY; the
    salt only reshapes the shuffle.

    Registered but not declared (not in DRIVER_ORDER) since round 14,
    when its slot went to attribution_report, the same events/user
    grain; A1 stays declared via pricing_summary.  It is the only query
    that reaches operators.salted_agg, so the registry's parametrized
    oracle test keeps the salting machinery checked."""
    from ..operators import salted_agg

    t = Catalog(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    ev = t.events.select("user_id", "event_id", cents.alias("cents"))
    return salted_agg(
        ev,
        keys=["user_id"],
        partials={
            "pn": F.count(F.lit(1)),
            "psum": F.sum("cents"),
        },
        finals={
            "n_events": F.sum("pn"),
            "sum_cents": F.sum("psum"),
        },
        salt_col=F.pmod(F.col("event_id"), F.lit(16)),
    )


@register(
    "pivot_status_priority",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent,
           COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS high,
           COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS medium,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN {sql_dec("o_totalprice")} END) AS DOUBLE) AS urgent_total
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("A5", "A4"),
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: priorities become columns (explicit value list — at scale
    an implicit pivot pays an extra distinct pass to discover values).
    The oracle is the equivalent conditional aggregation."""
    t = Catalog(spark, sf_dir)
    piv = (
        t.orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )
    # coalesce(n, 0): pivot yields NULL for a (status, priority) combo
    # absent from the data while COUNT(CASE ...) yields 0; the sum column
    # stays NULL-on-empty in both engines.
    return piv.select(
        "o_orderstatus",
        F.coalesce(F.col("1-URGENT_n"), F.lit(0)).alias("urgent"),
        F.coalesce(F.col("2-HIGH_n"), F.lit(0)).alias("high"),
        F.coalesce(F.col("3-MEDIUM_n"), F.lit(0)).alias("medium"),
        F.col("1-URGENT_total").alias("urgent_total"),
    )
