"""Round-13 analytics operators: conversion attribution and mergeable
HLL distinct-count rollups.

Attribution pins: strictly-before windows, deterministic boundary
tie-breaks (struct max/min, not row order), lookback exclusion,
unattributed reporting, linear split across simultaneous touches, a
fixture-scale DuckDB twin per model, and the one-shuffle plan.

Sketch pins: the property that makes pre-aggregation sound — the HLL
union is associative/commutative/idempotent, so merging parts yields
the SAME estimate as sketching the whole — plus the rsd error bound vs
exact distinct and the map-side-combine plan shape.
"""

from __future__ import annotations

import contextlib
import io
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from parquet_to_postgres_spark.tables import load_table

from parquet_to_postgres_spark.operators import (
    attribute_conversions,
    attribution_report,
    frequent_items,
    sketch_estimate,
    sketch_merge,
    sketch_rollup,
)

from .conftest import SF_SMOKE

# r16 (VERDICT r15 item 6): sketch/attribution/rollup op battery —
# excluded from the default run but for its `smoke` case; `pytest -m slow` runs it.
pytestmark = pytest.mark.slow

T0 = datetime(2024, 1, 1)


def _ev(spark, rows):
    """rows: (user, seconds_offset, type)."""
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), y) for u, s, y in rows],
        "user_id long, ts timestamp, event_type string",
    )


TOUCHES = ["ad", "email", "social"]


def _rows(df):
    return sorted(
        (r["user_id"], str(r["conv_t"]), r["touch_type"], r["credit"])
        for r in df.collect()
    )


# ------------------------------------------------------- attribution ----


def test_last_and_first_touch_basic(spark):
    df = _ev(spark, [(1, 0, "ad"), (1, 5, "email"), (1, 10, "buy")])
    last = _rows(attribute_conversions(df, "user_id", "ts", "event_type", "buy", TOUCHES))
    first = _rows(
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, model="first_touch"
        )
    )
    assert last == [(1, str(T0 + timedelta(seconds=10)), "email", 1.0)]
    assert first == [(1, str(T0 + timedelta(seconds=10)), "ad", 1.0)]


def test_touch_at_conversion_instant_never_qualifies(spark):
    df = _ev(spark, [(1, 10, "ad"), (1, 10, "buy")])
    got = _rows(attribute_conversions(df, "user_id", "ts", "event_type", "buy", TOUCHES))
    assert got == [(1, str(T0 + timedelta(seconds=10)), None, 1.0)]


def test_lookback_excludes_stale_touches(spark):
    df = _ev(spark, [(1, 0, "ad"), (1, 8, "email"), (1, 10, "buy")])
    got = _rows(
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES,
            model="first_touch", lookback_seconds=5,
        )
    )
    # the 10s-old ad is outside the 5s lookback; email (8s -> in window)
    assert got == [(1, str(T0 + timedelta(seconds=10)), "email", 1.0)]
    none = _rows(
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES,
            lookback_seconds=1,
        )
    )
    assert none == [(1, str(T0 + timedelta(seconds=10)), None, 1.0)]


def test_boundary_tie_breaks_are_lexicographic(spark):
    # two channels at the SAME instant: last -> max type, first -> min
    df = _ev(spark, [(1, 5, "ad"), (1, 5, "email"), (1, 10, "buy")])
    last = _rows(attribute_conversions(df, "user_id", "ts", "event_type", "buy", TOUCHES))
    first = _rows(
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, model="first_touch"
        )
    )
    assert last[0][2] == "email" and first[0][2] == "ad"


def test_linear_splits_across_touch_events(spark):
    df = _ev(
        spark,
        [(1, 1, "ad"), (1, 2, "email"), (1, 2, "social"), (1, 10, "buy"),
         (2, 10, "buy")],
    )
    got = _rows(
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, model="linear"
        )
    )
    t = str(T0 + timedelta(seconds=10))
    third = 1.0 / 3
    assert got == [
        (1, t, "ad", third),
        (1, t, "email", third),
        (1, t, "social", third),
        (2, t, None, 1.0),
    ]


def test_simultaneous_conversions_each_credited(spark):
    df = _ev(spark, [(1, 0, "ad"), (1, 5, "buy"), (1, 5, "buy")])
    got = _rows(attribute_conversions(df, "user_id", "ts", "event_type", "buy", TOUCHES))
    assert got == [(1, str(T0 + timedelta(seconds=5)), "ad", 1.0)] * 2


def test_attribution_validation_and_nulls(spark):
    df = _ev(spark, [(1, 0, "ad")])
    with pytest.raises(ValueError):
        attribute_conversions(df, "user_id", "ts", "event_type", "buy", [])
    with pytest.raises(ValueError):
        attribute_conversions(df, "user_id", "ts", "event_type", "ad", TOUCHES)
    with pytest.raises(ValueError):
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, model="u_shaped"
        )
    with pytest.raises(ValueError):
        attribute_conversions(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, lookback_seconds=0
        )
    nulls = spark.createDataFrame(
        [(None, T0, "buy"), (1, None, "buy"), (1, T0, None), (1, T0, "buy")],
        "user_id long, ts timestamp, event_type string",
    )
    got = attribute_conversions(
        nulls, "user_id", "ts", "event_type", "buy", TOUCHES
    ).collect()
    assert len(got) == 1 and got[0]["touch_type"] is None


FIXTURE_TOUCHES = ["click", "view", "signup"]


@pytest.mark.smoke
def test_attribution_matches_duckdb_on_fixture(spark, duck):
    """All three models over the events fixture equal the correlated-SQL
    twin row-for-row (purchase attributed to click/view/signup, 1h
    lookback — the lookback VARIES on the fixture: some purchases have
    in-window touches, some only stale ones)."""
    # catalog-normalized load: the raw parquet types ts as
    # TIMESTAMP_NTZ, which unix_micros refuses — the operators share
    # funnel's catalog-typed-timestamp contract
    events = load_table(spark, SF_SMOKE, "events")
    lk_us = 3_600 * 1_000_000
    base = """
      WITH base AS (
        SELECT user_id, epoch_us(ts) AS t, ts, event_type AS y FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
      ),
      conv AS (SELECT user_id, t, ts FROM base WHERE y = 'purchase')
    """
    twins = {
        "last_touch": base + f"""
      SELECT c.user_id, c.ts AS conv_t,
             (SELECT g.y FROM base g
              WHERE g.user_id = c.user_id AND g.y IN ('click','view','signup')
                AND g.t < c.t AND g.t >= c.t - {lk_us}
              ORDER BY g.t DESC, g.y DESC LIMIT 1) AS touch_type,
             1.0 AS credit
      FROM conv c
    """,
        "first_touch": base + f"""
      SELECT c.user_id, c.ts AS conv_t,
             (SELECT g.y FROM base g
              WHERE g.user_id = c.user_id AND g.y IN ('click','view','signup')
                AND g.t < c.t AND g.t >= c.t - {lk_us}
              ORDER BY g.t ASC, g.y ASC LIMIT 1) AS touch_type,
             1.0 AS credit
      FROM conv c
    """,
        "linear": base + f""",
      convk AS (
        SELECT user_id, t, ts, ROW_NUMBER() OVER (ORDER BY user_id, t) AS cid
        FROM base WHERE y = 'purchase'
      ),
      joined AS (
        SELECT c.cid, c.user_id, c.ts AS conv_t, g.y AS touch_type
        FROM convk c LEFT JOIN base g
          ON g.user_id = c.user_id AND g.y IN ('click','view','signup')
         AND g.t < c.t AND g.t >= c.t - {lk_us}
      )
      SELECT user_id, conv_t, touch_type,
             CASE WHEN touch_type IS NULL THEN 1.0
                  ELSE 1.0 / (COUNT(touch_type) OVER (PARTITION BY cid))
             END AS credit
      FROM joined
    """,
    }
    for model, sql in twins.items():
        got = _rows(
            attribute_conversions(
                events, "user_id", "ts", "event_type", "purchase",
                FIXTURE_TOUCHES, model=model, lookback_seconds=3600,
            )
        )
        want = sorted((r[0], str(r[1]), r[2], r[3]) for r in duck.sql(sql).fetchall())
        assert got == want, model
        # the lookback must actually bite on the fixture, or the
        # window-bound leg of the twin pins nothing
        assert any(r[2] is None for r in got), model
        assert any(r[2] is not None for r in got), model


def test_attribution_single_shuffle_plan(spark):
    df = _ev(spark, [(1, 0, "ad"), (1, 10, "buy")])
    out = attribute_conversions(df, "user_id", "ts", "event_type", "buy", TOUCHES)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    p = buf.getvalue()
    assert p.count("Exchange") == 1, p
    assert "Python" not in p and "ArrowEval" not in p


def test_attribution_report_sums(spark):
    df = _ev(
        spark,
        [(1, 1, "ad"), (1, 2, "email"), (1, 10, "buy"),
         (2, 0, "ad"), (2, 5, "buy"), (3, 5, "buy")],
    )
    rep = {
        r["touch_type"]: (r["n_rows"], r["credit"])
        for r in attribution_report(
            df, "user_id", "ts", "event_type", "buy", TOUCHES, model="linear"
        ).collect()
    }
    assert rep == {"ad": (2.0, 1.5), "email": (1.0, 0.5), None: (1.0, 1.0)}


# ----------------------------------------------------- sketch rollup ----


def test_sketch_merge_of_parts_equals_sketch_of_whole(spark):
    """The pre-aggregation soundness law: union of per-day sketches
    estimates EXACTLY what one sketch over the raw range estimates —
    register-max is associative/commutative — so slicing strategy can
    never change an answer."""
    events = load_table(spark, SF_SMOKE, "events")
    daily = sketch_rollup(
        events.withColumn("day", F.to_date("ts")), ["day", "event_type"], "user_id"
    )
    merged = sketch_estimate(sketch_merge(daily, ["event_type"]))
    whole = sketch_estimate(
        sketch_rollup(events, ["event_type"], "user_id")
    )
    m = {r["event_type"]: (r["n_rows"], r["n_distinct_approx"]) for r in merged.collect()}
    w = {r["event_type"]: (r["n_rows"], r["n_distinct_approx"]) for r in whole.collect()}
    assert m == w and len(m) >= 3


def test_sketch_merge_is_idempotent(spark):
    """Re-merging an already-merged slice (overlapping inputs) cannot
    inflate the estimate — the dedup-on-merge property exact distinct
    pre-aggregation can never have."""
    events = load_table(spark, SF_SMOKE, "events")
    daily = sketch_rollup(
        events.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    once = sketch_estimate(sketch_merge(daily, [])).collect()[0]
    twice = sketch_estimate(
        sketch_merge(daily.unionAll(daily), [])
    ).collect()[0]
    assert once["n_distinct_approx"] == twice["n_distinct_approx"]
    assert twice["n_rows"] == 2 * once["n_rows"]  # n_rows is additive, not distinct


def test_sketch_estimate_within_rsd_bound(spark):
    """lg_config_k=12 -> rsd ~1.6%; assert within 10% of exact on the
    fixture (same margin policy as approx_sketches)."""
    events = load_table(spark, SF_SMOKE, "events")
    est = {
        r["event_type"]: r["n_distinct_approx"]
        for r in sketch_estimate(
            sketch_rollup(events, ["event_type"], "user_id")
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(1, 0.1 * v), (k, est[k], v)


def test_sketch_null_members_not_counted(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2)], "g string, v int"
    )
    r = sketch_estimate(sketch_rollup(df, ["g"], "v")).collect()[0]
    assert r["n_rows"] == 3 and r["n_distinct_approx"] == 2


def test_sketch_rollup_validates_and_plans_partial(spark):
    with pytest.raises(ValueError):
        sketch_rollup(spark.range(5), [], "id")
    out = sketch_rollup(
        spark.range(100).select((F.col("id") % 3).alias("g"), "id"), ["g"], "id"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    p = buf.getvalue()
    # map-side partial sketches: the typed-imperative aggregate plans
    # partial + final around ONE exchange at key grain
    assert "ObjectHashAggregate" in p and p.count("Exchange") == 1, p


# --------------------------------------------------- frequent items ----


def _fi_rows(df):
    return {r["item"]: (r["est_count"], r["max_count"]) for r in df.collect()}


def test_frequent_items_exact_when_under_k(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [(None,)] * 2, "v string"
    )
    got = _fi_rows(frequent_items(df, "v", k=8))
    # k covers the key space: exact counts, zero undercount
    assert got == {"a": (5, 5), "b": (3, 3), None: (2, 2)}


def test_frequent_items_bounds_and_coverage_under_partitionings(spark):
    """The two contracts under several partitionings: every returned
    (est, max) brackets the true count, and every item with true
    frequency > n/(k+1) is present."""
    import random

    rng = random.Random(13)
    # zipf-ish: two heavies + a long tail of distinct keys
    vals = (
        ["hot"] * 400
        + ["warm"] * 200
        + [f"tail{i}" for i in range(300)]
        + [f"tail{rng.randrange(300)}" for _ in range(100)]
    )
    rng.shuffle(vals)
    exact = {}
    for v in vals:
        exact[v] = exact.get(v, 0) + 1
    n, k = len(vals), 16
    base = spark.createDataFrame([(v,) for v in vals], "v string")
    for parts in (1, 7, 32):
        got = _fi_rows(frequent_items(base.repartition(parts), "v", k=k))
        assert len(got) <= k
        for item, (est, mx) in got.items():
            assert est <= exact[item] <= mx, (parts, item, est, mx)
        for item, c in exact.items():
            if c > n / (k + 1):
                assert item in got, (parts, item, c)
        # tightness, the non-vacuous direction: hot's LOWER bound must
        # clear warm's UPPER bound (est_hot >= 400 - n/(k+1) ~ 341 >
        # 259 ~ 200 + n/(k+1) >= max_warm) — a regression that loosens
        # the decrements fails this, unlike max_hot >= est_warm which
        # the bracketing already implies (r13 review finding)
        assert got["hot"][0] > got["warm"][1]


def test_frequent_items_matches_exact_on_fixture(spark):
    """user_id census over the events fixture: bounds bracket the
    exact groupBy counts for every candidate."""
    events = load_table(spark, SF_SMOKE, "events")
    got = _fi_rows(frequent_items(events, "user_id", k=32))
    exact = {
        str(r["user_id"]) if r["user_id"] is not None else None: r["n"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got
    for item, (est, mx) in got.items():
        assert est <= exact[item] <= mx, (item, est, mx)


def test_frequent_items_sentinel_safe_and_validation(spark):
    df = spark.createDataFrame([("\x00dec",), ("\x00null",), (None,)], "v string")
    got = _fi_rows(frequent_items(df, "v", k=4))
    assert got == {"\x00dec": (1, 1), "\x00null": (1, 1), None: (1, 1)}
    with pytest.raises(ValueError):
        frequent_items(df, "v", k=0)


def test_frequent_items_summary_stage_has_no_exchange(spark):
    """The distributed half is scan -> mapInPandas, zero shuffle — the
    property that makes it the unbounded-key-space census."""
    from parquet_to_postgres_spark.operators import frequent_items_summaries

    df = spark.range(1000).select((F.col("id") % 5).cast("string").alias("v"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frequent_items_summaries(df, "v", k=8).explain(mode="simple")
    p = buf.getvalue()
    assert "Exchange" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" in p


def test_frequent_items_merge_reduce_stage_is_bounded(spark):
    """The r14 distributed pre-merge: the merge plan is an item-grain
    partial+final aggregate followed by ONE single-partition compress
    task — the driver-side collect is ≤ k+1 rows at any partition
    count (the old form collected all P×(k+1) summary rows, linear in
    P — r13 verdict finding)."""
    from parquet_to_postgres_spark.operators import (
        _MG_DEC,
        _frequent_items_merge_frame,
        frequent_items_merge,
        frequent_items_summaries,
    )

    # "hot" exceeds n/(k+1) = 2600/5, so coverage GUARANTEES a
    # non-empty result at any core count / partition layout (a uniform
    # below-threshold fixture returned [] at SPARK_GRAFT_CPUS=1 — r14
    # review finding, verified)
    df = spark.createDataFrame(
        [("hot",)] * 800 + [(f"t{i % 600}",) for i in range(1800)],
        "v string",
    ).repartition(32)
    summaries = frequent_items_summaries(df, "v", k=4)
    # pin the PRODUCTION plan — the frame the merge itself collects,
    # not a copy rebuilt in the test (r14 review finding)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _frequent_items_merge_frame(summaries, 4).explain(mode="simple")
    p = buf.getvalue()
    assert "Exchange SinglePartition" in p
    assert "hashpartitioning(item" in p
    assert "MapInPandas" in p
    got = frequent_items_merge(summaries, k=4).collect()
    assert 0 < len(got) <= 4
    assert all(r["item"] != _MG_DEC for r in got)
    assert "hot" in {r["item"] for r in got}


def test_frequent_items_summaries_union_mergeable(spark):
    """Union of two scans' summary frames, merged once, still brackets
    the combined exact counts — the mergeability contract."""
    from parquet_to_postgres_spark.operators import (
        frequent_items_merge,
        frequent_items_summaries,
    )

    a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 5, "v string")
    b = spark.createDataFrame([("x",)] * 10 + [("z",)] * 20, "v string")
    k = 2
    union = frequent_items_summaries(a, "v", k).unionAll(
        frequent_items_summaries(b, "v", k)
    )
    got = {
        r["item"]: (r["est_count"], r["max_count"])
        for r in frequent_items_merge(union, k).collect()
    }
    exact = {"x": 40, "y": 5, "z": 20}
    for item, (est, mx) in got.items():
        assert est <= exact[item] <= mx, (item, est, mx)
    # coverage over the union: 40 > 55/(k+1)
    assert "x" in got


# ------------------------------------------------- sketch cube store ----


def test_sketch_store_roundtrip_append_compact(spark, tmp_path):
    from parquet_to_postgres_spark.operators import (
        append_sketch_rollup,
        compact_sketch_rollup,
        sketch_slice,
        write_sketch_rollup,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    split = days[len(days) // 2]
    part1 = events.where(F.col("day") <= split)
    part2 = events.where(F.col("day") > split)
    store = str(tmp_path / "cube")

    def slices(path):
        return sorted(
            map(tuple, sketch_slice(spark, path, ["event_type"]).collect())
        )

    # incremental build == one-shot rebuild, slice-for-slice
    write_sketch_rollup(part1, store, ["day", "event_type"], "user_id")
    append_sketch_rollup(part2, store, ["day", "event_type"], "user_id")
    full = str(tmp_path / "cube_full")
    write_sketch_rollup(events, full, ["day", "event_type"], "user_id")
    assert slices(store) == slices(full)

    # re-appending OVERLAPPING data: distinct estimates idempotent,
    # n_rows additive (the documented contract)
    before = {t[0]: t for t in slices(store)}
    append_sketch_rollup(part2, store, ["day", "event_type"], "user_id")
    after = {t[0]: t for t in slices(store)}
    for k in before:
        assert after[k][2] == before[k][2]  # n_distinct_approx unchanged
        assert after[k][1] > before[k][1]  # n_rows inflated — disjointness is on the caller

    # compaction: identical slices, fewer stored rows
    n_rows_pre = spark.read.parquet(f"{store}/cells").count()
    compact_sketch_rollup(spark, store)
    assert slices(store) == list(map(tuple, sorted(after.values())))
    assert spark.read.parquet(f"{store}/cells").count() < n_rows_pre

    # global slice (no keys) matches exact distinct within rsd margin
    g = sketch_slice(spark, store, []).collect()[0]
    exact = events.select("user_id").where(F.col("user_id").isNotNull()).distinct().count()
    assert abs(g["n_distinct_approx"] - exact) <= max(1, 0.1 * exact)


def test_sketch_store_validates_grain_and_keys(spark, tmp_path):
    from parquet_to_postgres_spark.operators import (
        append_sketch_rollup,
        sketch_slice,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([("a", 1)], "g string, v int")
    store = str(tmp_path / "cube")
    write_sketch_rollup(df, store, ["g"], "v")
    with pytest.raises(ValueError, match="built as"):
        append_sketch_rollup(df, store, ["g"], "g")  # wrong distinct col
    with pytest.raises(ValueError, match="built as"):
        append_sketch_rollup(df, store, ["g"], "v", lg_config_k=13)
    with pytest.raises(ValueError, match="not in store keys"):
        sketch_slice(spark, store, ["nope"])
    with pytest.raises(ValueError, match="not in keys"):
        write_sketch_rollup(df, str(tmp_path / "c2"), ["g"], "v", partition_keys=["v"])


def test_sketch_store_slice_prunes_partitions(spark, tmp_path):
    """A slice filtered on the partition key must carry a NON-empty
    PartitionFilters in its scan (regex — the bare substring check is
    vacuous on unfiltered scans; verify-skill gotcha)."""
    import re

    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    store = str(tmp_path / "cube")
    write_sketch_rollup(events, store, ["day", "event_type"], "user_id")
    day0 = events.select(F.min("day")).collect()[0][0]
    out = sketch_slice(
        spark, store, ["event_type"], where=F.col("day") == day0
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    p = buf.getvalue()
    assert re.search(r"PartitionFilters: \[[^\]]*day[^\]]*\]", p), p


def test_sketch_store_self_heals_interrupted_compaction(spark, tmp_path):
    """A crash between compaction's two renames leaves cells absent
    and cells_old intact; the next touch restores the backup."""
    import os

    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "g string, v int")
    store = str(tmp_path / "cube")
    write_sketch_rollup(df, store, ["g"], "v")
    before = sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect()))
    # simulate the torn swap
    os.rename(f"{store}/cells", f"{store}/cells_old")
    after = sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect()))
    assert after == before
    assert os.path.exists(f"{store}/cells")
    assert not os.path.exists(f"{store}/cells_old")


def test_sketch_store_rebuild_failure_preserves_prior_store(spark, tmp_path):
    """A rebuild whose Spark write raises must leave the existing
    store fully intact (the r13 review finding: delete-first destroyed
    it)."""
    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([("a", 1)], "g string, v int")
    store = str(tmp_path / "cube")
    write_sketch_rollup(df, store, ["g"], "v")
    before = sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect()))
    with pytest.raises(Exception):
        write_sketch_rollup(df, store, ["g"], "no_such_column")
    assert sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect())) == before


def test_sketch_store_self_heals_interrupted_store_swap(spark, tmp_path):
    """A crash between _store_write's two TOP-LEVEL renames leaves the
    store path absent with the complete prior store at <path>.old —
    the next read restores it, and a rebuild in that state must not
    destroy the only surviving copy (both r14; the compaction-level
    heal alone left this window dead, r13 advice finding)."""
    import os

    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([("a", 1), ("b", 2)], "g string, v int")
    store = str(tmp_path / "cube")
    write_sketch_rollup(df, store, ["g"], "v")
    before = sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect()))

    # read-side heal: simulate the torn swap, then slice
    os.rename(store, store + ".old")
    assert sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect())) == before
    assert os.path.exists(store) and not os.path.exists(store + ".old")

    # write-side heal: torn swap again, then a rebuild that fails
    # INSIDE _store_write (zero-cells input hits the empty-store
    # refusal AFTER the heal — an eager AnalysisException like a bad
    # column name would never enter _store_write and would pin nothing;
    # r14 review finding, verified by probe).  The healed prior store
    # must survive the failed rebuild.
    os.rename(store, store + ".old")
    with pytest.raises(ValueError, match="EMPTY store"):
        write_sketch_rollup(df.where("v > 99"), store, ["g"], "v")
    assert os.path.exists(store) and not os.path.exists(store + ".old")
    assert sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect())) == before


def test_sketch_store_works_through_filesystem_scheme(spark, tmp_path):
    """The r14 portable-filesystem contract: the FULL store lifecycle
    (build, append, slice, compact, torn-swap heal) through an
    explicit ``file://`` scheme URI — metadata/swap/marker I/O rides
    Hadoop's FileSystem, which the old driver-local os.*/shutil
    machinery could not do at all (os.path.exists('file:///x') is
    simply False; r13 advice finding).  file:// is the one non-bare
    scheme available in this sandbox; hdfs/s3a differ only in the
    atomicity notes documented in store_fs."""
    import os

    from parquet_to_postgres_spark.operators import (
        append_sketch_rollup,
        compact_sketch_rollup,
        sketch_slice,
        write_sketch_rollup,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, v int"
    )
    local = tmp_path / "cube"
    store = f"file://{local}"
    write_sketch_rollup(df, store, ["g"], "v")
    # the driver-local path exists; the scheme URI is what the engine saw
    assert os.path.exists(local / "_sketch_meta.json")

    def slices():
        return sorted(map(tuple, sketch_slice(spark, store, ["g"]).collect()))

    before = {r[0]: r[1:] for r in slices()}
    append_sketch_rollup(
        spark.createDataFrame([("b", 4)], "g string, v int"), store, ["g"], "v"
    )
    after = slices()
    by_g = {r[0]: r[1:] for r in after}
    assert by_g["b"][0] == before["b"][0] + 1  # n_rows is additive
    compact_sketch_rollup(spark, store)
    assert slices() == after

    # torn store-level swap, healed through the scheme path
    os.rename(local, str(local) + ".old")
    assert slices() == after
    assert os.path.exists(local)


def test_storefs_rename_detects_concurrent_nesting(spark, tmp_path, monkeypatch):
    """The dst-exists pre-check in StoreFS.rename is a TOCTOU: if a
    concurrent healer re-creates dst between the check and the rename,
    Hadoop moves src INTO dst and reports success — silent nesting
    that double-counts cells (r14 review finding).  The post-rename
    detection must undo the move and fail loudly, restoring the
    POSIX-era ENOTEMPTY contract."""
    import os

    from parquet_to_postgres_spark.store_fs import StoreFS

    fs = StoreFS(spark, str(tmp_path))
    src, dst = f"{tmp_path}/src", f"{tmp_path}/dst"
    fs.mkdirs(src)
    fs.write_text(f"{src}/data.txt", "x")
    real_exists = StoreFS.exists
    state = {"fired": False}

    def racing_exists(self, p):
        if p == dst and not state["fired"]:
            state["fired"] = True
            # the concurrent healer landing mid-window: its own rename
            # is atomic, so the dst it produces is always NON-empty
            # (an empty dst would be cleanly replaced by POSIX rename)
            os.makedirs(dst)
            with open(f"{dst}/restored.txt", "w") as fh:
                fh.write("y")
            return False
        return real_exists(self, p)

    monkeypatch.setattr(StoreFS, "exists", racing_exists)
    with pytest.raises(OSError, match="raced"):
        fs.rename(src, dst)
    monkeypatch.setattr(StoreFS, "exists", real_exists)
    assert fs.exists(f"{src}/data.txt")  # src restored intact
    assert not fs.exists(f"{dst}/src")  # no nested copy left behind


def test_content_key_stats_scheme_uris_through_hadoop(spark, tmp_path):
    """content_key was the one remaining driver-local os.stat in the
    build-once path after the r14 StoreFS port: a gate artifact whose
    src_path lives on hdfs://s3a:// failed os.stat even though the
    marker/store I/O is scheme-portable (r15 verdict/advice item).
    Scheme URIs now stat through Hadoop FileStatus (length +
    modificationTime); bare paths stay deliberately driver-local
    POSIX (a scheme-less path routed through Hadoop would resolve
    against fs.defaultFS and stat a DIFFERENT file than the caller
    meant)."""
    from parquet_to_postgres_spark.operators import build_once, content_key

    src = tmp_path / "src.txt"
    src.write_text("v1")
    uri = f"file://{src}"
    k1 = content_key(uri, {"p": 1})
    assert content_key(uri, {"p": 1}, spark=spark) == k1  # explicit session too
    assert k1["src"] == uri and k1["stat"][0] == 2  # Hadoop length
    # a source change invalidates (the size leg moves even within one
    # mtime millisecond)
    src.write_text("v2-longer")
    assert content_key(uri, {"p": 1}) != k1
    # the scheme key drives the shared marker engine end-to-end
    art = f"file://{tmp_path}/artifact"
    calls = []
    assert build_once(spark, art, k1, lambda: calls.append(1)) is True
    assert build_once(spark, art, k1, lambda: calls.append(1)) is False
    assert calls == [1]
    # bare paths: unchanged driver-local stat (mtime_ns resolution)
    bare = content_key(str(src), {"p": 1})
    assert bare["stat"][0] == len("v2-longer")
    # single-slash scheme URIs (dbfs:/, file:/x) are valid Hadoop
    # paths — the '"://" in path' test missed them and os.stat died
    # (r15 review finding)
    single = content_key(f"file:{src}", {"p": 1})
    assert single["stat"][0] == len("v2-longer")
    # an absent scheme source raises FileNotFoundError, matching the
    # POSIX branch (r15 review finding: the JVM FileNotFoundException
    # surfaced as a generic OSError)
    with pytest.raises(FileNotFoundError):
        content_key(f"file://{tmp_path}/nope.txt", {"p": 1})
    # DIRECTORY sources (the common case — Spark sources are parquet
    # dirs): Hadoop dir statuses have length 0 everywhere and S3A
    # reports dir mtime 0 too, so the naive [len, mtime] identity is a
    # degenerate constant there and an in-place regeneration would
    # serve a STALE artifact (r15 review finding).  The dir identity
    # is [total content length, file count, newest mtime] — adding or
    # growing a part file must move it.
    d = tmp_path / "dataset"
    d.mkdir()
    (d / "part-0").write_text("aaaa")
    duri = f"file://{d}"
    dk1 = content_key(duri, {"p": 1})
    assert dk1["stat"][0] == 4 and dk1["stat"][1] == 1
    (d / "part-1").write_text("bb")
    dk2 = content_key(duri, {"p": 1})
    assert dk2["stat"][0] == 6 and dk2["stat"][1] == 2
    assert dk1 != dk2


def test_storefs_jvm_errors_surface_as_oserror(spark, tmp_path):
    """py4j JVM I/O errors are Py4JJavaError, NOT OSError (the r14
    build_once lesson) — but _heal_torn_swap's converge-on-race arm is
    `except OSError`, so StoreFS.rename/delete must translate JVM-side
    failures (HDFS throws IOException when src vanishes under a racing
    heal instead of returning false) or the documented heal path
    crashes a reader (r15 advice finding)."""
    from types import SimpleNamespace

    from py4j.protocol import Py4JJavaError, Py4JNetworkError

    from parquet_to_postgres_spark.store_fs import StoreFS

    fs = StoreFS(spark, str(tmp_path))
    # a real Py4JJavaError (fake target id; __str__ would round-trip
    # to the gateway, which the translation must never trigger)
    jerr = Py4JJavaError(
        "An error occurred while calling o1.rename.",
        SimpleNamespace(_target_id="o0"),
    )

    class _JvmBoom:
        def exists(self, p):
            return False

        def rename(self, a, b):
            raise jerr

        def delete(self, p, recursive):
            raise jerr

        def mkdirs(self, p):
            raise Py4JNetworkError("gateway is down")

    fs._fs = _JvmBoom()
    with pytest.raises(OSError, match="rename failed"):
        fs.rename(f"{tmp_path}/a", f"{tmp_path}/b")
    with pytest.raises(OSError, match="delete failed"):
        fs.delete(f"{tmp_path}/a")
    # gateway/protocol failures are NOT filesystem errors: relabeling
    # them OSError would let a heal arm swallow a dead gateway as a
    # benign race — they must propagate as themselves (r15 review
    # finding narrowing the catch from Py4JError to Py4JJavaError)
    with pytest.raises(Py4JNetworkError):
        fs.mkdirs(f"{tmp_path}/c")


def test_stream_writer_reraises_unrelated_file_not_found(spark, tmp_path):
    """_stream_store_writer's friendly 'no sketch store — build it'
    translation must fire ONLY when the store meta is truly absent: an
    unrelated transient FileNotFoundError escaping the append (e.g. a
    cell part file removed by a concurrent compaction mid-append) is a
    different failure and must surface as itself, not be misdiagnosed
    (r15 advice finding)."""
    from parquet_to_postgres_spark.operators import write_sketch_rollup
    from parquet_to_postgres_spark.streaming.ops import _stream_store_writer

    store = str(tmp_path / "cube")
    batch = spark.createDataFrame([("a", 1)], "g string, user_id int")

    def flaky_append(df):
        raise FileNotFoundError("part-00000.parquet vanished mid-append")

    writer = _stream_store_writer(store, "s1", "write_sketch_rollup", flaky_append)
    # no store at all → the friendly build-it diagnosis
    with pytest.raises(ValueError, match="no sketch store"):
        writer(batch, 0)
    # store present (meta exists) → the real error must pass through
    write_sketch_rollup(batch, store, ["g"], "user_id")
    with pytest.raises(FileNotFoundError, match="vanished mid-append"):
        writer(batch, 1)


def test_stream_writer_heals_torn_store_swap(spark, tmp_path):
    """A torn store-level swap must not wedge the streaming writer: a
    bare exists() probe raised 'no sketch store' forever while the
    intact store sat at <path>.old (r14 review finding) — the writer
    now goes through the healing meta load."""
    import os

    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )
    from parquet_to_postgres_spark.streaming.ops import (
        stream_sketch_rollup_writer,
    )

    df = spark.createDataFrame([("a", 1)], "g string, user_id int")
    store = str(tmp_path / "cube")
    write_sketch_rollup(df, store, ["g"], "user_id")
    os.rename(store, store + ".old")  # simulate the crash window
    writer = stream_sketch_rollup_writer(store, ["g"], "user_id", stream_id="s1")
    writer(spark.createDataFrame([("b", 2)], "g string, user_id int"), 0)
    got = {r["g"]: r["n_rows"] for r in sketch_slice(spark, store, ["g"]).collect()}
    assert got == {"a": 1, "b": 1}


def test_stream_sketch_rollup_writer_matches_batch(spark, tmp_path):
    """availableNow stream through stream_sketch_rollup_writer: the
    continuously-ingested store slices identically to a one-shot batch
    rebuild, and the batch ledger makes replays no-ops (n_rows
    included)."""
    from parquet_to_postgres_spark.operators import (
        sketch_slice,
        write_sketch_rollup,
    )
    from parquet_to_postgres_spark.streaming.ops import (
        stream_sketch_rollup_writer,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    split = days[len(days) // 2]
    seed = events.where(F.col("day") <= split)
    delta = events.where(F.col("day") > split)

    store = str(tmp_path / "cube")
    keys = ["day", "event_type"]
    write_sketch_rollup(seed, store, keys, "user_id")

    src = str(tmp_path / "incoming")
    delta.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(delta.schema).parquet(src)
    writer = stream_sketch_rollup_writer(store, keys, "user_id", stream_id="s1")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = str(tmp_path / "cube_full")
    write_sketch_rollup(events, full, keys, "user_id")
    def slices(p):
        return sorted(map(tuple, sketch_slice(spark, p, ["event_type"]).collect()))
    assert slices(store) == slices(full)

    # replayed batch id -> ledger no-op, even n_rows unchanged
    writer(delta, 0)
    assert slices(store) == slices(full)

    # a DIFFERENT stream lineage with restarting batch ids is NOT
    # skipped (the bare-id ledger would have silently dropped it)
    writer2 = stream_sketch_rollup_writer(store, keys, "user_id", stream_id="s2")
    writer2(delta, 0)
    n_after = sketch_slice(spark, store, []).collect()[0]["n_rows"]
    n_full = sketch_slice(spark, full, []).collect()[0]["n_rows"]
    assert n_after == n_full + delta.count()

    # ledger pruning keeps the newest markers and reports the drops
    from parquet_to_postgres_spark.streaming.ops import prune_sketch_ledger

    assert prune_sketch_ledger(store, "s1", keep_last=0) >= 1
    assert prune_sketch_ledger(store, "s1") == 0

    # streaming into a missing store fails loudly, without creating a
    # junk half-store directory
    import os

    ghost = str(tmp_path / "no_store")
    w3 = stream_sketch_rollup_writer(ghost, keys, "user_id", stream_id="s1")
    with pytest.raises(ValueError, match="no sketch store"):
        w3(delta, 0)
    assert not os.path.exists(ghost)
    with pytest.raises(ValueError, match="flat name"):
        stream_sketch_rollup_writer(store, keys, "user_id", stream_id="a/b")


def test_stream_qsketch_rollup_writer_matches_batch(spark, tmp_path):
    """The quantile-cube streaming twin (r14): availableNow stream
    through stream_qsketch_rollup_writer slices BIT-identically to a
    one-shot rebuild, and the ledger makes a replayed batch a no-op —
    load-bearing here, since a re-appended quantile batch would
    double-count integer buckets and skew every decoded percentile
    (the HLL twin only over-counts n_rows)."""
    from parquet_to_postgres_spark.operators import (
        qsketch_slice,
        write_qsketch_rollup,
    )
    from parquet_to_postgres_spark.streaming.ops import (
        stream_qsketch_rollup_writer,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    split = days[len(days) // 2]
    seed = events.where(F.col("day") <= split)
    delta = events.where(F.col("day") > split)

    store = str(tmp_path / "qcube")
    keys = ["day", "event_type"]
    write_qsketch_rollup(seed, store, keys, "value")

    src = str(tmp_path / "incoming")
    delta.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(delta.schema).parquet(src)
    writer = stream_qsketch_rollup_writer(store, keys, "value", stream_id="s1")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = str(tmp_path / "qcube_full")
    write_qsketch_rollup(events, full, keys, "value")

    def slices(p):
        return sorted(
            map(tuple, qsketch_slice(spark, p, ["event_type"], [0.5, 0.99]).collect())
        )

    assert slices(store) == slices(full)

    # replayed batch id -> ledger no-op; a re-append would shift the
    # bucket counts and flip this equality (bit-exact, not bounds)
    writer(delta, 0)
    assert slices(store) == slices(full)

    # a SECOND stream lineage with restarting batch ids is NOT skipped
    # (a bare-id ledger regression would silently drop it — and here
    # the double-count is OBSERVABLE: the duplicate batch shifts the
    # integer buckets, flipping the bit-exact equality above)
    writer2 = stream_qsketch_rollup_writer(store, keys, "value", stream_id="s2")
    writer2(delta, 0)
    assert slices(store) != slices(full)

    # missing store fails loudly and names the right backfill fn
    ghost = str(tmp_path / "no_store")
    w2 = stream_qsketch_rollup_writer(ghost, keys, "value", stream_id="s1")
    with pytest.raises(ValueError, match="write_qsketch_rollup"):
        w2(delta, 0)
    with pytest.raises(ValueError, match="flat name"):
        stream_qsketch_rollup_writer(store, keys, "value", stream_id="a/b")


# ------------------------------------------------------ KMV sketches ----


def test_kmv_exact_when_under_k(spark):
    """While every sample is exhaustive (m < k) the KMV estimates are
    EXACT — distinct counts, union, intersection, and Jaccard all
    equal the true set values."""
    from parquet_to_postgres_spark.operators import (
        kmv_estimate,
        kmv_rollup,
        kmv_set_cardinalities,
    )

    a_members = [f"u{i}" for i in range(30)]
    b_members = [f"u{i}" for i in range(20, 50)]  # overlap 10, union 50
    df = spark.createDataFrame(
        [("a", m) for m in a_members] * 2 + [("b", m) for m in b_members],
        "g string, member string",
    ).withColumn("one", F.lit(1))
    roll = kmv_rollup(df, ["g"], "member", k=256)
    est = {r["g"]: r["n_distinct_approx"] for r in kmv_estimate(roll).collect()}
    assert est == {"a": 30, "b": 30}
    a = roll.where("g = 'a'").withColumn("one", F.lit(1))
    b = roll.where("g = 'b'").withColumn("one", F.lit(1))
    got = kmv_set_cardinalities(a, b, ["one"]).collect()[0]
    assert (got["n_left"], got["n_right"]) == (30, 30)
    assert got["n_union"] == 50 and got["n_intersection"] == 10
    assert abs(got["jaccard"] - 10 / 50) < 1e-12


def test_kmv_merge_is_bit_exact(spark):
    """Merging per-day sketches equals building at the coarser grain
    directly — hash-for-hash, the same exactness class as qsketch
    (the sketch is a deterministic function of the distinct-member
    set)."""
    from parquet_to_postgres_spark.operators import kmv_merge, kmv_rollup

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    fine = kmv_rollup(events, ["day", "event_type"], "user_id", k=64)
    merged = kmv_merge(fine, ["event_type"])
    direct = kmv_rollup(events, ["event_type"], "user_id", k=64)

    def canon(df):
        return sorted(
            (r["event_type"], r["n_rows"], r["k"], tuple(r["hashes"]))
            for r in df.collect()
        )

    assert canon(merged) == canon(direct)
    # global merge (empty keys) == one-constant-key global build
    g = kmv_merge(fine, [])
    direct_g = kmv_rollup(
        events.withColumn("all", F.lit("x")), ["all"], "user_id", k=64
    )
    assert sorted(tuple(r["hashes"]) for r in g.collect()) == sorted(
        tuple(r["hashes"]) for r in direct_g.collect()
    )


def test_kmv_estimate_and_set_ops_error_bounds(spark):
    """Above k the estimators are approximate with known error
    (~1/√(k−2) rsd at k=256): deterministic fixture (xxhash64 is
    seedless-stable), generous 4σ-ish bounds."""
    from parquet_to_postgres_spark.operators import (
        kmv_estimate,
        kmv_rollup,
        kmv_set_cardinalities,
    )

    a = [(f"m{i}",) for i in range(3000)]
    b = [(f"m{i}",) for i in range(2000, 4000)]  # |B|=2000, overlap 1000
    k = 256
    ra = kmv_rollup(
        spark.createDataFrame(a, "member string").withColumn("g", F.lit(1)),
        ["g"], "member", k=k,
    )
    rb = kmv_rollup(
        spark.createDataFrame(b, "member string").withColumn("g", F.lit(1)),
        ["g"], "member", k=k,
    )
    est_a = kmv_estimate(ra).collect()[0]["n_distinct_approx"]
    assert abs(est_a - 3000) <= 0.25 * 3000, est_a
    got = kmv_set_cardinalities(ra, rb, ["g"]).collect()[0]
    assert abs(got["n_union"] - 4000) <= 0.25 * 4000, got
    assert abs(got["n_intersection"] - 1000) <= 0.35 * 1000, got
    assert abs(got["jaccard"] - 0.25) <= 0.1, got


def test_kmv_type_canonicalization_and_nulls(spark):
    """INT and BIGINT member columns sketch IDENTICALLY (members are
    cast to string before xxhash64 — the r12 bloom width lesson), and
    NULL members are not sketched while their rows still count."""
    from parquet_to_postgres_spark.operators import kmv_rollup

    ints = spark.createDataFrame(
        [("g", 5), ("g", 7), ("g", None)], "g string, m int"
    )
    longs = spark.createDataFrame(
        [("g", 5), ("g", 7), ("g", None)], "g string, m bigint"
    )
    ri = kmv_rollup(ints, ["g"], "m", k=8).collect()[0]
    rl = kmv_rollup(longs, ["g"], "m", k=8).collect()[0]
    assert list(ri["hashes"]) == list(rl["hashes"]) and len(ri["hashes"]) == 2
    assert ri["n_rows"] == 3  # the NULL-member row still counts


def test_kmv_validation_and_mixed_k_refusal(spark):
    from parquet_to_postgres_spark.operators import (
        kmv_merge,
        kmv_rollup,
        kmv_set_cardinalities,
    )

    df = spark.createDataFrame([("g", "x")], "g string, m string")
    with pytest.raises(ValueError, match="k must be"):
        kmv_rollup(df, ["g"], "m", k=1)
    with pytest.raises(ValueError, match="keys must be"):
        kmv_rollup(df, [], "m")
    r8 = kmv_rollup(df, ["g"], "m", k=8)
    r16 = kmv_rollup(df, ["g"], "m", k=16)
    with pytest.raises(Exception, match="different k"):
        kmv_merge(r8.unionByName(r16), []).collect()
    with pytest.raises(Exception, match="different k"):
        kmv_set_cardinalities(r8, r16, ["g"]).collect()
    # the guard must fire even when the consumer selects a SINGLE
    # column — a guard living only in one output expression gets
    # pruned by Catalyst and a biased estimate escapes silently
    # (r14 review finding)
    with pytest.raises(Exception, match="different k"):
        kmv_set_cardinalities(r8, r16, ["g"]).select("n_right").collect()
    with pytest.raises(Exception, match="different k"):
        kmv_merge(r8.unionByName(r16), []).select("hashes").collect()


def test_kmv_global_grain_set_cardinalities(spark):
    """on=[] is the global-grain comparison: two kmv_merge(..., [])
    single rows cross-join into one overall-overlap row with the same
    exact-under-k values as a keyed comparison — but MULTI-row inputs
    must refuse at runtime through every output column instead of
    silently cross-producting (r15 advice finding: _eq_null_safe_all
    over zero pairs returned None and lk.join(rk, None) was an
    unconditioned cross join for any cardinality)."""
    from parquet_to_postgres_spark.operators import (
        kmv_merge,
        kmv_rollup,
        kmv_set_cardinalities,
    )

    df = spark.createDataFrame(
        [("d1", f"u{i}") for i in range(30)]
        + [("d2", f"u{i}") for i in range(20, 50)],
        "day string, member string",
    )
    roll = kmv_rollup(df, ["day"], "member", k=256)
    a = kmv_merge(roll.where("day = 'd1'"), [])
    b = kmv_merge(roll.where("day = 'd2'"), [])
    got = kmv_set_cardinalities(a, b, []).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_left"], r["n_right"]) == (30, 30)
    assert r["n_union"] == 50 and r["n_intersection"] == 10
    # a per-day (multi-row) frame passed at global grain must refuse —
    # including when the consumer selects a single column (the
    # Catalyst-pruning lane every guard in this family rides)
    with pytest.raises(Exception, match="GLOBAL"):
        kmv_set_cardinalities(roll, b, []).collect()
    with pytest.raises(Exception, match="GLOBAL"):
        kmv_set_cardinalities(roll, b, []).select("n_right").collect()
    # a ZERO-row side must refuse too (with the GLOBAL message, not a
    # misleading mixed-k one from its NULL k), never silently produce
    # an empty frame — each side is folded to exactly one row before
    # the cross join so the guard always has a row to evaluate on
    # (r15 review finding)
    with pytest.raises(Exception, match="GLOBAL"):
        kmv_set_cardinalities(a, b.limit(0), []).collect()
    # honest boundary, pinned: a bare .count() evaluates no output
    # expression, so it reads the folded shape (always 1) — misuse
    # can't leak a cross-product cardinality, but only a value read
    # refuses
    assert kmv_set_cardinalities(roll, b, []).count() == 1


def test_kmv_null_keys_sketch_correctly(spark):
    """A NULL key value is a real group (the outer-join skew class):
    the count spine and the hash cells must rejoin NULL-SAFELY — a
    plain equi-join gave NULL-key cells an empty sketch (estimate 0
    for a populated group) while the HLL cube sketched the same slice
    correctly (r14 review finding)."""
    from parquet_to_postgres_spark.operators import (
        kmv_estimate,
        kmv_merge,
        kmv_rollup,
        kmv_set_cardinalities,
    )

    df = spark.createDataFrame(
        [(None, "u1"), (None, "u2"), ("a", "u1")], "g string, m string"
    )
    roll = kmv_rollup(df, ["g"], "m", k=8)
    est = {r["g"]: r["n_distinct_approx"] for r in kmv_estimate(roll).collect()}
    assert est == {None: 2, "a": 1}
    # merge preserves the NULL-key group too
    merged = kmv_merge(roll.withColumn("extra", F.lit(1)), ["g"])
    est_m = {
        r["g"]: r["n_distinct_approx"] for r in kmv_estimate(merged).collect()
    }
    assert est_m == est
    # and the set-op join keeps the NULL-key comparison row
    got = {
        r["g"]: r["n_intersection"]
        for r in kmv_set_cardinalities(roll, roll, ["g"]).collect()
    }
    assert got == {None: 2, "a": 1}


def test_kmv_union_saturation_is_estimated_not_exact(spark):
    """Two EXHAUSTIVE sides (each m < k) can still union past k — the
    output re-enters the estimator there, so exactness is conditioned
    on |A∪B| < k, not per-side exhaustiveness (r14 review finding:
    the docstring originally overclaimed)."""
    from parquet_to_postgres_spark.operators import (
        kmv_rollup,
        kmv_set_cardinalities,
    )

    k = 64
    a = spark.createDataFrame(
        [("g", f"a{i}") for i in range(50)], "g string, m string"
    )
    b = spark.createDataFrame(
        [("g", f"b{i}") for i in range(50)], "g string, m string"
    )
    ra, rb = kmv_rollup(a, ["g"], "m", k=k), kmv_rollup(b, ["g"], "m", k=k)
    got = kmv_set_cardinalities(ra, rb, ["g"]).collect()[0]
    assert got["n_left"] == 50 and got["n_right"] == 50  # sides exact
    # union (100 > k=64) is an estimate: inside the k=64 error band
    # (~12.5% rsd), and disjoint sets keep intersection ~0
    assert abs(got["n_union"] - 100) <= 0.5 * 100, got
    assert got["n_intersection"] <= 5, got


def test_kmv_rollup_min_k_prune_plan(spark):
    """The min-k dense_rank filter plans as BOTH a partial
    WindowGroupLimit (before the exchange — each task forwards at most
    its k smallest distinct hashes per key, never the member space)
    and a final one after; the dedupe+collect rides the window's own
    partitioning with no further exchange.  The distinct()-first form
    shuffled at member grain — measured 6× shuffle growth at 10×
    input (r14).  Zero Python anywhere."""
    from parquet_to_postgres_spark.operators import kmv_rollup

    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("string").alias("m"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        kmv_rollup(df, ["g"], "m", k=16).explain(mode="formatted")
    p = buf.getvalue()
    # formatted output prints every node TWICE (tree + detail header),
    # so one node == count 2; partial + final == count 4.  A bare
    # >= 2 could not detect losing the partial limit (r14 review
    # finding, verified live).
    assert p.count("WindowGroupLimit") >= 4, p
    assert "Python" not in p and "ArrowEval" not in p

    # k >= windowGroupLimitThreshold: InferWindowGroupLimit never
    # fires, so the build falls back to the distinct()-first form
    # (member-grain dedupe beats an event-grain window sort) — and the
    # sketch is IDENTICAL either way
    thr = int(
        spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    )
    big_k = thr + 7
    small = spark.createDataFrame(
        [("g", f"m{i}") for i in range(40)] * 3, "g string, m string"
    )
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        kmv_rollup(small, ["g"], "m", k=big_k).explain(mode="formatted")
    assert "WindowGroupLimit" not in buf2.getvalue()
    lo = kmv_rollup(small, ["g"], "m", k=64).collect()[0]
    hi = kmv_rollup(small, ["g"], "m", k=big_k).collect()[0]
    # 40 distinct members < both k's: identical exhaustive sketches
    assert list(lo["hashes"]) == list(hi["hashes"]) and len(hi["hashes"]) == 40


def test_kmv_set_ops_match_duckdb_exact_in_exhaustive_regime(spark, duck):
    """Engine-independent oracle for the audience-overlap report: with
    k above every daily audience, kmv_set_cardinalities' outputs are
    EXACT set cardinalities — replayable cell-for-cell by DuckDB
    COUNT(DISTINCT) set algebra on the raw fixture (the same
    exact-regime division of labor as approx_sketches: the hash
    SAMPLE can't cross engines, the exact outputs can)."""
    from parquet_to_postgres_spark.operators import (
        kmv_rollup,
        kmv_set_cardinalities,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    a = kmv_rollup(
        events.where(F.col("event_type") == "signup"), ["day"], "user_id",
        k=4096,
    )
    b = kmv_rollup(
        events.where(F.col("event_type") == "purchase"), ["day"], "user_id",
        k=4096,
    )
    got = sorted(
        (r["day"], r["n_left"], r["n_right"], r["n_union"], r["n_intersection"])
        for r in kmv_set_cardinalities(a, b, ["day"]).collect()
    )
    want = sorted(
        (str(r[0]), r[1], r[2], r[3], r[4])
        for r in duck.sql("""
            WITH s AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                              user_id FROM events WHERE event_type = 'signup'),
                 p AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                              user_id FROM events WHERE event_type = 'purchase')
            SELECT day,
                   (SELECT COUNT(DISTINCT user_id) FROM s WHERE s.day = d.day) AS n_left,
                   (SELECT COUNT(DISTINCT user_id) FROM p WHERE p.day = d.day) AS n_right,
                   (SELECT COUNT(DISTINCT user_id) FROM (
                       SELECT user_id FROM s WHERE s.day = d.day
                       UNION SELECT user_id FROM p WHERE p.day = d.day)) AS n_union,
                   (SELECT COUNT(DISTINCT user_id) FROM (
                       SELECT user_id FROM s WHERE s.day = d.day
                       INTERSECT SELECT user_id FROM p WHERE p.day = d.day)) AS n_intersection
            FROM (SELECT DISTINCT day FROM s INTERSECT SELECT DISTINCT day FROM p) d
        """).fetchall()
    )
    assert got and got == want


def test_kmv_store_roundtrip_append_compact(spark, tmp_path):
    """The KMV store on the shared engine: incremental build+append
    slices BIT-identically to a one-shot rebuild (min-k union is
    deterministic), re-appended overlapping DATA never changes an
    estimate (idempotent, the HLL class), compaction shrinks rows
    without changing any slice, grain guards refuse, and two slices
    feed kmv_set_cardinalities for the audience-overlap report."""
    import os

    from parquet_to_postgres_spark.operators import (
        append_kmv_rollup,
        compact_kmv_rollup,
        kmv_set_cardinalities,
        kmv_slice,
        write_kmv_rollup,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    split = days[len(days) // 2]
    keys = ["day", "event_type"]
    store = str(tmp_path / "kmv")
    write_kmv_rollup(events.where(F.col("day") <= split), store, keys, "user_id")
    append_kmv_rollup(
        events.where(F.col("day") > split), store, keys, "user_id"
    )
    full = str(tmp_path / "kmv_full")
    write_kmv_rollup(events, full, keys, "user_id")

    def slices(p):
        return sorted(
            map(tuple, kmv_slice(spark, p, ["event_type"]).collect())
        )

    assert slices(store) == slices(full)

    # overlapping re-append: estimates unchanged (min-k absorbs
    # duplicate hashes), n_rows additive — the HLL contract
    before = {
        r[0]: r[2]
        for r in slices(store)  # (event_type, n_rows, n_distinct_approx)
    }
    append_kmv_rollup(
        events.where(F.col("day") > split), store, keys, "user_id"
    )
    after_rows = slices(store)
    assert {r[0]: r[2] for r in after_rows} == before

    n_pre = spark.read.parquet(f"{store}/cells").count()
    compact_kmv_rollup(spark, store)
    assert slices(store) == after_rows
    assert spark.read.parquet(f"{store}/cells").count() < n_pre

    # grain/kind guards
    with pytest.raises(ValueError, match="built as"):
        append_kmv_rollup(events, store, keys, "event_id")
    from parquet_to_postgres_spark.operators import append_sketch_rollup

    with pytest.raises(ValueError, match="built as"):
        append_sketch_rollup(events, store, keys, "user_id")
    with pytest.raises(ValueError, match="cross-kind"):
        from parquet_to_postgres_spark.operators import qsketch_slice

        qsketch_slice(spark, store, ["event_type"], [0.5])

    # the audience-overlap report: signup-vs-purchase users per day,
    # from re-mergeable slices (estimate=False), never raw events
    a = kmv_slice(
        spark, store, ["day"],
        where=F.col("event_type") == "signup", estimate=False,
    )
    b = kmv_slice(
        spark, store, ["day"],
        where=F.col("event_type") == "purchase", estimate=False,
    )
    overlap = kmv_set_cardinalities(a, b, ["day"])
    got = overlap.collect()
    assert got  # rows exist
    # exact check on one day (fixture cells are far under k=256, so
    # every output is exact): replay from raw events
    d0 = got[0]["day"]
    su = {
        r["user_id"]
        for r in events.where(
            (F.col("day") == d0) & (F.col("event_type") == "signup")
        ).collect()
    }
    pu = {
        r["user_id"]
        for r in events.where(
            (F.col("day") == d0) & (F.col("event_type") == "purchase")
        ).collect()
    }
    row0 = [r for r in got if r["day"] == d0][0]
    assert row0["n_union"] == len(su | pu)
    assert row0["n_intersection"] == len(su & pu)

    # self-heal through the shared engine
    os.rename(f"{store}/cells", f"{store}/cells_old")
    assert slices(store) == after_rows


def test_stream_kmv_rollup_writer_matches_batch(spark, tmp_path):
    """Third kind on the shared ledger: availableNow stream through
    stream_kmv_rollup_writer slices bit-identically to a one-shot
    rebuild; replays are no-ops (n_rows included — the sketch alone
    would forgive them, n_rows would not)."""
    from parquet_to_postgres_spark.operators import (
        kmv_slice,
        write_kmv_rollup,
    )
    from parquet_to_postgres_spark.streaming.ops import (
        stream_kmv_rollup_writer,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    days = sorted(r["day"] for r in events.select("day").distinct().collect())
    split = days[len(days) // 2]
    seed = events.where(F.col("day") <= split)
    delta = events.where(F.col("day") > split)

    store = str(tmp_path / "kcube")
    keys = ["day", "event_type"]
    write_kmv_rollup(seed, store, keys, "user_id")

    src = str(tmp_path / "incoming")
    delta.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(delta.schema).parquet(src)
    writer = stream_kmv_rollup_writer(store, keys, "user_id", stream_id="s1")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = str(tmp_path / "kcube_full")
    write_kmv_rollup(events, full, keys, "user_id")

    def slices(p):
        return sorted(
            map(tuple, kmv_slice(spark, p, ["event_type"]).collect())
        )

    assert slices(store) == slices(full)
    writer(delta, 0)  # replay -> ledger no-op, n_rows unchanged
    assert slices(store) == slices(full)

    # a SECOND lineage with restarting batch ids is NOT skipped —
    # observable here through n_rows inflating (the sketch alone would
    # forgive the duplicate; a bare-batch-id ledger regression would
    # leave this equality standing)
    writer2 = stream_kmv_rollup_writer(store, keys, "user_id", stream_id="s2")
    writer2(delta, 0)
    assert slices(store) != slices(full)

    # missing store: loud refusal naming the backfill fn, no junk dir
    import os

    ghost = str(tmp_path / "no_store")
    w3 = stream_kmv_rollup_writer(ghost, keys, "user_id", stream_id="s1")
    with pytest.raises(ValueError, match="write_kmv_rollup"):
        w3(delta, 0)
    assert not os.path.exists(ghost)
    with pytest.raises(ValueError, match="flat name"):
        stream_kmv_rollup_writer(store, keys, "user_id", stream_id="a/b")


# ------------------------------------------------ quantile rollups ----


def test_qsketch_guarantee_on_mixed_sign_values(spark):
    """The DDSketch relative-error guarantee, checked against exact
    sorted ranks on values spanning signs, zeros, and 6 decades."""
    import math
    import random

    from parquet_to_postgres_spark.operators import (
        qsketch_quantiles,
        qsketch_rollup,
    )

    rng = random.Random(7)
    vals = (
        [math.exp(rng.uniform(-3, 10)) for _ in range(400)]
        + [-math.exp(rng.uniform(-3, 10)) for _ in range(300)]
        + [0.0] * 50
    )
    alpha = 0.02
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    got = qsketch_quantiles(
        qsketch_rollup(df, ["k"], "v", alpha=alpha),
        [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0],
    ).collect()[0]
    s = sorted(vals)
    n = len(s)
    for q, col in [(0.0, "p0"), (0.01, "p1"), (0.25, "p25"), (0.5, "p50"),
                   (0.75, "p75"), (0.99, "p99"), (1.0, "p100")]:
        exact = s[math.ceil(q * (n - 1))]
        est = got[col]
        assert abs(est - exact) <= alpha * abs(exact) + 1e-12, (q, est, exact)


def test_qsketch_alpha_floor_and_wide_range_packing(spark):
    """Two halves of the same r13 advice finding: (a) alpha below the
    1e-6 floor refuses loudly instead of silently corrupting bucket
    ids; (b) at alpha=1e-4 on values spanning ~600 decades the bucket
    index reaches ~±3.5M — past the OLD 2^22 sort-key lane, which
    misordered entries and broke quantile decode — and the widened
    2^32 packing keeps every decoded quantile inside the alpha
    guarantee."""
    import math

    from parquet_to_postgres_spark.operators import (
        qsketch_quantiles,
        qsketch_rollup,
    )

    df1 = spark.createDataFrame([("g", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="1e-6"):
        qsketch_rollup(df1, ["k"], "v", alpha=5e-7)

    alpha = 1e-4
    vals = [1e-300, 1e-100, 1.0, 1e100, 1e300,
            -1e-300, -1e-100, -1.0, -1e100, -1e300]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, v double")
    got = qsketch_quantiles(
        qsketch_rollup(df, ["k"], "v", alpha=alpha),
        [0.0, 0.25, 0.5, 0.75, 1.0],
    ).collect()[0]
    s = sorted(vals)
    n = len(s)
    for q, col in [(0.0, "p0"), (0.25, "p25"), (0.5, "p50"),
                   (0.75, "p75"), (1.0, "p100")]:
        exact = s[math.ceil(q * (n - 1))]
        # +1e-12: the representative 2γ^i/(γ+1) rounds in float a hair
        # past the exact α bound (same slack as the guarantee test)
        assert abs(got[col] - exact) <= alpha * abs(exact) + 1e-12, (
            q, got[col], exact,
        )


def test_qsketch_merge_is_bit_exact(spark):
    """Merging per-day rollups equals building at the coarser grain
    directly — entry-for-entry, not just estimate-for-estimate."""
    from parquet_to_postgres_spark.operators import (
        qsketch_merge,
        qsketch_rollup,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    fine = qsketch_rollup(events, ["day", "event_type"], "value")
    merged = qsketch_merge(fine, ["event_type"])
    direct = qsketch_rollup(events, ["event_type"], "value")

    def canon(df):
        return sorted(
            (r["event_type"], r["n_values"],
             tuple(map(tuple, r["entries"])))
            for r in df.collect()
        )

    assert canon(merged) == canon(direct)
    # global merge (no keys) also equals the one-key global build
    g = qsketch_merge(fine, [])
    assert g.collect()[0]["n_values"] == sum(r[1] for r in canon(direct))


def test_qsketch_fixture_percentiles_within_alpha(spark):
    from parquet_to_postgres_spark.operators import (
        qsketch_quantiles,
        qsketch_rollup,
    )
    import math

    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "k", F.lit("all")
    )
    got = qsketch_quantiles(
        qsketch_rollup(orders, ["k"], "o_totalprice"), [0.5, 0.95]
    ).collect()[0]
    vals = sorted(r["o_totalprice"] for r in orders.select("o_totalprice").collect())
    n = len(vals)
    for q, col in [(0.5, "p50"), (0.95, "p95")]:
        exact = vals[math.ceil(q * (n - 1))]
        assert abs(got[col] - exact) <= 0.01 * abs(exact), (q, got[col], exact)


def test_qsketch_nonfinite_dropped_and_alpha_rides_the_row(spark):
    """NaN/inf are dropped (NaN binned silently at ~1 before; inf
    CAST_OVERFLOW-killed the job under ANSI — both r13 review
    findings, verified live), and the decode reads alpha from the
    row, so a persisted rollup can never be rescaled by a stale
    caller constant."""
    import math

    from parquet_to_postgres_spark.operators import (
        qsketch_quantiles,
        qsketch_rollup,
    )

    df = spark.createDataFrame(
        [("a", float("nan")), ("a", float("inf")), ("a", float("-inf")),
         ("a", 1000.0), ("a", 2000.0), ("a", 3000.0)],
        "k string, v double",
    )
    r = qsketch_quantiles(qsketch_rollup(df, ["k"], "v", alpha=0.05), [0.0, 1.0]).collect()[0]
    assert r["n_values"] == 3
    assert abs(r["p0"] - 1000.0) <= 0.05 * 1000.0
    assert abs(r["p100"] - 3000.0) <= 0.05 * 3000.0
    # alpha=0.05 came from the ROW — there is no decode-side alpha arg
    assert r["alpha"] == 0.05
    # fractional quantile names carry no dots
    cols = qsketch_quantiles(
        qsketch_rollup(df, ["k"], "v"), [0.07, 0.999]
    ).columns
    assert "p7" in cols and "p0_999" in cols
    # and the names resolve as plain columns
    qsketch_quantiles(qsketch_rollup(df, ["k"], "v"), [0.999]).select("p0_999").collect()


def test_qsketch_validation_and_plan(spark):
    import contextlib
    import io

    from parquet_to_postgres_spark.operators import (
        qsketch_quantiles,
        qsketch_rollup,
    )

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        qsketch_rollup(df, [], "v")
    with pytest.raises(ValueError):
        qsketch_rollup(df, ["k"], "v", alpha=1.5)
    with pytest.raises(ValueError):
        qsketch_quantiles(qsketch_rollup(df, ["k"], "v"), [])
    with pytest.raises(ValueError):
        qsketch_quantiles(qsketch_rollup(df, ["k"], "v"), [1.2])
    with pytest.raises(ValueError, match="alpha column"):
        qsketch_quantiles(df, [0.5])
    # decode is a pure projection: no exchange beyond the rollup's two
    # bucket-grain aggregations, and no Python anywhere
    out = qsketch_quantiles(qsketch_rollup(df, ["k"], "v"), [0.5, 0.99])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="simple")
    p = buf.getvalue()
    assert p.count("Exchange") == 2, p
    assert "Python" not in p and "ArrowEval" not in p


def test_qsketch_store_roundtrip_append_compact(spark, tmp_path):
    """The quantile cube on the shared store engine: incremental ==
    one-shot rebuild BIT-exactly, compaction invariant, grain
    validated, self-heal shared."""
    import math
    import os

    from parquet_to_postgres_spark.operators import (
        append_qsketch_rollup,
        compact_qsketch_rollup,
        qsketch_slice,
        write_qsketch_rollup,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    # split by event parity: DATA-disjoint increments that share
    # cells, so merge-on-read and compaction both have real work
    store = str(tmp_path / "qcube")
    keys = ["day", "event_type"]
    write_qsketch_rollup(
        events.where(F.col("event_id") % 2 == 0), store, keys, "value"
    )
    append_qsketch_rollup(
        events.where(F.col("event_id") % 2 == 1), store, keys, "value"
    )
    full = str(tmp_path / "qcube_full")
    write_qsketch_rollup(events, full, keys, "value")

    def slices(p):
        return sorted(
            map(tuple, qsketch_slice(spark, p, ["event_type"], [0.5, 0.99]).collect())
        )

    assert slices(store) == slices(full)

    # decoded p50 within alpha of the exact per-type median
    got = {r[0]: r for r in qsketch_slice(spark, store, ["event_type"], [0.5]).collect()}
    for et, rows in [("click", None)]:
        vals = sorted(
            r["value"] for r in events.where(
                (F.col("event_type") == et) & F.col("value").isNotNull()
            ).collect()
            if not (math.isnan(r["value"]) or math.isinf(r["value"]))
        )
        exact = vals[math.ceil(0.5 * (len(vals) - 1))]
        assert abs(got[et]["p50"] - exact) <= 0.01 * abs(exact) + 1e-9

    n_pre = spark.read.parquet(f"{store}/cells").count()
    compact_qsketch_rollup(spark, store)
    assert slices(store) == slices(full)
    assert spark.read.parquet(f"{store}/cells").count() < n_pre

    # grain guards: value col, alpha, and cross-KIND misuse all refuse
    with pytest.raises(ValueError, match="built as"):
        append_qsketch_rollup(events, store, keys, "user_id")
    with pytest.raises(ValueError, match="built as"):
        append_qsketch_rollup(events, store, keys, "value", alpha=0.05)
    from parquet_to_postgres_spark.operators import append_sketch_rollup

    with pytest.raises(ValueError, match="built as"):
        append_sketch_rollup(events, store, keys, "user_id")

    # self-heal is the shared engine path
    os.rename(f"{store}/cells", f"{store}/cells_old")
    assert slices(store) == slices(full)


def test_store_cross_kind_and_empty_guards(spark, tmp_path):
    """Read/compact-side cross-kind refusal (the append-only guard let
    qsketch_slice die with UNRESOLVED_COLUMN on an HLL store — r13
    review finding), legacy kind-less meta migration, and the
    empty-store refusal that keeps a prior store intact."""
    import json
    import os

    from parquet_to_postgres_spark.operators import (
        _sketch_meta_path,
        append_sketch_rollup,
        compact_qsketch_rollup,
        qsketch_slice,
        sketch_slice,
        write_qsketch_rollup,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([("a", 7, 1.0)], "g string, u int, v double")
    hll = str(tmp_path / "hll")
    write_sketch_rollup(df, hll, ["g"], "u")
    with pytest.raises(ValueError, match="cross-kind"):
        qsketch_slice(spark, hll, ["g"], [0.5])
    with pytest.raises(ValueError, match="cross-kind"):
        compact_qsketch_rollup(spark, hll)

    # legacy meta without "kind" reads as an HLL store
    meta = json.load(open(_sketch_meta_path(hll)))
    del meta["kind"]
    json.dump(meta, open(_sketch_meta_path(hll), "w"))
    assert sketch_slice(spark, hll, ["g"]).count() == 1
    append_sketch_rollup(df, hll, ["g"], "u")  # grain-identical append ok

    # empty build refuses and leaves the existing store untouched
    q = str(tmp_path / "q")
    write_qsketch_rollup(df, q, ["g"], "v")
    with pytest.raises(ValueError, match="EMPTY store"):
        write_qsketch_rollup(df.where("v > 99"), q, ["g"], "v")
    assert qsketch_slice(spark, q, ["g"], [0.5]).count() == 1
    assert not os.path.exists(q + ".tmp_build")
