"""Query registry: every oracle-checked query, declared or not.

Every operator from SURVEY.md §2 is registered here as a ``QuerySpec``:
a Spark DataFrame builder plus (where SQL-expressible) a DuckDB oracle
SQL twin.  A query is *declared* iff it is listed in ``DRIVER_ORDER``;
``load_all()`` returns exactly the declared queries, and
``__spark_entry__.py``, ``bench.py`` and the tools see only those.  The
few registered-but-undeclared queries are each the only path to a
library operator no declared query reaches; the parametrized oracle
test iterates the whole ``REGISTRY``, so they keep the same gate.

Alias discipline: the driver's correctness gate sorts columns by name and
hashes values, so every computed column is aliased identically in the
Spark builder and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str  # DuckDB SQL twin
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, tags: tuple[str, ...] = ()):
    """Decorator: add a (builder, oracle) pair to the registry."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, tags)
        return fn

    return deco


# Declared order for the driver: cheapest queries first, the expensive
# tails (streaming harness, MinHash, the mapInPandas byte decode) last —
# if the correctness gate ever runs under a time budget, a cutoff costs
# the least coverage.  Exactly 50 queries are declared because the
# driver's gate observes at most 50; every SURVEY.md §2B id keeps at
# least one declared query (several same-grain demos share one).
DRIVER_ORDER: tuple[str, ...] = (
    "pricing_summary",
    "select_filter_case",
    "scalar_functions",
    "profile_drift_report",
    "semi_structured_functions",
    "pivot_status_priority",
    "cube_orders",
    "collect_nations",
    "funnel_counts",
    "retention_cohorts",
    "attribution_report",
    "approx_sketches",
    "join_full_outer",
    "join_semi_anti",
    "join_dims_grid",
    "join_range_binned",
    "join_interval_overlap",
    "join_asof",
    "join_star_revenue",
    "bloom_semi_reduction",
    "fuzzy_name_pairs",
    "window_rank_analytic",
    "top_k_per_group",
    "global_sort_rank",
    "top_k_global",
    "set_operations",
    "pack_token_budget",
    "scd2_history",
    "cdc_apply_state",
    "multi_source_agg",
    "etl_jdbc_roundtrip",
    "etl_pg_roundtrip",
    "corpus_preprocess",
    "text_metrics",
    "weighted_sample",
    "span_dedup",
    "embedding_profile",
    "ann_topk",
    "ivfpq_index_probe",
    # store-build tail: cold first run pays a multi-job persisted-store
    # build (build-once amortized thereafter) — keep with the expensive
    # tail so a time-budgeted cutoff hits it last, same as ivfpq above
    "sketch_cube_slice",
    "udf_surface",
    "stream_windowed_aggs",
    "stream_session_windows",
    "stream_watermark_hourly",
    "stream_dedup_keys",
    "stream_user_totals",
    "stream_stream_join",
    "minhash_near_dup",
    "near_dedup_corpus",
    "multimodal_real_decode",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY); returns
    the declared queries, in DRIVER_ORDER."""
    from . import (  # noqa: F401
        aggregates_q,
        analytics_q,
        etl_q,
        functions_q,
        joins_q,
        llm_q,
        pipeline_q,
        relational_q,
        setops_q,
        streaming_q,
        windows_q,
    )

    return {n: REGISTRY[n] for n in DRIVER_ORDER}


def queries() -> dict[str, Builder]:
    return {n: s.builder for n, s in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in load_all().items()}
