"""The query and stage lists the workloads and their per-layer metric
names are built from.  The metric names themselves are listed once, in
BENCHMARK.json."""

from __future__ import annotations

MIX_BATCH = [
    "pricing_summary",
    "cube_orders",
    "approx_sketches",
    "join_star_revenue",
    "fuzzy_name_pairs",
    "window_rank_analytic",
    "set_operations",
    "scalar_functions",
    "sketch_cube_slice",
    "ann_topk",
    "minhash_near_dup",
]
MIX_STREAM = ["stream_dedup_keys", "stream_stream_join", "stream_watermark_hourly"]
# build-once queries whose persisted store is removed before each run
MIX_BUILD = ["sketch_cube_slice"]
CURATE_STAGES = [
    "input",
    "normalized",
    "rule_gate",
    "lm_gate",
    "span_dedup",
    "exact_dedup",
    "near_dedup",
    "split",
]
