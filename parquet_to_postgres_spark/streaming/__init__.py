"""Structured Streaming operators (SURVEY.md §2B T1–T6).

The reference has no streaming at all (its whole pipeline is a one-shot
batch loop, ``/root/reference/src/main.rs:74-97``); this package expresses
the event-stream capability matrix as Structured Streaming plans with
exact batch-equivalent semantics, so every query (except the watermark
late-drop demo) can be hash-checked against a DuckDB batch oracle.
"""

from .ops import (
    enrich_with_dim,
    events_stream,
    foreach_batch_writer,
    run_stream_to_df,
    run_stream_to_sink,
    session_windows,
    stateful_user_totals,
    stream_stream_click_attribution,
    streaming_dedup_keys,
    watermarked_late_drop,
    windowed_counts,
)

__all__ = [
    "enrich_with_dim",
    "events_stream",
    "foreach_batch_writer",
    "run_stream_to_df",
    "run_stream_to_sink",
    "session_windows",
    "stateful_user_totals",
    "stream_stream_click_attribution",
    "streaming_dedup_keys",
    "watermarked_late_drop",
    "windowed_counts",
]
