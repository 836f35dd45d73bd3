"""Stream-static enrichment and the foreachBatch batch-sink bridge."""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from parquet_to_postgres_spark.etl import ParquetSink
from parquet_to_postgres_spark.streaming import ops
from parquet_to_postgres_spark.tables import load_table

from .conftest import SF_SMOKE


def test_enrich_with_dim_matches_batch_join(spark):
    """Stream-static broadcast enrichment == the same join run in batch
    (stateless: no watermark required, no streaming state)."""
    dim = (
        load_table(spark, SF_SMOKE, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = ops.events_stream(spark, SF_SMOKE).select("event_id", "user_id")
    enriched = ops.enrich_with_dim(stream, dim, on="user_id")
    got = ops.run_stream_to_df(enriched, "append")

    batch = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id"
    ).join(dim, "user_id", "left")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # every event kept (left join), segments attached where the dim matches
    assert got.count() == load_table(spark, SF_SMOKE, "events").count()
    assert got.where(F.col("segment").isNotNull()).count() > 0


def test_foreach_batch_parquet_sink_roundtrip(spark):
    """foreachBatch bridges a stream into the batch ETL sink: the
    written parquet equals the batch-filtered input. Sink mode must be
    append — each micro-batch is one sink.write call."""
    stream = ops.events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    with tempfile.TemporaryDirectory() as d:
        ops.run_stream_to_sink(
            stream, ParquetSink(f"{d}/out", mode="append"), f"{d}/ckpt"
        )
        back = spark.read.parquet(f"{d}/out")
        batch = load_table(spark, SF_SMOKE, "events").where(
            F.col("event_type") == "purchase"
        )
        assert back.count() == batch.count()
        assert sorted(back.columns) == sorted(batch.columns)
        assert (
            back.agg(F.sum(F.col("value").cast("decimal(12,2)"))).collect()[0][0]
            == batch.agg(F.sum(F.col("value").cast("decimal(12,2)"))).collect()[0][0]
        )


def test_foreach_batch_rejects_overwrite_sink(spark):
    """An overwrite-mode sink under foreachBatch would keep only the
    last micro-batch — rejected loudly instead of losing data."""
    import pytest

    with pytest.raises(ValueError, match="overwrite"):
        ops.foreach_batch_writer(ParquetSink("/tmp/nope", mode="overwrite"))


def test_idempotent_sink_replayed_batch_no_double_insert(spark):
    """The batch_id-keyed sink is exactly-once under retries: running
    the stream, then REPLAYING a micro-batch through the same writer
    (what a failure-after-write/before-commit retry does), leaves the
    table unchanged — the replay overwrites its own batch_id partition
    instead of appending a second copy."""
    import tempfile

    from parquet_to_postgres_spark.etl import IdempotentParquetSink

    stream = ops.events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    with tempfile.TemporaryDirectory() as d:
        sink = IdempotentParquetSink(f"{d}/out")
        ops.run_stream_to_sink(stream, sink, f"{d}/ckpt")

        batch = load_table(spark, SF_SMOKE, "events").where(
            F.col("event_type") == "purchase"
        )
        back = spark.read.parquet(f"{d}/out")
        n0 = back.count()
        assert n0 == batch.count()
        checksum0 = back.agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
        ).collect()[0][0]
        batch_ids = [r[0] for r in back.select("batch_id").distinct().collect()]

        # replay: re-deliver one whole micro-batch to the writer with its
        # original batch_id (at-least-once delivery after a lost commit)
        writer = ops.foreach_batch_writer(sink)
        replay_id = batch_ids[0]
        # materialize the replayed rows BEFORE the write: the sink
        # overwrites the very partition this frame lazily reads
        replay_df = (
            spark.read.parquet(f"{d}/out")
            .where(F.col("batch_id") == replay_id)
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )
        writer(replay_df, replay_id)

        after = spark.read.parquet(f"{d}/out")
        assert after.count() == n0
        assert (
            after.agg(F.sum(F.col("value").cast("decimal(12,2)"))).collect()[0][0]
            == checksum0
        )
        # an APPEND-mode plain sink under the same replay WOULD double-insert
        # (control for the assertion above)
        plain = ParquetSink(f"{d}/plain", mode="append")
        plain.write(replay_df)
        plain.write(replay_df)
        assert spark.read.parquet(f"{d}/plain").count() == 2 * replay_df.count()


def test_idempotent_sink_multi_batch_replay(spark):
    """Exactly-once across a MULTI-batch run: maxFilesPerTrigger=1 over
    a 3-file input produces 3 micro-batches / 3 batch_id partitions;
    replaying the middle batch leaves total rows and per-batch layout
    unchanged."""
    import tempfile

    from parquet_to_postgres_spark.etl import IdempotentParquetSink

    src = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        src.repartition(3).write.parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in")
        )
        sink = IdempotentParquetSink(f"{d}/out")
        ops.run_stream_to_sink(stream, sink, f"{d}/ckpt")

        back = spark.read.parquet(f"{d}/out")
        n0 = back.count()
        assert n0 == src.count()
        ids = sorted(
            r[0] for r in back.select("batch_id").distinct().collect()
        )
        assert len(ids) >= 2, f"expected multiple micro-batches, got {ids}"

        replay_id = ids[len(ids) // 2]
        replay_df = (
            spark.read.parquet(f"{d}/out")
            .where(F.col("batch_id") == replay_id)
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )
        ops.foreach_batch_writer(sink)(replay_df, replay_id)

        after = spark.read.parquet(f"{d}/out")
        assert after.count() == n0
        per_batch = {
            r["batch_id"]: r["n"]
            for r in after.groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert sorted(per_batch) == ids  # no new partitions appeared


def test_checkpoint_restart_processes_nothing_twice(spark):
    """Source-side exactly-once: re-running an availableNow query over
    the SAME durable checkpoint re-delivers no data — the restarted
    query sees the committed offsets and writes zero new rows even into
    a plain append sink."""
    import tempfile

    stream = ops.events_stream(spark, SF_SMOKE).where(
        F.col("event_type") == "purchase"
    )
    with tempfile.TemporaryDirectory() as d:
        sink = ParquetSink(f"{d}/out", mode="append")
        ops.run_stream_to_sink(stream, sink, f"{d}/ckpt")
        n1 = spark.read.parquet(f"{d}/out").count()
        assert n1 > 0

        # "restart": same input, same checkpoint, fresh query object
        stream2 = ops.events_stream(spark, SF_SMOKE).where(
            F.col("event_type") == "purchase"
        )
        ops.run_stream_to_sink(stream2, sink, f"{d}/ckpt")
        assert spark.read.parquet(f"{d}/out").count() == n1


def test_run_stream_to_df_row_cap_guard(spark, monkeypatch):
    """run_stream_to_df collects the memory sink to the driver — safe
    only because the harness is bounded.  The cap makes a large-stream
    misuse fail fast and loud instead of OOMing the driver (driver
    ADVICE r7).  Verified by shrinking the cap below the fixture size.

    Neither the over-cap raise, nor a query whose ``start()`` fails
    (complete mode needs an aggregation), nor one that fails while
    running (``raise_error`` in a projection) may leave the harness's
    regime on the session (partitions capped at 8, the no-data batch
    off) or leak a memory-sink temp view.  The session is set to 13
    first: the fixture's own value is 8."""
    from pyspark.errors import AnalysisException, StreamingQueryException

    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    no_data_prev = spark.conf.get(no_data)

    stream = ops.events_stream(spark, SF_SMOKE).select("event_id", "user_id")
    failing = stream.select(
        "event_id", F.raise_error(F.lit("boom in batch")).alias("user_id")
    )
    monkeypatch.setattr(ops, "MAX_MEMORY_SINK_ROWS", 10)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        for frame, mode, err, match in (
            (stream, "append", RuntimeError, "memory sink exceeded 10 rows"),
            (stream, "complete", AnalysisException, "STREAMING_OUTPUT_MODE"),
            (failing, "append", StreamingQueryException, "boom in batch"),
        ):
            with pytest.raises(err, match=match):
                ops.run_stream_to_df(frame, mode, no_data_batch=False)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "13", match
            assert spark.conf.get(no_data) == no_data_prev, match
            assert not [
                t.name
                for t in spark.catalog.listTables()
                if t.name.startswith("stream_sink_")
            ], match
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_query_mix_streams_batch_count_and_state_partitions(spark):
    """The harness runs ``stream_dedup_keys`` and ``stream_stream_join``
    as one micro-batch each (they emit in the data batch, so they skip
    the state-only no-data batch) and ``stream_watermark_hourly`` as two
    (its windows emit only in the no-data batch).  Their state
    operators run on the session's shuffle partitions, capped at 8: 4
    on a 4-partition session, 8 on a 13-partition one."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from parquet_to_postgres_spark.queries import streaming_q as Q

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.progress, self.terminated = [], 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    def run(query):
        """The query's progress events: the bus delivers them in order,
        so they are all in once its termination event is."""
        seen, done = len(rec.progress), rec.terminated
        query(spark, SF_SMOKE)
        deadline = time.monotonic() + 30
        while rec.terminated == done and time.monotonic() < deadline:
            time.sleep(0.05)
        assert rec.terminated == done + 1, query.__name__
        return rec.progress[seen:]

    def state_partitions(progress):
        return {
            op["numShufflePartitions"]
            for p in progress
            for op in p["stateOperators"]
        }

    rec = Recorder()
    spark.streams.addListener(rec)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        for query, batches in (
            (Q.stream_dedup_keys, 1),
            (Q.stream_stream_join, 1),
            (Q.stream_watermark_hourly, 2),
        ):
            progress = run(query)
            assert len(progress) == batches, (query.__name__, progress)
            assert state_partitions(progress) == {4}, query.__name__
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        assert state_partitions(run(Q.stream_dedup_keys)) == {8}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.streams.removeListener(rec)


def test_stream_windowed_aggs_is_one_streaming_query(spark, monkeypatch):
    """Both facets come from ONE streaming query: one source, one
    stateful aggregation (one state operator) — not a query per facet."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from parquet_to_postgres_spark.queries.streaming_q import (
        stream_windowed_aggs,
    )

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    got = stream_windowed_aggs(spark, SF_SMOKE)
    assert got.select("facet").distinct().count() == 2
    assert len(started) == 1
    progress = started[0].lastProgress
    assert len(progress["sources"]) == 1, progress
    assert len(progress["stateOperators"]) == 1, progress


def test_windowed_counts_window_edges(spark):
    """Window starts are inclusive and epoch-aligned: an event at exactly
    00:00 or 12:00 opens the window starting there, 23:59:59.999999
    stays in its day and its 12:00 half, and a NULL ts is in no window
    of either facet.  Rows hand-computed; batch mode."""
    events = spark.sql(
        """SELECT * FROM VALUES
             (TIMESTAMP'2024-01-02 00:00:00', 'a', 1.0D),
             (TIMESTAMP'2024-01-02 12:00:00', 'b', 2.0D),
             (TIMESTAMP'2024-01-02 23:59:59.999999', 'a', 4.0D),
             (CAST(NULL AS TIMESTAMP), 'a', 8.0D)
           AS t(ts, event_type, value)"""
    )
    got = ops.windowed_counts(events).select(
        "facet",
        F.col("win_start").cast("string"),
        "event_type",
        "n_events",
        "total_value",
    )
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        [
            ("tumbling", "2024-01-02 00:00:00", "a", 2, 5.0),
            ("tumbling", "2024-01-02 00:00:00", "b", 1, 2.0),
            ("sliding", "2024-01-01 12:00:00", None, 1, 1.0),
            ("sliding", "2024-01-02 00:00:00", None, 3, 7.0),
            ("sliding", "2024-01-02 12:00:00", None, 2, 6.0),
        ],
        key=str,
    )


def test_stateful_user_totals_prunes_arrow_boundary(spark):
    """r15 (guide §4): applyInPandasWithState ships every child column
    through the state shuffle and the Arrow boundary (the kernel is
    opaque to Catalyst — nothing downstream can prune it), so
    stateful_user_totals must project to exactly the two columns the
    kernel reads BEFORE the stateful operator.  Pin: the stateful node
    names only (user_id, value), and its direct child is that
    two-column Project — not the six-column events stream."""
    import re

    st = ops.stateful_user_totals(ops.events_stream(spark, SF_SMOKE))
    plan = st._jdf.queryExecution().analyzed().toString()
    head = plan.splitlines()[0]
    assert "FlatMapGroupsInPandasWithState" in head, head
    for fat in ("props", "event_type", "event_id", r"(?<![a-z_])ts#"):
        assert not re.search(fat, head), (
            f"unpruned column reaches the kernel: {head}"
        )
    # search the WHOLE plan for the two-column Project rather than
    # pinning it to a specific pretty-printed line (r15 ADVICE item —
    # indentation markers / extra nodes vary across Spark versions)
    assert re.search(r"Project \[user_id#\d+L?, value#\d+\]", plan), plan
