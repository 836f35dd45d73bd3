"""Structured Streaming operators over the ``events`` table.

Execution model: ``readStream`` over the events parquet with a
``trigger(availableNow=True)`` one-shot run into a named memory sink —
the bounded-input harness recommended by SURVEY.md §7 ("streaming tests
without a long-running cluster").  Every transformation below is a
standard streaming plan that would run unchanged against Kafka/files on
a real cluster; only the source/sink bindings are test-local.

100 TB notes:
- The memory sink is the TEST harness.  Production binds
  ``writeStream.format("parquet"|"kafka")`` with a durable
  ``checkpointLocation``; the transformation DataFrames here are
  sink-agnostic.
- Watermarks bound state: windowed aggregations and dedup state are
  dropped once the watermark passes, so state size tracks the
  out-of-orderness bound, not the stream length.
- ``applyInPandasWithState`` state is per-key and Arrow-batched; keys
  are hash-partitioned so per-user state scales horizontally.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..tables import normalize_events_ts
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

_SINK_IDS = itertools.count()

# run_stream_to_df is a bounded test harness (the memory sink
# materializes on the driver); this cap turns an oversized-but-fitting
# result into an explicit error so the misuse is caught the first time
# it happens at test scale — it canNOT stop a stream so large it OOMs
# the driver while the sink is still filling (the sink buffers during
# the query run, before any check can see it).  Streams of that size
# must use run_stream_to_sink (foreachBatch into a real sink), which
# never routes rows through the driver.  5M rows of the widest harness
# schema is well under a gigabyte.
MAX_MEMORY_SINK_ROWS = 5_000_000


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (schema from the batch
    footer read — streaming file sources require an explicit schema).

    The fixture's physical ts type has varied across driver rounds
    (TIMESTAMP(NANOS) vs timestamp[us]); mirror tables.load_table and
    normalize based on the footer schema actually read.  Like
    load_table, it leaves the nanos reader conf set on the caller's
    session: the stream's scan reads it when the query runs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        # file sources stream a DIRECTORY; the glob picks out events
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def run_stream_to_df(
    result: DataFrame, output_mode: str, no_data_batch: bool = True
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) and return
    the final result via a memory sink.

    Stateful streaming opens one state store per shuffle partition per
    batch, so the run caps ``spark.sql.shuffle.partitions`` at
    ``min(8, session value)``: it lowers a large batch default and never
    raises a small one.  (On a real cluster size this to key cardinality
    / executor count, not to the batch value.)

    ``no_data_batch`` sets ``spark.sql.streaming.noDataMicroBatches.enabled``
    for the run.  The no-data batch after the data batch advances the
    watermark: it evicts state and emits what the new watermark closes.
    Turn it off only for a query that emits every row in its data batch
    (a watermarked ``dropDuplicates`` or an inner interval join in append
    mode); an append-mode window would then withhold every window.

    Both confs are set on the session for the run and restored after it,
    also when the query fails to start or while running.  Harness runs
    on one session are therefore sequential.  A query that fails while
    running also drops its memory-sink view before the error propagates.

    LIFETIME CONTRACT (driver ADVICE r8): the returned frame is backed
    by ``localCheckpoint`` blocks and is NOT recomputable — its
    lineage is truncated at the checkpoint.  Consume it (collect /
    count / write / compare) BEFORE any blanket unpersist such as
    bench's between-repeat ``release_rdds()``; after the blocks are
    released, further actions raise lost-block errors instead of
    recomputing.  A caller that needs a result durable across such a
    release must copy it out (write+read parquet).  Within the repo
    these harness results are always consumed inside the same repeat
    (bench) or the same test before any release, which is why the
    fast in-memory copy is the right default here."""
    spark = result.sparkSession
    name = f"stream_sink_{next(_SINK_IDS)}"
    parts = "spark.sql.shuffle.partitions"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = {k: spark.conf.get(k) for k in (parts, no_data)}
    try:
        spark.conf.set(parts, str(min(8, int(prev[parts]))))
        spark.conf.set(no_data, str(no_data_batch).lower())
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except BaseException:
        # start() registers the sink's view; only the success path below
        # reaches the drop, so a query that fails mid-run drops it here
        # (a no-op when start() itself failed before registering it)
        spark.catalog.dropTempView(name)
        raise
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    # Copy the sink's rows out with localCheckpoint and drop the memory
    # table, which otherwise pins its rows in driver memory for the
    # session's lifetime (a fresh name per call makes that leak grow).
    # The copy stays JVM-side as persisted RDD blocks, which
    # release_rdds() and session shutdown reclaim.  Checkpoint first,
    # then count the blocks: one scan of the sink, not two.  An over-cap
    # result (see MAX_MEMORY_SINK_ROWS) then errors loudly; its blocks
    # are released through the RDD registry, because DataFrame.unpersist
    # misses localCheckpoint's RDD-level persist.
    from ..checkpoint import persistent_rdd_ids, release_rdds

    sc = spark.sparkContext
    before_ids = persistent_rdd_ids(sc)
    sink = spark.table(name)
    out = sink.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    n = out.count()  # reads cached checkpoint blocks — no second scan
    if n > MAX_MEMORY_SINK_ROWS:
        release_rdds(sc, persistent_rdd_ids(sc) - before_ids)
        raise RuntimeError(
            f"run_stream_to_df: memory sink exceeded {MAX_MEMORY_SINK_ROWS} "
            "rows — this helper is a bounded TEST harness whose result "
            "passes through driver memory. Route large streams through "
            "run_stream_to_sink (foreachBatch into a real sink) instead."
        )
    return out


# --------------------------------------------------------------- T1+T2 ----

_DAY_US = 86_400_000_000
_HALF_DAY_US = _DAY_US // 2


def windowed_counts(stream: DataFrame) -> DataFrame:
    """T1+T2 in one stateful aggregation, rows tagged by ``facet``:

    - ``tumbling``: 1-day windows per ``event_type``;
    - ``sliding``: 1-day windows every 12 hours over all events
      (``event_type`` NULL).  Each event lands in exactly 1 tumbling
      and 2 sliding windows, starting at floor_12h(ts) and 12 h before.

    Window starts align to the epoch, as ``F.window`` does (session time
    is UTC, so the batch twin is ``date_trunc('day', ts)``).  They are
    computed with ``pmod`` over ``unix_micros`` because Spark rejects
    two ``window()`` expressions in one projection, and ``date_trunc``
    would follow the session time zone instead of the epoch.  A NULL
    ``ts`` is in no window (``F.window`` drops it too).  Each event
    explodes into its three (facet, start, event_type) keys, so both
    facets share one source, one shuffle and one state store.  Money
    sums use the exact-decimal strategy (_util.py) for
    order-independent doubles."""
    us = F.unix_micros("ts")
    day = us - F.pmod(us, F.lit(_DAY_US))
    half = us - F.pmod(us, F.lit(_HALF_DAY_US))
    no_type = F.lit(None).cast("string")

    def key(facet, start_us, event_type):
        return F.struct(
            F.lit(facet).alias("facet"),
            F.timestamp_micros(start_us).alias("win_start"),
            event_type.alias("event_type"),
        )

    keys = F.array(
        key("tumbling", day, F.col("event_type")),
        key("sliding", half, no_type),
        key("sliding", half - F.lit(_HALF_DAY_US), no_type),
    )
    return (
        stream.where(F.col("ts").isNotNull())
        .select(F.explode(keys).alias("w"), "value")
        .groupBy("w.facet", "w.win_start", "w.event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# ------------------------------------------------------------------ T3 ----


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3: per-user session windows with a 30-minute inactivity gap.

    ``session_window.end`` is last-event-time + gap, so last activity is
    recovered by subtracting the gap — the batch twin is
    gaps-and-islands SQL (lag + cumulative new-session flag)."""
    return (
        stream.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            (F.col("session_window.end") - F.expr(f"INTERVAL {gap}")).alias(
                "sess_last"
            ),
            "n_events",
        )
    )


# ------------------------------------------------------------------ T4 ----


def watermarked_late_drop(stream: DataFrame) -> DataFrame:
    """T4: watermark + append-mode hourly counts.  Late data beyond 1 h
    is dropped and only watermark-closed windows are emitted: the final
    open windows are withheld.  ``stream_watermark_hourly`` checks it on
    rows, schema and hash against an exact DuckDB oracle."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "n_events")
    )


# ------------------------------------------------------------------ T5 ----


def streaming_dedup_keys(stream: DataFrame) -> DataFrame:
    """T5: streaming dedup on (user_id, event_type).

    Projecting to the key columns BEFORE dropDuplicates makes the output
    deterministic (the set of distinct keys) regardless of which row of
    a key arrives first; the watermark bounds dedup state at scale."""
    return (
        stream.withWatermark("ts", "1 day")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


# ------------------------------------------------------------------ T6 ----

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ]
)

_T6_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ]
)


def _user_totals_fn(key, pdfs, state: GroupState):
    """Running per-user totals in explicit state (the custom-stateful-
    operator surface).  Values are accumulated in integer cents so the
    result is order-independent and exactly SQL-reproducible."""
    if state.exists:
        n, cents = state.get
    else:
        n, cents = 0, 0
    for pdf in pdfs:
        n += len(pdf)
        # Half-away-from-zero, matching SQL round() (the batch twin and
        # oracle); pandas .round() is half-to-even and would diverge on
        # exact .5 ties if value ever carried more than 2 decimals.
        v = pdf["value"].to_numpy()
        v = v[~np.isnan(v)]  # NULL values: SQL sum() skips them; an
        # unmasked NaN.astype(int64) is undefined (INT64_MIN garbage)
        cents += int(
            (np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)).astype("int64").sum()
        )
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """T6: applyInPandasWithState — running per-user event count and
    value total (in exact cents).

    The kernel reads only ``user_id`` (the key) and ``value`` — project
    to exactly those BEFORE the stateful operator (guide §4/§2.3):
    ``applyInPandasWithState`` ships every child column through the
    state shuffle and the Arrow boundary (the function is opaque to
    Catalyst, so nothing downstream can prune it), and the events
    stream carries four unused columns including the fat ``props``
    JSON string.  Totals are unchanged — the kernel never touched the
    dropped columns."""
    return stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=_T6_OUTPUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- stream-static ----


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table.

    The static side is broadcast — no streaming state at all is kept for
    this join (unlike stream-stream), and the stream side never
    shuffles.  At 100 TB of stream this is the standard pattern for
    attaching slowly-changing dimensions (customer, nation, model
    metadata): the dim is re-read per micro-batch, so updates to it are
    picked up on the next trigger without restarting the query."""
    return stream.join(F.broadcast(dim), on=on, how=how)


# ------------------------------------------------------- batch bridge ----


def foreach_batch_writer(sink) -> "callable":
    """Bridge a streaming query to any BATCH sink (``JdbcSink`` /
    ``ParquetSink`` from :mod:`..etl`) via ``foreachBatch``.

    This is how the reference's Postgres load (main.rs:120-151) runs
    CONTINUOUSLY: each micro-batch goes through the same prepare/write
    path as the batch ETL, so type mapping, nested-column JSON
    serialization, and connection capping are shared, not re-implemented.
    Idempotence at scale: key the write on ``batch_id`` (e.g. overwrite a
    ``batch_id=`` partition, or stage + MERGE) so retried batches don't
    double-insert — exactly-once end-to-end needs a transactional or
    idempotent sink.

    Idempotent sinks (anything exposing ``write_batch(df, batch_id)`` —
    e.g. :class:`..etl.IdempotentParquetSink`, which overwrites a
    ``batch_id=`` partition dynamically) receive the batch_id and are
    exactly-once under retries; plain ``write(df)`` sinks are
    at-least-once (a batch retried after a successful write but before
    the checkpoint commit appends twice).

    Overwrite-mode plain sinks are REJECTED: availableNow can split the
    input into several micro-batches (maxFilesPerTrigger), and each
    foreachBatch call would silently overwrite the previous one, keeping
    only the last batch.  Use an append-mode sink, or an idempotent
    batch_id-keyed sink."""
    if hasattr(sink, "write_batch"):

        def _write_idempotent(batch_df: DataFrame, batch_id: int) -> None:
            sink.write_batch(batch_df, batch_id)

        return _write_idempotent
    if getattr(sink, "mode", None) == "overwrite":
        raise ValueError(
            "foreachBatch sink must not use mode='overwrite': a multi-batch "
            "stream would keep only the LAST micro-batch. Use mode='append' "
            "(or an idempotent batch_id-keyed sink, e.g. "
            "etl.IdempotentParquetSink)."
        )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        sink.write(batch_df)

    return _write


def stream_near_dedup_writer(
    band_store,
    sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    rows_per_band: int = 8,
    shingle_n: int | None = 5,
    cache_store: bool = True,
) -> "callable":
    """foreachBatch hook: near-dedup every micro-batch against a corpus
    band store, then write the survivors through the batch sink.

    The incremental-ingest shape at 100 TB: signatures come from the
    zero-shuffle Arrow MinHash kernel
    (:func:`~..llm.dedup.minhash_profiles_arrow`), run per micro-batch,
    so no stream state is needed, and the only join is a (band, key)
    equi-semi-join against the store (shuffle-free when the store is
    bucketed on those keys).  Inside foreachBatch the micro-batch is a
    plain DataFrame, so the exact batch operator
    (:func:`~..llm.dedup.near_dedup_against_store`) runs unchanged —
    streaming and batch dedup cannot diverge.

    ``band_store`` is a DataFrame or a parquet PATH (str).  A store
    that is MUTATED between triggers (``corpus_band_store(delta)
    .write.mode("append")``) must be handed in as a path with
    ``cache_store=False``: a parquet path is
    re-read — fresh file listing — per trigger, so appended bands are
    visible to later batches.  A DataFrame captured at construction
    can NEVER see rows appended to its backing files (Spark fixes the
    file listing when the frame is created; verified — not even
    ``refreshByPath`` re-lists it), which is why the path form exists
    rather than documenting a frame that "picks up" appends (r9: the
    old wording promised exactly that impossibility).

    ``cache_store`` (default) persists the store on first use so a
    long-running query joins each micro-batch against the cached bands
    instead of rescanning the store's files per trigger; MEMORY_AND_DISK
    semantics keep it safe when the store outgrows executor memory.

    The returned callable carries a ``close()`` attribute that releases
    the cached store (a no-op when ``cache_store=False``).  Call it
    after the query stops — without it, every writer built in a
    long-lived session would leave one MEMORY_AND_DISK DataFrame pinned
    until session end."""
    from ..llm.dedup import near_dedup_against_store

    store_path = band_store if isinstance(band_store, str) else None
    cached = None
    if cache_store:
        if store_path is not None:
            # read once up front: under cache_store the snapshot IS the
            # contract, so the listing time should be construction time
            raise ValueError(
                "stream_near_dedup_writer: a path-form band_store is for "
                "per-trigger re-reads — pass cache_store=False, or read "
                "the path yourself and pass the DataFrame to cache a "
                "fixed snapshot."
            )
        cached = band_store.persist()
    base = foreach_batch_writer(sink)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        store = (
            batch_df.sparkSession.read.parquet(store_path)
            if store_path is not None
            else (cached if cached is not None else band_store)
        )
        base(
            near_dedup_against_store(
                batch_df,
                store,
                num_hashes=num_hashes,
                rows_per_band=rows_per_band,
                text_col=text_col,
                id_col=id_col,
                shingle_n=shingle_n,
            ),
            batch_id,
        )

    _write.close = (
        (lambda: cached.unpersist()) if cached is not None else (lambda: None)
    )
    return _write


def stream_ann_topk_writer(
    index_path: str,
    sink,
    k: int = 10,
    n_bits: int = 4,
    n_probes: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "callable":
    """foreachBatch hook: approximate top-k for every query micro-batch
    against a persisted :func:`~..llm.similarity.write_ann_index` store.

    The online-inference shape at 100 TB: the corpus-side prep (norm,
    bucket, int8) was paid ONCE at index-build time; each micro-batch
    only hashes its own queries, collects its bounded probe set
    (≤ 2^n_bits values by construction) and joins against the probed
    index partitions — the scan is partition-pruned per trigger, so a
    query burst touching 5 of 16 buckets reads 5/16 of the index.
    Inside foreachBatch the micro-batch is a plain DataFrame, so the
    exact batch operator (:func:`~..llm.similarity.ann_index_topk`)
    runs unchanged — streaming and batch ANN cannot diverge."""
    from ..llm.similarity import ann_index_topk

    base = foreach_batch_writer(sink)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        base(
            ann_index_topk(
                batch_df.sparkSession,
                index_path,
                batch_df,
                k=k,
                n_bits=n_bits,
                n_probes=n_probes,
                id_col=id_col,
                vec_col=vec_col,
            ),
            batch_id,
        )

    return _write


def stream_ivfpq_topk_writer(
    index_path: str,
    corpus,
    sink,
    k: int = 10,
    n_probes: int = 2,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_corpus: bool = True,
) -> "callable":
    """foreachBatch hook: IVF-PQ top-k for every query micro-batch
    against a persisted :func:`~..llm.similarity.write_ivfpq_index`
    store — the streaming probe for ANN family #5 (a store built on one
    all-zero coarse cell serves plain full-scan PQ).

    Per trigger the scan side is only the PROBED cells' code
    partitions (the bounded probed-cell ``isin`` prunes at planning
    time inside :func:`~..llm.similarity.ivfpq_index_topk`); the
    micro-batch builds its own per-(query, cell) LUTs and re-ranks the
    bounded k·rerank candidates against ``corpus`` (the full-precision
    vectors, needed ONLY for the bounded exact re-rank join, not the
    scan).  ``cache_corpus`` (default) persists the NORMALIZED re-rank
    side — ``(cid, cvec)`` after unit-normalization, not the raw files
    — so a long-running query neither rescans the corpus nor re-runs
    the per-row ``_unit`` transform every trigger; the returned
    callable carries ``close()`` to release it (the
    :func:`stream_near_dedup_writer` hygiene contract).

    ``corpus`` is a DataFrame or a parquet PATH (str).  When the INDEX
    is appended between triggers (``append_ivfpq_index``), pass the
    corpus as a PATH with ``cache_corpus=False``: the path is re-read
    — fresh file listing — per trigger, so vectors appended alongside
    the index become visible to the exact-re-rank join.  A DataFrame
    captured at construction (cached or not) can NEVER see files
    appended later — Spark fixes a frame's file listing at creation —
    so with a stale frame the re-rank inner join would silently drop
    every appended id from the top-k (same trap — and same fix — as
    :func:`stream_near_dedup_writer`'s mutated band store; pinned in
    tests/test_ann_index.py).  The codes side needs no such care:
    :func:`~..llm.similarity.ivfpq_index_topk` re-reads
    ``<index>/codes`` every call.  Inside foreachBatch the micro-batch
    is a plain DataFrame, so the exact batch operator runs unchanged —
    streaming and batch IVF-PQ ANN cannot diverge."""
    from ..llm.similarity import _unit_frame, ivfpq_index_topk

    base = foreach_batch_writer(sink)
    corpus_path = corpus if isinstance(corpus, str) else None
    c_unit = None
    if cache_corpus:
        if corpus_path is not None:
            raise ValueError(
                "a path-form corpus is for per-trigger re-reads "
                "(mutating index) — pass cache_corpus=False, or read the "
                "path yourself and pass the DataFrame to cache a fixed "
                "snapshot."
            )
        # zero-norm rows dropped up front — the uniform ANN contract
        # (see similarity._nonzero_vec); the non-cached path gets the
        # same filter inside the top-k operator.
        c_unit = _unit_frame(corpus, id_col, vec_col).persist()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        corpus_df = (
            spark.read.parquet(corpus_path)
            if corpus_path is not None
            else corpus
        )
        base(
            ivfpq_index_topk(
                spark,
                index_path,
                corpus_df,
                batch_df,
                k=k,
                n_probes=n_probes,
                rerank=rerank,
                id_col=id_col,
                vec_col=vec_col,
                corpus_unit=c_unit,
            ),
            batch_id,
        )

    _write.close = (
        (lambda: c_unit.unpersist()) if cache_corpus else (lambda: None)
    )
    return _write


def stream_funnel(
    stream: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: "list[str]",
    max_gap_seconds: "int | float | None" = None,
    state_ttl_minutes: "int | None" = None,
) -> DataFrame:
    """Streaming funnel progression (T6 family): the per-user ordered
    step matcher of :func:`~..operators.funnel` as an
    ``applyInPandasWithState`` operator — each micro-batch advances
    every touched user's DP state and emits the user's current
    ``steps_completed`` (update semantics).

    The state IS the batch fold's ``(committed, current, t)`` triple
    (:func:`~..operators.funnel_fold_py` — one shared Python reference
    of the JVM fold's semantics), so on in-order arrival the streaming
    answer equals the batch operator row-for-row, including the
    tied-timestamp rule: an event arriving in a LATER batch with
    ``t == state.t`` still folds against the stored pre-timestamp
    state.  Events STRICTLY OLDER than the state's last timestamp
    cannot be folded retroactively (the DP keeps no deeper history) —
    they are dropped and COUNTED, not silently absorbed: the emitted
    ``late_dropped`` is the per-user running count, and the honest
    deployment pairs this with a watermark sized so late data stays
    rare.  Integer microsecond arithmetic end-to-end — nothing to
    drift between the streaming and batch answers.

    STATE LIFETIME: by default state lives forever (NoTimeout) — fine
    for bounded key spaces, a monotone leak for unbounded user ids
    (source watermarks do NOT evict applyInPandasWithState state).
    Set ``state_ttl_minutes`` to expire users idle that long via a
    processing-time timeout: the expired key's state is REMOVED, so a
    user returning later restarts from an empty funnel and pre-expiry
    events re-count — the standard engagement-window semantics, stated
    here rather than discovered in production."""
    from ..operators import funnel_fold_py, funnel_validate

    gap_us = funnel_validate(steps, max_gap_seconds)
    n = len(steps)
    sentinel = -(1 << 62)

    state_schema = StructType(
        [
            StructField("committed", ArrayType(LongType())),
            StructField("current", ArrayType(LongType())),
            StructField("t", LongType()),
            StructField("late", LongType()),
        ]
    )
    # the user column keeps the CALLER'S name and type — hardcoding
    # long broke every string-keyed product stream (r12 review finding)
    out_schema = StructType(
        [
            StructField(user_col, stream.schema[user_col].dataType),
            StructField("steps_completed", LongType()),
            StructField("late_dropped", LongType()),
        ]
    )

    prepared = stream.select(
        F.col(user_col),
        F.unix_micros(F.col(ts_col)).alias("__t"),
        F.col(type_col).alias("__y"),
    ).where(
        F.col(user_col).isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__y").isNotNull()
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60_000

    def fn(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            committed, current, last_t, late = state.get
            fold_state = (list(committed), list(current), last_t)
        else:
            fold_state = ([sentinel] * n, [sentinel] * n, sentinel)
            late = 0
        events = []
        for pdf in pdfs:
            for t, y in zip(pdf["__t"].to_numpy(), pdf["__y"]):
                t = int(t)
                if t < fold_state[2]:
                    late += 1
                else:
                    events.append((t, y))
        fold_state, completed = funnel_fold_py(events, steps, gap_us, fold_state)
        state.update(
            (list(fold_state[0]), list(fold_state[1]), fold_state[2], late)
        )
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "steps_completed": [completed],
                "late_dropped": [late],
            }
        )

    return prepared.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_stream_to_sink(result: DataFrame, sink, checkpoint_dir: str) -> None:
    """Run a streaming DataFrame to completion (availableNow) into a
    batch sink via foreachBatch, with a durable checkpoint."""
    q = (
        result.writeStream.foreachBatch(foreach_batch_writer(sink))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ------------------------------------------------------- stream-stream ----


def stream_stream_click_attribution(stream: DataFrame) -> DataFrame:
    """Stream-stream interval join: every purchase matched to the same
    user's clicks in the preceding hour (click-attribution shape).

    Both sides carry watermarks and the join condition bounds event-time
    distance — that pair is what lets Spark age out join state at scale
    (state holds only the watermark-deep tail of each stream, not the
    whole history)."""
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 day")
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "c_ts",
    )


def stream_sketch_rollup_writer(
    store_path: str,
    keys: "list[str]",
    distinct_col: str,
    stream_id: str,
    lg_config_k: int = 12,
) -> "callable":
    """foreachBatch hook: maintain a persisted
    :func:`~..operators.write_sketch_rollup` store from a stream —
    each micro-batch is sketched at the store's grain and appended
    (:func:`~..operators.append_sketch_rollup`), so the distinct-count
    cube is continuously ingestible and every
    :func:`~..operators.sketch_slice` stays answerable without ever
    scanning raw events.

    Exactly-once ledger: a retried batch (foreachBatch is
    at-least-once) would re-append its cells — harmless to every
    DISTINCT estimate (sketch union is idempotent for re-ingested
    data) but inflating the additive ``n_rows``.  A per-batch marker
    file (atomic create under ``<store>/_batches/``) makes the append
    idempotent: marker present → skip.  Markers are keyed by
    ``(stream_id, batch_id)`` — batch ids alone restart at 0 whenever
    a checkpoint is reset or a second query feeds the same store, and
    bare-id markers would then silently SKIP real data (r13 review
    finding).  The contract: one ``stream_id`` per checkpoint lineage;
    new checkpoint → new ``stream_id``.

    Honest windows, both documented rather than hidden: (a) a crash
    BETWEEN append and marker leaves one at-least-once batch —
    ``n_rows`` over-counts it, distinct estimates stay exact; (b) a
    full :func:`~..operators.write_sketch_rollup` REBUILD swaps in a
    store without the ledger — restart the stream from a fresh
    checkpoint (with a fresh ``stream_id``) after a rebuild, or a
    replayed batch whose data the rebuild already included will
    re-append.  The ledger grows one tiny file per batch; prune old
    markers with :func:`prune_sketch_ledger` when compacting (only
    ids that can still replay — the last uncommitted few — are
    load-bearing).

    The store must exist (build it with a backfill
    ``write_sketch_rollup`` first) — checked up front, and grain
    validation runs on every append.

    Filesystem contract: marker and meta I/O go through Hadoop's
    FileSystem (:class:`~..store_fs.StoreFS`), so the store may live
    on any scheme Spark can write.  The marker create is atomic on
    file:// and HDFS-like filesystems (the exactly-once primitive);
    on S3-like stores it is last-writer-wins — there the ledger
    degrades to at-least-once under a concurrent duplicate writer,
    same caveat class as the store swap (documented in
    :mod:`~..store_fs`)."""
    from ..operators import append_sketch_rollup

    return _stream_store_writer(
        store_path,
        stream_id,
        "write_sketch_rollup",
        lambda df: append_sketch_rollup(
            df, store_path, keys, distinct_col, lg_config_k
        ),
    )


def stream_qsketch_rollup_writer(
    store_path: str,
    keys: "list[str]",
    value_col: str,
    stream_id: str,
    alpha: float = 0.01,
) -> "callable":
    """foreachBatch hook for the QUANTILE cube — the
    :func:`stream_sketch_rollup_writer` twin on the same batch ledger,
    and the ledger is LOAD-BEARING here, not just n_rows hygiene:
    quantile buckets are plain integer counts, so a replayed batch
    would double-count every affected bucket and silently weight the
    decoded percentiles toward the replayed values
    (:func:`~..operators.append_qsketch_rollup`'s documented
    disjointness requirement — this writer is how a stream satisfies
    it).  Same marker semantics, honest windows, stream_id contract,
    and filesystem notes as the HLL twin; window (a) differs in
    consequence — a crash between append and marker leaves one
    at-least-once batch whose values are double-weighted until a
    rebuild, which is exactly why the marker is written immediately
    after the append."""
    from ..operators import append_qsketch_rollup

    return _stream_store_writer(
        store_path,
        stream_id,
        "write_qsketch_rollup",
        lambda df: append_qsketch_rollup(df, store_path, keys, value_col, alpha),
    )


def stream_kmv_rollup_writer(
    store_path: str,
    keys: "list[str]",
    member_col: str,
    stream_id: str,
    k: int = 256,
) -> "callable":
    """foreachBatch hook for the KMV set-operation cube — third kind
    on the shared batch ledger.  Replay consequences MATCH the HLL
    twin exactly: the sketch is fully estimate-neutral under
    re-appended data (min-k union absorbs duplicate hashes), so only
    the additive ``n_rows`` needs the ledger — no rebuild-after-crash
    handling beyond the HLL twin's.  Same marker semantics, honest
    windows, stream_id contract, and filesystem notes as the other
    two."""
    from ..operators import append_kmv_rollup

    return _stream_store_writer(
        store_path,
        stream_id,
        "write_kmv_rollup",
        lambda df: append_kmv_rollup(df, store_path, keys, member_col, k),
    )


def _stream_store_writer(
    store_path: str, stream_id: str, backfill_fn_name: str, append_fn
) -> "callable":
    """The shared ledger machinery behind the store stream writers:
    validate the stream_id, skip batches whose (stream_id, batch_id)
    marker is present, append via ``append_fn(df)``, then create the
    marker.  The append path itself performs the healing meta load and
    the grain validation (a torn store-level swap heals there — a bare
    exists() probe wedged the stream, r14 review finding), so this
    layer loads NOTHING of its own: one meta read per batch, not two
    (r14 review finding — the write-level pre-load doubled the remote
    meta I/O on every micro-batch).  A missing store surfaces as the
    append's FileNotFoundError, translated to the friendly ValueError;
    the ledger dir is only created AFTER a successful append, so a
    misconfigured path leaves no junk half-store behind."""
    if "/" in stream_id or not stream_id:
        raise ValueError(f"stream_id must be a non-empty flat name: {stream_id!r}")

    from ..operators import _store_fs

    def write(df, batch_id) -> None:
        fs = _store_fs(df.sparkSession, store_path)
        ledger = f"{store_path}/_batches"
        marker = f"{ledger}/{stream_id}_batch_{batch_id}"
        if fs.exists(marker):
            return
        try:
            append_fn(df)
        except FileNotFoundError:
            # Only a truly ABSENT store earns the friendly build-it
            # message: an unrelated transient FileNotFoundError (e.g.
            # a cell part file removed by a concurrent compaction
            # mid-append) must surface as itself, or the real cause is
            # hidden behind a wrong diagnosis (r15 advice finding).
            from ..operators import _sketch_meta_path

            if fs.exists(_sketch_meta_path(store_path)):
                raise
            raise ValueError(
                f"no sketch store at {store_path!r} — build it with "
                f"{backfill_fn_name} (a backfill batch) before streaming "
                "into it"
            )
        fs.mkdirs(ledger)
        fs.create_marker(marker)

    return write


def prune_sketch_ledger(
    store_path: str, stream_id: str, keep_last: int = 100, spark=None
) -> int:
    """Drop a stream's oldest batch markers, keeping the newest
    ``keep_last`` ids — only batches that can still be replayed (the
    tail behind the checkpoint commit) are load-bearing, so run this
    at compaction time to stop the one-file-per-batch ledger growing
    without bound.  Returns the number of markers removed.  Marker
    I/O goes through Hadoop's FileSystem on the active session's JVM
    (pass ``spark`` explicitly if no session is active)."""
    from pyspark.sql import SparkSession

    from ..operators import _store_fs

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            "prune_sketch_ledger needs a SparkSession (none active) — "
            "pass spark= explicitly"
        )
    fs = _store_fs(spark, store_path)
    ledger = f"{store_path}/_batches"
    prefix = f"{stream_id}_batch_"
    ids = []
    for name in fs.list_names(ledger):
        if name.startswith(prefix):
            try:
                ids.append(int(name[len(prefix):]))
            except ValueError:
                continue
    ids.sort()
    drop = ids[:-keep_last] if keep_last > 0 else ids
    for i in drop:
        fs.delete(f"{ledger}/{prefix}{i}")
    return len(drop)
