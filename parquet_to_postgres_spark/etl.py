"""Core ETL: Parquet/CSV/JSON → typed DDL → batched JDBC (or Parquet) sink.

This module is the Spark-first rewrite of the *entire* reference program
(``/root/reference/src/main.rs:49-102``): open Parquet, derive a Postgres
``CREATE TABLE`` from the footer schema, stream batches into Postgres with
bounded concurrency.  Differences are deliberate upgrades:

- Type map (:data:`_PG_TYPES`) fixes the reference's collapse-to-TEXT
  fallback (``main.rs:113``) and its DDL/value mismatches (Int16 → TEXT in
  DDL at ``main.rs:113`` but i32 on the wire at ``main.rs:160-164``):
  SMALLINT/REAL/DOUBLE PRECISION/DATE/TIMESTAMP/NUMERIC/BYTEA/JSONB are
  mapped faithfully.
- NULL handling is correct by construction (the reference reads Arrow
  slots without an ``is_null`` check — ``main.rs:157`` et al.).
- The 1000-row batch loop + 10-permit semaphore (``main.rs:68,74``)
  becomes ``numPartitions`` (connection-level parallelism cap) +
  ``batchsize`` (rows per ``executeBatch``) on Spark's JDBC writer —
  bounded memory per executor instead of the reference's O(file) buffering.
- key-hash ``repartition`` ahead of the write keeps per-connection
  batches evenly sized at 100 TB (the principled version of the
  semaphore) without range partitioning's extra boundary-sampling pass.

No live Postgres is required for tests: the sink is pluggable and the
same pipeline writes Parquet.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Arrow/Spark type → Postgres DDL type.  Reference analogue:
# generate_create_table_sql, /root/reference/src/main.rs:104-118.
_PG_TYPES: dict[type, str] = {
    T.BooleanType: "BOOLEAN",
    T.ByteType: "SMALLINT",
    T.ShortType: "SMALLINT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.FloatType: "REAL",
    T.DoubleType: "DOUBLE PRECISION",
    T.StringType: "TEXT",
    T.BinaryType: "BYTEA",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
}


def pg_type(dt: T.DataType) -> str:
    """Map one Spark type to its Postgres column type."""
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # Nested data is serialized with to_json before the JDBC write
        # (the reference simply errors on these, main.rs:205-208).
        return "JSONB"
    try:
        return _PG_TYPES[type(dt)]
    except KeyError:
        raise TypeError(f"no Postgres mapping for Spark type {dt.simpleString()}")


def schema_to_pg_ddl(table: str, schema: T.StructType) -> str:
    """Emit ``CREATE TABLE IF NOT EXISTS`` for a Spark schema.

    Reference analogue: ``main.rs:104-118`` — but with correct temporal /
    numeric mappings and NOT NULL propagated from the schema.
    """
    cols = ",\n  ".join(
        f"{f.name} {pg_type(f.dataType)}" + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )
    return f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols}\n);"


def flatten_for_jdbc(df: DataFrame) -> DataFrame:
    """Serialize nested columns to JSON strings for relational sinks."""
    cols = [
        F.to_json(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


@dataclass
class JdbcSink:
    """Batched JDBC sink — ``main.rs:120-151`` as configuration.

    ``num_partitions`` caps concurrent connections (the semaphore at
    ``main.rs:68``); ``batchsize`` is rows per executeBatch (the 1000-row
    record batches at ``main.rs:74``), with no 65,535 bind-param cap.
    """

    url: str
    table: str
    mode: str = "append"
    num_partitions: int = 10
    batchsize: int = 10_000
    options: dict[str, str] = field(default_factory=dict)

    def jdbc_options(self) -> dict[str, str]:
        """The full option map handed to the JDBC writer — factored out so
        the configuration is unit-testable without a live database."""
        opts = {
            "url": self.url,
            "dbtable": self.table,
            "batchsize": str(self.batchsize),
            "numPartitions": str(self.num_partitions),
            "isolationLevel": "READ_COMMITTED",
        }
        opts.update(self.options)
        return opts

    def prepare(self, df: DataFrame) -> DataFrame:
        """Nested columns → JSON, then HASH-partition on the first column
        so partition count == connection cap and batch memory stays
        bounded at any scale.  (r15: was ``repartitionByRange``, which
        pays a separate boundary-sampling pass over the input per write
        — an extra job — while a bulk INSERT into a fresh table gains
        nothing from range-sorted slices.  Hash on a real key column
        stays deterministic under task retry — guide §2.5, never
        round-robin a sink input.)"""
        df = flatten_for_jdbc(df)
        return df.repartition(self.num_partitions, df.columns[0])

    def write(self, df: DataFrame) -> None:
        writer = self.prepare(df).write.format("jdbc").mode(self.mode)
        for k, v in self.jdbc_options().items():
            writer = writer.option(k, v)
        writer.save()


@dataclass
class ParquetSink:
    """Default test sink: same pipeline, Parquet out (no DB needed).

    ``partition_by`` writes a hive-layout table (``col=value/`` dirs).
    That layout is the 100 TB read-side contract: a filter on a
    partition column prunes whole directories at *planning* time, so a
    one-day query over a years-long events table scans one directory
    instead of the full table.  Choose low-cardinality, always-filtered
    columns (date, source, language) — high-cardinality partitioning
    makes millions of tiny files and kills the driver's split planning.
    """

    path: str
    mode: str = "overwrite"
    partition_by: tuple[str, ...] = ()

    def write(self, df: DataFrame) -> None:
        writer = df.write.mode(self.mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(self.path)


@dataclass
class IdempotentParquetSink:
    """Exactly-once streaming sink: every micro-batch lands in its own
    ``batch_id=<id>/`` hive partition via DYNAMIC partition overwrite,
    so a RETRIED micro-batch (failure after a partial/complete write,
    before the checkpoint commit) replaces its own partition instead of
    double-appending — the batch_id-keyed idempotent write promised by
    the foreachBatch contract (streaming/ops.py).

    Why this shape at 100 TB: foreachBatch gives at-least-once delivery;
    exactly-once end-to-end needs the sink write to be a deterministic
    function of ``batch_id``.  Overwriting the single ``batch_id=N``
    directory is atomic-enough per batch (the parquet committer writes
    to a temp dir and renames), touches ONLY that batch's files (dynamic
    mode leaves all other partitions alone), and needs no transaction
    log or table format.  Readers take ``spark.read.parquet(path)`` and
    get each batch exactly once, however many times it was retried.

    ``extra_partition_by`` appends business partition columns UNDER the
    batch key (batch_id=…/col=…/) when downstream reads filter on them.
    """

    path: str
    extra_partition_by: tuple[str, ...] = ()

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", *self.extra_partition_by)
            .parquet(self.path)
        )


def _driver_jdbc_conn(spark: SparkSession, url: str, driver: str | None):
    """Driver-side ``java.sql`` connection through the Py4J gateway.

    Used ONLY for the tiny transactional publish/ledger statements of
    :class:`ExactlyOnceJdbcSink` — bulk rows never flow through it (they
    go executor-side via Spark's JDBC writer).  Classic driver only; a
    Spark Connect client has no gateway, and a Connect deployment would
    run the same three statements through any thin DB client instead.
    """
    jvm = spark._sc._jvm  # type: ignore[attr-defined]
    if driver:
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def _jdbc_table_exists(conn, table: str) -> bool:
    """Dialect-tolerant existence check: unquoted DDL identifiers are
    folded UPPER by Derby and lower by Postgres, so probe all three.

    getTables treats its pattern as a LIKE where a bare ``_`` (present
    in most table names) matches ANY character, so a probe for
    ``orders_x`` would report a lookalike ``ordersax`` as existing and
    skip the CREATE.  Search-string escaping is NOT the fix — embedded
    Derby reports an empty escape and matches a backslash literally —
    so the pattern is left raw (it can only OVER-match) and every
    returned TABLE_NAME is compared for exact equality instead."""
    md = conn.getMetaData()
    for cand in dict.fromkeys((table, table.upper(), table.lower())):
        rs = md.getTables(None, None, cand, None)
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") == cand:
                    return True
        finally:
            rs.close()
    return False


@dataclass
class ExactlyOnceJdbcSink:
    """Exactly-once streaming → relational sink: stage + atomic publish.

    The relational twin of :class:`IdempotentParquetSink`, closing the
    reference's loop for CONTINUOUS ingest: the reference loads parquet
    into Postgres once (``main.rs:49-102``); under ``foreachBatch`` with
    a plain :class:`JdbcSink` a micro-batch retried after a successful
    insert but before the checkpoint commit double-appends
    (at-least-once).  This sink makes the visible write a deterministic
    function of ``batch_id``:

    1. **Ledger check** — if ``<table>__epochs`` already holds this
       ``batch_id``, the batch is a replay: skip entirely.
    2. **Stage** — the rows go through the normal executor-parallel JDBC
       writer (``numPartitions`` connections, ``batchsize`` per
       executeBatch) into ``<table>__stage``, mode=overwrite, so a
       half-written stage from a crashed attempt is simply overwritten.
    3. **Publish** — ONE driver-side transaction:
       ``INSERT INTO target SELECT … FROM stage;
       INSERT INTO ledger VALUES (batch_id); COMMIT``.  A crash before
       the commit rolls back both inserts; after it, step 1 blocks the
       replay.  Rows become visible exactly once.

    At 100 TB the asymmetry is the point: bulk bytes move in parallel to
    an invisible staging table; atomicity is needed only for the
    bounded, row-count-free publish statement pair.  Postgres executes
    ``INSERT … SELECT`` server-side (no second network hop); the target
    and ledger are auto-created from the stage on first batch
    (``CREATE TABLE … AS SELECT … WITH NO DATA`` — valid Derby AND
    Postgres), and the insert names its columns explicitly so schema
    column order can never silently misalign between batches.
    """

    url: str
    table: str
    num_partitions: int = 10
    batchsize: int = 10_000
    options: dict[str, str] = field(default_factory=dict)

    @property
    def stage_table(self) -> str:
        return f"{self.table}__stage"

    @property
    def ledger_table(self) -> str:
        return f"{self.table}__epochs"

    def _stage_sink(self) -> JdbcSink:
        return JdbcSink(
            url=self.url,
            table=self.stage_table,
            mode="overwrite",
            num_partitions=self.num_partitions,
            batchsize=self.batchsize,
            options=dict(self.options),
        )

    def _connect(self, spark: SparkSession):
        return _driver_jdbc_conn(spark, self.url, self.options.get("driver"))

    def is_committed(self, spark: SparkSession, batch_id: int) -> bool:
        conn = self._connect(spark)
        try:
            if not _jdbc_table_exists(conn, self.ledger_table):
                return False
            st = conn.createStatement()
            rs = st.executeQuery(
                f"SELECT 1 FROM {self.ledger_table} "
                f"WHERE batch_id = {int(batch_id)}"
            )
            try:
                return bool(rs.next())
            finally:
                rs.close()
                st.close()
        finally:
            conn.close()

    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Returns True if the batch was published, False on replay-skip."""
        spark = df.sparkSession
        if self.is_committed(spark, batch_id):
            return False
        stage = self._stage_sink()
        stage.write(df)  # parallel bulk path; overwrite ⇒ retry-safe
        # Spark's JDBC writer quotes column identifiers in its CREATE
        # TABLE, so the publish references them quoted to match.
        cols = ", ".join(f'"{c}"' for c in flatten_for_jdbc(df).columns)
        conn = self._connect(spark)
        try:
            st = conn.createStatement()
            if not _jdbc_table_exists(conn, self.ledger_table):
                st.executeUpdate(
                    f"CREATE TABLE {self.ledger_table} "
                    "(batch_id BIGINT PRIMARY KEY)"
                )
            if not _jdbc_table_exists(conn, self.table):
                st.executeUpdate(
                    f"CREATE TABLE {self.table} AS "
                    f"SELECT {cols} FROM {stage.table} WITH NO DATA"
                )
            conn.setAutoCommit(False)
            try:
                st.executeUpdate(
                    f"INSERT INTO {self.table} ({cols}) "
                    f"SELECT {cols} FROM {stage.table}"
                )
                st.executeUpdate(
                    f"INSERT INTO {self.ledger_table} (batch_id) "
                    f"VALUES ({int(batch_id)})"
                )
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                st.close()
        finally:
            conn.close()
        return True


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    sort_within_by: list[str] | None = None,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-files compaction: rewrite a parquet table into files of
    ~``target_file_bytes`` each; returns the file count written.

    Streaming sinks and frequent incremental loads accumulate thousands
    of tiny files; at 100 TB that breaks split planning (per-file open
    cost dominates) and floods the driver with file metadata.  File
    count is sized from the table's actual on-disk bytes via a
    RECURSIVE listing (hive-partitioned layouts nest files under
    ``col=value/`` dirs); an optional ``sort_within_by`` clusters rows
    inside each file so min/max row-group statistics become selective
    (zone-map pruning) for reads filtered on those columns.

    ``partition_by`` preserves (or introduces) a hive partition layout
    on the rewrite — pass the table's partition columns when compacting
    a partitioned table, otherwise the layout is flattened.  The
    repartition then clusters on the partition columns so each output
    task writes whole partitions instead of a file per (task,
    partition) pair."""
    import math

    df = spark.read.parquet(path)
    # On-disk size via the binaryFile source with content pruned: the
    # scan reads FILE STATUS only (length/path), never the bytes — a
    # distributed listing that works on any scheme (local/S3/HDFS) and
    # through Spark Connect, unlike the former private `_jvm` Hadoop-FS
    # walk.  recursiveFileLookup covers hive-partitioned nesting.
    total = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("length")
        .agg(F.sum("length"))
        .collect()[0][0]
        or 0
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    if partition_by:
        df = df.repartition(n_files, *[F.col(c) for c in partition_by])
    else:
        df = df.repartition(n_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*[F.col(c) for c in sort_within_by])
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    out = spark.read.parquet(out_path)
    return len([f for f in out.inputFiles() if f.endswith(".parquet")])


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """Keep-latest merge: rows from ``updates`` replace target rows with
    the same key iff their ``version_col`` is newer; unmatched rows pass
    through; ties prefer the update.

    This is the CDC-apply / SCD-type-1 shape, expressed as one
    union + one per-key reduction (max_by over every column at once) —
    a single shuffle on the merge key, no join.  At scale, pair it with
    a partitioned target (ParquetSink.partition_by) and rewrite only the
    partitions the updates touch (read with a partition filter, merge,
    overwrite those directories)."""
    if target.columns != updates.columns:
        raise ValueError(
            f"schema mismatch: {target.columns} vs {updates.columns}"
        )
    payload = [c for c in target.columns if c not in keys]
    # is_update breaks version ties in favor of the incoming row
    tagged = target.withColumn("__upd", F.lit(0)).unionByName(
        updates.withColumn("__upd", F.lit(1))
    )
    struct_cols = [version_col, "__upd", *[c for c in payload if c != version_col]]
    picked = tagged.groupBy(*keys).agg(
        F.max(F.struct(*struct_cols)).alias("__w")
    )
    return picked.select(
        *keys, *[F.col(f"__w.{c}").alias(c) for c in payload]
    ).select(*target.columns)


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    keys: list[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply a batch of timestamped
    updates to a versioned history table; every change becomes a new
    ``[valid_from, valid_to)`` interval, ``valid_to IS NULL`` = current.

    ``history`` columns: keys + payload + valid_from + valid_to.
    ``updates`` columns: keys + payload + ``ts_col``.

    Plan shape (the point at scale): one key-partitioned window over the
    UPDATES (chains same-key updates: each row's valid_to = next row's
    ts), one aggregate of updates down to one min-ts row per key, one
    key equi-join against history to close the affected open rows.
    History rows never pass through a window; the already-closed tail —
    the bulk of a years-old dimension — is untouched pass-through, so
    pair this with a partitioned/bucketed history table and only the
    open slice pays the join."""
    from pyspark.sql import Window

    payload = [
        c for c in updates.columns if c not in keys and c != ts_col
    ]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    new_versions = updates.select(
        *keys,
        *payload,
        F.col(ts_col).alias(valid_from),
        F.lead(ts_col).over(w).alias(valid_to),
    )
    first_update = updates.groupBy(*keys).agg(
        F.min(ts_col).alias("__close_ts")
    )
    open_rows = history.where(F.col(valid_to).isNull())
    closed_rows = history.where(F.col(valid_to).isNotNull())
    newly_closed = (
        open_rows.join(first_update, keys, "left")
        .withColumn(
            valid_to, F.coalesce(F.col("__close_ts"), F.col(valid_to))
        )
        .drop("__close_ts")
    )
    return closed_rows.unionByName(newly_closed).unionByName(
        new_versions.select(*history.columns)
    )


# Above this much CSV/JSON input, silent schema inference is a bug, not
# a convenience: inference is a FULL extra pass over the data before the
# real job starts (2× the scan cost at 100 TB).  Production callers
# pass an explicit schema; the guard makes the inference pass visible at
# test scale (warning) and fatal at production scale (error).
INFER_GUARD_BYTES = 256 << 20


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    max_infer_bytes: int = INFER_GUARD_BYTES,
    **options: str,
) -> DataFrame:
    """Generalized source reader (reference reads only Parquet, main.rs:52).

    CSV/JSON without an explicit schema fall back to inference with a
    production guard: a ``UserWarning`` always (inference doubles the
    scan), and a hard error when the input exceeds ``max_infer_bytes``
    (set ``max_infer_bytes=0`` to disable the size check for
    deliberately schema-less exploration).

    Self-describing columnar/row formats need no guard: ``orc`` rides
    Spark's built-in datasource; ``avro`` loads through the pure-Python
    ``avro_ocf`` Data Source (the external ``spark-avro`` jar is not
    shipped here — see avro.py), registered on the session when it is
    not yet.  Its options are ``split_bytes`` and ``reader_schema`` (an
    Avro record schema, dict or JSON); ``schema=`` projects and casts
    after the load, and a requested column absent from the container
    raises.  The Avro path is posix-only: a path with a scheme other
    than ``file:`` raises."""
    if fmt == "avro":
        from . import avro as _avro

        if urlsplit(path).scheme not in ("", "file"):
            raise ValueError(
                f"read_source(avro): {path!r} is not a local path — the "
                "Avro OCF path is posix-only (plain or file: paths)"
            )
        unknown = sorted(set(options) - {"split_bytes", "reader_schema"})
        if unknown:
            raise ValueError(
                f"read_source(avro): options {unknown} unsupported by the "
                "OCF reader (only split_bytes and reader_schema)"
            )
        if isinstance(options.get("reader_schema"), dict):
            options["reader_schema"] = json.dumps(options["reader_schema"])
        _avro.register(spark)
        out = spark.read.format("avro_ocf").options(**options).load(path)
        if schema is None:
            return out
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        missing = [f.name for f in schema.fields if f.name not in out.columns]
        if missing:
            raise ValueError(
                f"read_source(avro): requested columns {missing} absent "
                "from the container schema"
            )
        return out.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        import warnings

        warnings.warn(
            f"read_source({fmt}): no schema given — Spark will infer one "
            "with a full extra pass over the input. Pass schema= in "
            "production.",
            UserWarning,
            stacklevel=2,
        )
        if max_infer_bytes:
            total = (
                spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(path)
                .select("length")
                .agg(F.sum("length"))
                .collect()[0][0]
                or 0
            )
            if total > max_infer_bytes:
                raise ValueError(
                    f"read_source({fmt}): {total >> 20} MiB of input with "
                    f"no explicit schema (guard: {max_infer_bytes >> 20} "
                    "MiB). Schema inference would rescan all of it — pass "
                    "schema=, or raise max_infer_bytes deliberately."
                )
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def etl(
    spark: SparkSession,
    source_path: str,
    sink: JdbcSink | ParquetSink,
    source_format: str = "parquet",
    schema: T.StructType | str | None = None,
) -> str:
    """The whole reference program as one function: read → DDL → sink.

    Returns the generated DDL (what ``main.rs:71-72`` executed) so callers
    can run it against their database before/instead of the write.
    """
    df = read_source(spark, source_path, source_format, schema)
    table = getattr(sink, "table", None) or "t"
    ddl = schema_to_pg_ddl(table, df.schema)
    sink.write(df)
    return ddl


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: int = 0,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> dict:
    """Materialize a training dataset as ``n_shards`` deterministic
    hive-layout shards plus a row-count manifest — the final "freeze
    the dataset" step of a corpus pipeline.

    Shard assignment is the repo's standard Knuth multiplicative hash of
    the stable id (the same family as ``operators.hash_sample`` /
    ``assign_splits``): reproducible across runs, engines, and cluster
    sizes, balanced in expectation, and decorrelated from every
    sampling/split salt already applied upstream.  ``salt`` re-deals the
    shards for a new epoch layout.  Each shard is a DIRECTORY
    (``shard=K/``) — the scale-correct contract: a 100 TB shard must be
    many files, a trainer's reader takes the directory, and planning-
    time partition pruning serves "give me shard 7" without listing the
    rest.  The manifest (``_manifest/`` — one JSON row per shard plus a
    ``__total__`` row) is written through Spark, so it works on any
    storage scheme; counts come from ONE aggregate over the shard
    column, not a per-shard pass.

    ``fmt`` selects the shard file format: ``parquet`` (default) or
    ``jsonl`` (newline-delimited JSON — what most training loaders
    stream; Spark's json writer IS jsonl).  The manifest and hive
    layout are identical either way.  JSON cannot represent every
    Spark type losslessly: ``binary`` columns are REJECTED up front
    (base64-in, null-out on read-back — silent data loss), and two
    restrictions are inherent to the format and documented rather than
    rejected: NaN/Infinity doubles round-trip as nulls, and timestamps
    keep only millisecond precision (sub-ms digits are truncated).
    Use ``fmt='parquet'`` when any of those matter — the manifest row
    counts match either way, so counts alone cannot certify fidelity.

    Returns ``{shard: row_count, ..., "__total__": n}``."""
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"fmt must be 'parquet' or 'jsonl', got {fmt!r}")
    if fmt == "jsonl":
        # Walk the DataType tree rather than substring-matching
        # simpleString(): the rendered string includes nested field
        # NAMES, so a struct field merely *named* "binary_flag" must
        # not trip the rejection.
        def _has_binary(dt):
            if isinstance(dt, T.BinaryType):
                return True
            if isinstance(dt, T.StructType):
                return any(_has_binary(f.dataType) for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return _has_binary(dt.elementType)
            if isinstance(dt, T.MapType):
                return _has_binary(dt.keyType) or _has_binary(dt.valueType)
            return False

        bad = [f.name for f in df.schema.fields if _has_binary(f.dataType)]
        if bad:
            raise ValueError(
                "fmt='jsonl' cannot round-trip binary columns "
                f"{bad}: Spark writes them base64 but reads them back "
                "as null against a binary schema. Drop/encode them or "
                "use fmt='parquet'."
            )
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if not 0 <= salt < 2**31:
        raise ValueError(f"salt must be in [0, 2^31), got {salt}")
    key = F.pmod(
        F.pmod(
            F.pmod(F.col(id_col), F.lit(2147483648)) + F.lit(salt),
            F.lit(2147483648),
        )
        * F.lit(2654435761),
        F.lit(4294967296),
    )
    sharded = df.withColumn("shard", F.pmod(key, F.lit(n_shards)).cast("int"))
    writer = sharded.write.mode(mode).partitionBy("shard")
    spark = df.sparkSession
    if fmt == "jsonl":
        writer.json(path)
        written = spark.read.schema(sharded.schema).json(
            path, pathGlobFilter="part-*"
        )
    else:
        writer.parquet(path)
        written = spark.read.parquet(path)
    counts = {
        int(r["shard"]): int(r["n"])
        for r in written.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    manifest = {**{str(k): v for k, v in sorted(counts.items())},
                "__total__": sum(counts.values())}
    rows = [
        {"shard": str(k), "rows": v}
        for k, v in sorted(counts.items())
    ] + [{"shard": "__total__", "rows": manifest["__total__"]}]
    # the manifest is recomputed over the FULL read-back, so it must
    # always overwrite — in append mode the data grows but a second
    # manifest generation must replace (not sit beside) the first
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").json(
        f"{path}/_manifest"
    )
    return manifest
