"""Test-table catalog: load the driver-generated TPC-H-ish parquet tables.

Replaces the reference's hardcoded single-file scan
(``/root/reference/src/main.rs:52`` — ``File::open("data/flights.parquet")``)
with a declarative multi-table catalog.  ``spark.read.parquet`` reads the
footer schema (the analogue of ``main.rs:56`` ``get_schema()``) and gives
Catalyst a prunable, filter-pushable scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Split compensation for under-partitioned scans feeding
    COMPUTE-BOUND stages — opt-in per operator, never automatic.

    The test fixtures are ONE parquet file with ONE row group per table,
    so Spark's split planning yields a single input partition and any
    heavy per-row map stage (shingling, signature aggregation, Arrow
    decode) runs on one core regardless of cluster size.  A production
    100 TB table is thousands of files/row groups and never hits this;
    the repartition below is the local-scale analogue of the split
    planning a real layout provides, and it no-ops whenever the scan
    already carries at least cluster parallelism.

    Deliberately NOT applied in :func:`load_table`: for scan-bound
    queries (aggregate-after-filter, TakeOrdered top-k, set ops) a
    blanket repartition is a full extra shuffle of the fact table — and
    for Python-UDF stages it multiplies worker startup — which measured
    1.5–19× slower across the registry.  Only operators whose per-row
    compute dominates the scan call this.

    The under-split probe is ``inputFiles()`` — analysis-only, so
    building the operator never converts the plan to an RDD (the old
    ``df.rdd.getNumPartitions()`` probe forced a full logical→RDD
    conversion per call, surprise work on very wide plans).  File count
    lower-bounds the scan's split count, so a many-file production
    table (≥ target files) is guaranteed untouched; a non-scan input
    (no file lineage — already shuffled, so it carries its shuffle's
    parallelism) is left as-is."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < target:
        return df.repartition(target)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ ``TIMESTAMP`` regardless of
    how the fixture encoded it.  The generator has shipped two physical
    types across rounds, so branch on the *actual* footer schema:

    - ``TIMESTAMP(NANOS)`` parquet (rejected by Spark's vectorized
      reader) read as raw int64 via ``legacy.parquet.nanosAsLong``:
      truncate to microseconds with *integer* division — epoch nanos
      (~1.7e18) exceed 2^53, so float division would corrupt the value.
      Truncation (not rounding) matches DuckDB's ns→µs cast, keeping
      the oracle comparable.
    - ``timestamp[us]`` with ``isAdjustedToUTC=false`` → Spark infers
      ``TIMESTAMP_NTZ``: cast to ``TIMESTAMP`` (the session TZ is
      pinned to UTC in session.py, so the wall-clock is preserved and
      epoch arithmetic like ``unix_micros`` matches DuckDB's naive
      reading of the same file).
    - already ``TIMESTAMP``: pass through.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# The logical schema every query (and every oracle) is written against.
# The fixture *generator* has drifted physical types between rounds
# (round 4 lost its bench to events.ts flipping to TIMESTAMP(NANOS));
# load_table normalizes any table's footer drift to THIS shape, or
# fails loudly naming the column — never silently ships a changed type
# into 50 downstream queries.
CATALOG_SCHEMA: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {
        "n_nationkey": "int", "n_name": "string", "n_regionkey": "int",
    },
    "customer": {
        "c_custkey": "bigint", "c_name": "string", "c_nationkey": "int",
        "c_acctbal": "double", "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint", "s_name": "string", "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint", "p_name": "string", "p_brand": "string",
        "p_type": "string", "p_size": "int", "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint", "o_custkey": "bigint",
        "o_orderstatus": "string", "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz", "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "int", "l_quantity": "double",
        "l_extendedprice": "double", "l_discount": "double",
        "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double", "props": "string",
    },
    "documents": {
        "doc_id": "bigint", "text": "string", "lang": "string",
        "source": "string", "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint", "embedding": "array<float>", "label": "int",
    },
}

_TIME_TARGETS = ("timestamp", "timestamp_ntz")


def _is_nanos_column(path: str, col: str) -> bool:
    """True iff the parquet footer annotates ``col`` as timestamp[ns].

    A Spark ``long`` under ``legacy.parquet.nanosAsLong`` is ambiguous —
    it could be epoch nanos (a TIMESTAMP(NANOS) annotation) or a plain
    int64 the generator happens to store epochs in.  Only the footer's
    logical annotation can tell them apart, so drift handling consults
    it instead of guessing a unit."""
    import pyarrow.parquet as pq

    field = pq.read_schema(path).field(col)
    t = field.type
    return str(t).startswith("timestamp[ns")


def normalize_to_catalog(df: DataFrame, name: str, path: str) -> DataFrame:
    """Coerce a fixture scan to :data:`CATALOG_SCHEMA` regardless of the
    physical types the generator shipped this round.

    Handled drifts: nanos-as-long → µs-truncated timestamp (integer
    ``div`` — epoch nanos exceed 2^53, float math would corrupt them;
    truncation matches DuckDB's ns→µs cast), TZ↔NTZ (session TZ is
    pinned UTC so wall-clock is preserved), date → NTZ midnight, and
    numeric width/precision flips via plain casts.  An unrecognized
    combination raises naming the column — the round-4 failure mode
    (silent type change, mysterious downstream breakage) becomes a
    one-line diagnosis.  Extra fixture columns pass through untouched;
    a MISSING catalog column raises."""
    want = CATALOG_SCHEMA[name]
    have = {f.name: f.dataType for f in df.schema.fields}
    missing = set(want) - set(have)
    if missing:
        raise ValueError(
            f"fixture {path} dropped catalog column(s) {sorted(missing)}"
        )
    cols = []
    for f in df.schema.fields:
        tgt = want.get(f.name)
        cur = f.dataType.simpleString()
        if tgt is None or cur == tgt:
            cols.append(F.col(f.name))
            continue
        if isinstance(f.dataType, T.LongType) and tgt in _TIME_TARGETS:
            if not _is_nanos_column(path, f.name):
                raise ValueError(
                    f"fixture {path} column {f.name!r}: int64 without a "
                    f"timestamp[ns] footer annotation cannot be safely "
                    f"normalized to {tgt} (unknown epoch unit)"
                )
            c = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            cols.append(c.cast(tgt).alias(f.name))
            continue
        compatible_time = (
            isinstance(
                f.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
            )
            and tgt in _TIME_TARGETS
        )
        compatible_num = isinstance(
            f.dataType,
            (T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
             T.DecimalType, T.ShortType),
        ) and tgt in ("int", "bigint", "float", "double")
        compatible_arr = isinstance(f.dataType, T.ArrayType) and tgt in (
            "array<float>", "array<double>",
        )
        if compatible_time or compatible_num or compatible_arr:
            cols.append(F.col(f.name).cast(tgt).alias(f.name))
            continue
        raise ValueError(
            f"fixture {path} column {f.name!r} drifted to {cur}; no "
            f"normalization rule to catalog type {tgt} — add one to "
            f"tables.normalize_to_catalog"
        )
    return df.select(*cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    # Legacy conf is a no-op for non-nanos files; set it so a NANOS
    # column in ANY table reads as long (which normalize_to_catalog
    # then converts) instead of failing the vectorized reader.  It is
    # set on the caller's session and left set: the scan reads it when
    # the returned frame runs, and a caller's own session (not built
    # by get_spark) has no other source for it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_to_catalog(spark.read.parquet(path), name, path)


class Catalog:
    """Lazy attribute-style access to the star-schema tables.

    >>> t = Catalog(spark, sf_dir)
    >>> t.lineitem.join(t.orders, ...)
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return load_table(self._spark, self._sf_dir, name)
