"""Avro OCF source/sink (E4 source-matrix completion, VERDICT r10
item 3): pure-Python container codec + the ``avro_ocf`` Data Source.

The external spark-avro jar is absent in this environment, so
parquet_to_postgres_spark/avro.py implements the public OCF spec
directly; these tests pin byte-level codec behavior (zigzag edges,
block forms, sync markers) AND the Spark-side round-trip through
``df.write.format("avro_ocf")`` and ``etl.read_source``.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_postgres_spark import avro as A
from parquet_to_postgres_spark.etl import read_source

from .conftest import SF_SMOKE

# r16 (VERDICT r15 item 6): avro codec/resolution matrix —
# excluded from the default run but for its `smoke` case; `pytest -m slow` runs it.
pytestmark = pytest.mark.slow


def _multiset(df):
    return sorted(map(tuple, df.collect()))


def _write(df, path, codec="deflate"):
    A.register(df.sparkSession)
    df.write.format("avro_ocf").mode("overwrite").option(
        "codec", codec
    ).save(path)


def _parts(path):
    return sorted(n for n in os.listdir(path) if n.endswith(".avro"))


def _write_container(path, schema, rows, codec="deflate", block_rows=4096):
    """One container written by the codec directly (block size under
    the test's control), as ``path/part-00000.avro``."""
    os.makedirs(path)
    with open(f"{path}/part-00000.avro", "wb") as fh:
        fh.write(
            A.encode_container(schema, rows, codec, block_rows=block_rows)
        )


@pytest.mark.smoke
def test_avro_roundtrip_lineitem_timestamps(spark):
    """lineitem (bigint/int/double/string/timestamp_ntz) survives a
    4-partition write + distributed read bit-exactly; the temporal
    columns are converted with exact integer timedelta arithmetic, so
    the values cannot drift with the session timezone."""
    src = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    with tempfile.TemporaryDirectory() as d:
        _write(src.repartition(4), f"{d}/avro")
        assert len(_parts(f"{d}/avro")) == 4
        back = read_source(spark, f"{d}/avro", "avro")
        assert back.schema == src.schema
        assert _multiset(back) == _multiset(src)


def test_avro_nested_types_and_null_codec(spark):
    df = spark.createDataFrame(
        [
            (1, [1.5, None], {"a": 2}, (7, "x"), None, b"\x00\xff"),
            (2, None, None, (8, None), True, None),
        ],
        "id long, arr array<double>, mp map<string,int>, "
        "st struct<a:int,b:string>, flag boolean, blob binary",
    )
    with tempfile.TemporaryDirectory() as d:
        for codec in ("null", "deflate"):
            _write(df, f"{d}/{codec}", codec=codec)
            back = read_source(spark, f"{d}/{codec}", "avro")
            assert back.schema == df.schema
            assert _multiset(back) == _multiset(df)


def test_avro_empty_frame_keeps_schema(spark):
    df = spark.range(0).select(
        F.col("id"), F.lit("x").alias("s"), F.current_timestamp().alias("ts")
    )
    with tempfile.TemporaryDirectory() as d:
        # no partitions: Spark still runs one write task over an empty
        # partition, which leaves one header-only container
        empty = df.where(F.lit(False))
        assert empty.rdd.getNumPartitions() == 0
        _write(empty, f"{d}/avro")
        (part,) = _parts(f"{d}/avro")
        with open(f"{d}/avro/{part}", "rb") as fh:
            assert A.decode_container(fh.read())[1] == []
        back = read_source(spark, f"{d}/avro", "avro")
        assert back.count() == 0
        assert [f.name for f in back.schema.fields] == ["id", "s", "ts"]


def test_avro_schema_projection_and_missing_column(spark):
    """read_source's contract: schema both PROJECTS and sets types
    (r11 review finding — it used to project by name only), and a
    requested column absent from the container raises."""
    src = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    with tempfile.TemporaryDirectory() as d:
        _write(src, f"{d}/avro")
        want = T.StructType(
            [
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.LongType()),
            ]
        )
        assert src.schema["n_regionkey"].dataType == T.IntegerType()
        back = read_source(spark, f"{d}/avro", "avro", schema=want)
        assert back.schema.simpleString() == (
            "struct<n_name:string,n_regionkey:bigint>"
        )
        assert _multiset(back) == _multiset(
            src.select("n_name", F.col("n_regionkey").cast("long"))
        )
        with pytest.raises(ValueError, match="absent"):
            read_source(
                spark,
                f"{d}/avro",
                "avro",
                schema="nope string",
            ).collect()


def test_avro_is_self_describing_no_infer_warning(spark, recwarn):
    """Guard parity with ORC/parquet: no schema-inference UserWarning
    (CSV/JSON without a schema do warn — pinned in test_etl.py)."""
    src = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    with tempfile.TemporaryDirectory() as d:
        _write(src, f"{d}/avro")
        read_source(spark, f"{d}/avro", "avro").collect()
    assert not [w for w in recwarn if issubclass(w.category, UserWarning)]


def test_avro_refusals(spark):
    with pytest.raises(ValueError, match="unsupported Spark type"):
        A.spark_to_avro_schema(
            T.StructType(
                [T.StructField("i", T.YearMonthIntervalType())]
            )
        )
    with pytest.raises(ValueError, match="nested timestamp"):
        A.spark_to_avro_schema(
            T.StructType(
                [
                    T.StructField(
                        "s",
                        T.StructType(
                            [T.StructField("ts", T.TimestampType())]
                        ),
                    )
                ]
            )
        )
    with pytest.raises(ValueError, match="string keys"):
        A.spark_to_avro_schema(
            T.StructType(
                [T.StructField("m", T.MapType(T.IntegerType(), T.LongType()))]
            )
        )
    with pytest.raises(ValueError, match="only \\[null, T\\] unions"):
        A.avro_to_spark_schema(
            {
                "type": "record",
                "name": "r",
                "fields": [{"name": "u", "type": ["int", "string"]}],
            }
        )
    with pytest.raises(ValueError, match="not an Avro"):
        A.parse_header(b"PAR1notavro" * 4)
    # the Avro path opens files with open(): any scheme but file: refuses
    # before Spark touches the path
    for url in ("hdfs://nn:8020/data/avro", "s3a://bucket/avro"):
        with pytest.raises(ValueError, match="posix-only"):
            read_source(spark, url, "avro")


def test_avro_split_bytes_must_be_positive(spark):
    """split_bytes below 1 refuses up front: 0 would read whole-file
    silently, and a negative step plans no byte ranges (an empty read)."""
    for bad in ("0", "-1"):
        with pytest.raises(ValueError, match="must be positive"):
            A._OCFReader({"path": "unused", "split_bytes": bad}, {}, False)
    with pytest.raises(ValueError, match="invalid literal"):
        A._OCFReader({"path": "unused", "split_bytes": "big"}, {}, False)
    with tempfile.TemporaryDirectory() as d:
        _write(spark.range(10), f"{d}/avro")
        with pytest.raises(Exception, match="must be positive"):
            read_source(spark, f"{d}/avro", "avro", split_bytes="0").collect()


def test_codec_zigzag_edges_and_block_forms():
    """Byte-level pins: Long.MIN/MAX survive the varint, and the
    negative-count (block-size-prefixed) array/map form decodes — the
    form OTHER writers emit that ours doesn't."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "lo", "type": "long"},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
        ],
    }
    rows = [
        (-(2**63), [1, 2, 3]),
        (2**63 - 1, []),
        (0, [-1]),
    ]
    buf = A.encode_container(schema, rows, codec="deflate", block_rows=2)
    got_schema, got = A.decode_container(buf)
    assert got_schema == schema
    assert [(r["lo"], r["arr"]) for r in got] == rows

    # hand-build the negative-count array form: -3 count, byte size, items
    out = bytearray()
    A._write_long(out, -3)
    items = bytearray()
    for v in (7, 8, 9):
        A._write_long(items, v)
    A._write_long(out, len(items))
    out += items
    A._write_long(out, 0)
    dec = A._decoder({"type": "array", "items": "int"})
    assert dec(A._Reader(bytes(out))) == [7, 8, 9]


def test_codec_sync_marker_mismatch_detected():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "int"}],
    }
    buf = bytearray(A.encode_container(schema, [(1,)], codec="null"))
    buf[-1] ^= 0xFF  # corrupt the trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        A.decode_container(bytes(buf))
    # a container cut inside a block header refuses instead of dropping
    # the block: 200 rows make a two-byte count varint, cut after byte 1
    full = A.encode_container(schema, [(1,)] * 200, codec="null")
    data_off = A.parse_header(full)[3]
    with pytest.raises(ValueError, match="truncated block header"):
        A.decode_container(full[: data_off + 1])


def test_avro_nested_logical_temporal_refused():
    """r11 review finding: an externally-written container with a
    NESTED temporal logical type must refuse, not decode the field as
    a plausible-but-wrong raw long (the temporal conversion is
    top-level only — same honest-refusal contract as the write side)."""
    bad = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "s",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {
                            "name": "ts",
                            "type": {
                                "type": "long",
                                "logicalType": "timestamp-micros",
                            },
                        }
                    ],
                },
            }
        ],
    }
    with pytest.raises(ValueError, match="nested 'timestamp-micros'"):
        A.avro_to_spark_schema(bad)
    # top-level temporal logicals map to Spark temporal types
    ok = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    assert A.avro_to_spark_schema(ok)["ts"].dataType == T.TimestampType()


def test_avro_header_prefix_and_giant_header_fallback(spark):
    """r11 review finding: schema discovery reads a 64 KiB PREFIX, not
    the whole first file; a pathological header larger than the prefix
    still works through the full-content fallback."""
    import json as _json

    with tempfile.TemporaryDirectory() as d:
        df = spark.range(20).select("id")
        _write(df, f"{d}/small")
        assert read_source(spark, f"{d}/small", "avro").count() == 20

        # hand-build a container whose header alone exceeds 64 KiB via
        # a giant doc-free field-name record (still valid JSON schema)
        schema = {
            "type": "record",
            "name": "r",
            "fields": [{"name": "x" * 70000, "type": "long"}],
        }
        assert len(A._header(schema, "null", b"\x00" * 16)) > 65536
        _write_container(f"{d}/big", schema, [(1,), (2,)], "null")
        back = read_source(spark, f"{d}/big", "avro")
        assert back.count() == 2
        # a path naming one container reads just that file
        one = read_source(spark, f"{d}/big/part-00000.avro", "avro")
        assert one.count() == 2
        assert _json.loads(_json.dumps(schema)) == schema  # sanity


def test_avro_sync_marker_splitting(spark):
    """r11 scale path: one large container parallelizes across byte
    ranges via the sync-marker split algorithm.  The ownership rule is
    Avro's own pastSync convention — a range owns blocks whose
    preceding sync STARTS inside it — pinned here with adversarial
    split sizes smaller than one block and off-by-one around the block
    size (the straddling-sync case lost blocks pre-fix)."""
    df = spark.range(20000).select(
        "id", (F.col("id") * 3).alias("x"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    rows = df.collect()
    want = sorted(map(tuple, rows))
    schema = A.spark_to_avro_schema(df.schema)
    with tempfile.TemporaryDirectory() as d:
        for codec in ("deflate", "null"):
            _write_container(
                f"{d}/{codec}", schema, rows, codec, block_rows=400
            )
            size = os.path.getsize(f"{d}/{codec}/part-00000.avro")
            one_block = size * 400 // 20000  # ~ bytes per block
            for sb in (size + 10, size // 7, one_block + 1, one_block - 1,
                       97):
                got = read_source(spark, f"{d}/{codec}", "avro", split_bytes=sb)
                assert _multiset(got) == want, (codec, sb)
            many = read_source(
                spark, f"{d}/{codec}", "avro", split_bytes=size // 7
            )
            assert many.rdd.getNumPartitions() >= 7
        with pytest.raises(ValueError, match="only split_bytes"):
            read_source(spark, f"{d}/deflate", "avro", bogus="1")


def test_avro_python_data_source_roundtrip(spark):
    """r11: the OCF codec as a first-class Spark 4 Python Data Source —
    spark.read.format('avro_ocf') / df.write.format('avro_ocf') after
    one registration.  Round-trip is multiset-exact including temporal
    columns (timestamp_ntz via naive-datetime timedelta arithmetic,
    timestamp via tz-aware UTC, date via ordinal — never float seconds,
    never the session timezone), and mode('overwrite') clears stale
    part files."""
    import datetime

    rows = [
        (
            1,
            datetime.datetime(2024, 6, 15, 2, 30, 0, 123456),
            datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
            datetime.date(1999, 12, 31),
        ),
        (2, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, ntz timestamp_ntz, day date"
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df.repartition(4), f"{d}/t")
        assert len(_parts(f"{d}/t")) == 4
        got = spark.read.format("avro_ocf").load(f"{d}/t")
        assert got.schema == df.schema
        assert _multiset(got) == _multiset(df)

        # overwrite drops stale parts (4 files -> 1)
        _write(df.limit(1).repartition(1), f"{d}/t")
        assert len(_parts(f"{d}/t")) == 1
        assert read_source(spark, f"{d}/t", "avro").count() == 1


def test_avro_data_source_append_and_schema_refusal(spark):
    """r11 third-pass findings: append must ACCUMULATE (task-attempt
    uniquified filenames, not deterministic part-NNNNN names that a
    later job clobbers), and a declared reader schema that differs
    from the container schema — by TYPE, not just name — refuses up
    front instead of dying in Arrow conversion."""
    A.register(spark)
    with tempfile.TemporaryDirectory() as d:
        df = spark.range(10).select("id", F.lit("a").alias("s"))
        df.repartition(2).write.format("avro_ocf").mode("overwrite").save(
            f"{d}/t"
        )
        df.repartition(2).write.format("avro_ocf").mode("append").save(
            f"{d}/t"
        )
        got = spark.read.format("avro_ocf").load(f"{d}/t")
        assert got.count() == 20

        with pytest.raises(Exception, match="project/cast after load"):
            spark.read.format("avro_ocf").schema("id string, s string").load(
                f"{d}/t"
            ).collect()


def test_avro_schema_resolution_across_evolved_files(spark):
    """r11: reader-schema resolution per the Avro spec — one directory
    holding containers written over THREE schema generations (column
    added with a default, column dropped, int->long promotion, field
    reorder) reads back normalized to a single reader schema, in both
    the whole-file and sync-split paths; unresolvable pairs refuse at
    BUILD time with clear errors."""
    v1 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "legacy", "type": "string"},
        ],
    }
    v2 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": ["null", "string"]},
            {"name": "id", "type": "long"},  # reordered + promoted
        ],
    }
    reader = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "n", "type": "double", "default": 2.5},
        ],
    }
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/data")
        with open(f"{d}/data/a.avro", "wb") as fh:
            fh.write(
                A.encode_container(v1, [(1, "old"), (2, "old2")], "deflate")
            )
        with open(f"{d}/data/b.avro", "wb") as fh:
            fh.write(
                A.encode_container(
                    v2, [("x", 3), (None, 4)], "null", block_rows=1
                )
            )
        want = sorted(
            [(1, None, 2.5), (2, None, 2.5), (3, "x", 2.5), (4, None, 2.5)]
        )
        got = read_source(spark, f"{d}/data", "avro", reader_schema=reader)
        assert got.schema.simpleString() == (
            "struct<id:bigint,s:string,n:double>"
        )
        assert _multiset(got) == want
        split = read_source(
            spark, f"{d}/data", "avro", reader_schema=reader, split_bytes=50
        )
        assert _multiset(split) == want
        # without a reader schema, drift still refuses honestly
        with pytest.raises(Exception, match="schema drift"):
            read_source(spark, f"{d}/data", "avro").collect()

    # build-time refusals: missing default, unresolvable primitive
    with pytest.raises(ValueError, match="no default"):
        A._resolving_decoder(
            v1,
            {
                "type": "record",
                "name": "r",
                "fields": [{"name": "zzz", "type": "int"}],
            },
        )
    with pytest.raises(ValueError, match="cannot resolve"):
        A._resolving_decoder("double", "int")
    # promotions: int->double, string->bytes
    out = bytearray()
    A._write_long(out, 7)
    assert A._resolving_decoder("int", "double")(A._Reader(bytes(out))) == 7.0


def test_ts_micros_encoder_treats_naive_as_local_time():
    """r11 ADVICE (medium): pyspark 4's DataSourceWriter delivers
    TimestampType values as naive LOCAL-time datetimes
    (conversion.py: value.astimezone().replace(tzinfo=None)), so the
    avro_ocf writer's timestamp-micros encoder must interpret naive
    values via astimezone(utc) — replace(tzinfo=utc) silently shifts
    every value by the host's UTC offset on non-UTC hosts.  Pins the
    encoder under a non-UTC process TZ via tzset()."""
    import datetime
    import time

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # EST (UTC-5) in January
    time.tzset()
    try:
        _, enc = A._temporal_codecs(schema)
        # 2024-01-15 12:00 naive == local EST == 17:00Z
        naive = datetime.datetime(2024, 1, 15, 12, 0, 0)
        want = int(
            datetime.datetime(
                2024, 1, 15, 17, 0, tzinfo=datetime.timezone.utc
            ).timestamp()
            * 1_000_000
        )
        assert enc[0](naive) == want
        # tz-aware values are unaffected by the process TZ
        aware = datetime.datetime(
            2024, 1, 15, 17, 0, tzinfo=datetime.timezone.utc
        )
        assert enc[0](aware) == want
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_avro_data_source_write_non_utc_host_tz():
    """End-to-end non-UTC-TZ pin for the data-source WRITE path (r11
    ADVICE, medium): a fresh Spark JVM + Python workers launched under
    TZ=America/New_York write one TimestampType row through
    df.write.format('avro_ocf'); the RAW wire micros in the container
    must be the true epoch instant (17:00Z for a 12:00 EST wall time),
    and the DS read-back must return the original wall-clock value.
    Runs in a subprocess because the session-scoped SparkSession's TZ
    is fixed at JVM launch."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import datetime, glob, os, sys
        from pyspark.sql import SparkSession
        from parquet_to_postgres_spark import avro as A

        d = sys.argv[1]
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        A.register(spark)
        df = spark.createDataFrame(
            [(1, datetime.datetime(2024, 1, 15, 12, 0, 0))],
            "id long, ts timestamp",
        )
        # coalesce(1): local[2] slices the 1-row list as [[], [row]],
        # so part-00000 would be an EMPTY container and the raw-wire
        # check below would read the wrong file (observed flake)
        df.coalesce(1).write.format("avro_ocf").mode("overwrite").save(d)

        rows = []
        for f in sorted(glob.glob(os.path.join(d, "part-*.avro"))):
            with open(f, "rb") as fh:
                rows += A.decode_container(fh.read())[1]
        assert len(rows) == 1, rows
        # 2024-01-15 12:00 America/New_York == 2024-01-15T17:00:00Z
        want = 1705338000000000
        assert rows[0]["ts"] == want, rows[0]["ts"]

        got = spark.read.format("avro_ocf").load(d).collect()
        assert got[0][1] == datetime.datetime(2024, 1, 15, 12, 0, 0), got
        spark.stop()
        print("TZ_WRITE_OK")
        """
    )
    env = dict(os.environ, TZ="America/New_York")
    with tempfile.TemporaryDirectory() as d:
        proc = subprocess.run(
            [sys.executable, "-c", script, f"{d}/t"],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "TZ_WRITE_OK" in proc.stdout


def test_snappy_block_format_pinned_vectors():
    """Snappy BLOCK format, pinned against hand-assembled streams from
    the public format_description.txt — every element type (short
    literal, extended-length literal, 1/2/4-byte-offset copies) and the
    overlapping-copy repeat rule."""
    D = A._snappy_decompress
    # short literal: preamble 5, tag (5-1)<<2, body
    assert D(bytes([0x05, 0x10]) + b"hello") == b"hello"
    # extended literal length (marker 60 => 1 length byte)
    body = b"x" * 70
    assert D(bytes([70, 60 << 2, 69]) + body) == body
    # copy with 1-byte offset: "ab" literal + len-6 off-2 copy
    assert (
        D(bytes([0x08, 0x04]) + b"ab" + bytes([0x09, 0x02])) == b"abababab"
    )
    # copy with 2-byte offset: "abcd" + len-4 off-4
    assert (
        D(bytes([0x08, 0x0C]) + b"abcd" + bytes([0x0E, 0x04, 0x00]))
        == b"abcdabcd"
    )
    # copy with 4-byte offset
    assert (
        D(
            bytes([0x08, 0x0C])
            + b"abcd"
            + bytes([0x0F, 0x04, 0x00, 0x00, 0x00])
        )
        == b"abcdabcd"
    )
    # strictness: preamble/output mismatch, zero offset, offset past
    # start, truncated bodies all refuse (untrusted-bytes contract)
    with pytest.raises(ValueError, match="corrupt block"):
        D(bytes([0x06, 0x10]) + b"hello")
    with pytest.raises(ValueError, match="corrupt block"):
        D(bytes([0x08, 0x04]) + b"ab" + bytes([0x09, 0x00]))
    with pytest.raises(ValueError, match="corrupt block"):
        D(bytes([0x08, 0x04]) + b"ab" + bytes([0x09, 0x03]))
    with pytest.raises(ValueError, match="corrupt block"):
        D(bytes([0x05, 0x10]) + b"hel")
    with pytest.raises(ValueError, match="truncated length preamble"):
        D(b"")
    with pytest.raises(ValueError, match="varint too long"):
        D(b"\xff" * 6)
    # a preamble past snappy's maximum expansion is refused before the
    # output buffer is allocated
    with pytest.raises(ValueError, match="can expand to"):
        D(bytes([0xFF, 0xFF, 0x03, 0x10]) + b"hello")


def test_snappy_roundtrip_and_avro_framing():
    """Compressor output round-trips through the strict decompressor,
    multi-MB blocks included, compresses repetitive data, and the Avro
    framing carries + CHECKS the big-endian CRC32 of the uncompressed
    bytes."""
    import random

    rng = random.Random(42)
    redundant = (b"0123456789abcdef" * 64) * 2048  # 2 MiB, period 1 KiB
    cases = [
        b"",
        b"a",
        b"ab" * 5000,
        b"the quick brown fox jumps over the lazy dog " * 200,
        bytes(rng.randrange(256) for _ in range(10000)),
        bytes(rng.randrange(4) for _ in range(70000)),  # long matches
        rng.randbytes(2_000_000),  # incompressible
        redundant,
    ]
    for data in cases:
        comp = A._snappy_compress(data)
        assert A._snappy_decompress(comp) == data
    rep = cases[3]
    assert len(A._snappy_compress(rep)) < len(rep) // 3
    assert len(A._snappy_compress(redundant)) < len(redundant) // 10
    framed = A._avro_snappy_encode(rep)
    assert A._avro_snappy_decode(framed) == rep
    bad = framed[:-1] + bytes([framed[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC mismatch"):
        A._avro_snappy_decode(bad)


def test_avro_snappy_container_spark_roundtrip(spark):
    """codec='snappy' through the distributed paths: the avro_ocf
    writer option, the whole-file read and the sync-split read."""
    src = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").limit(4000)
    with tempfile.TemporaryDirectory() as d:
        _write(src.repartition(3), f"{d}/s", codec="snappy")
        with open(f"{d}/s/{_parts(f'{d}/s')[0]}", "rb") as fh:
            _, codec, _, _ = A.parse_header(fh.read(65536))
        assert codec == "snappy"
        back = read_source(spark, f"{d}/s", "avro")
        assert back.schema == src.schema
        assert _multiset(back) == _multiset(src)
        split = read_source(spark, f"{d}/s", "avro", split_bytes=20000)
        assert _multiset(split) == _multiset(src)


def test_avro_auto_split_large_container(spark, monkeypatch):
    """r12: with no split_bytes, a container past AUTO_SPLIT_THRESHOLD
    splits itself into AUTO_SPLIT_BYTES ranges and a small one reads
    whole-file.  partitions() runs in a separate Python worker, where a
    monkeypatch is invisible, so the split plan is checked in-process
    on the reader with the constants patched; the rows of such a plan
    are checked with an explicit split_bytes read."""
    df = spark.range(2000).select(
        "id", (F.col("id") % 13).cast("string").alias("s")
    )
    rows = df.collect()
    schema = A.spark_to_avro_schema(df.schema)
    with tempfile.TemporaryDirectory() as d:
        _write_container(f"{d}/one", schema, rows, "null", block_rows=64)
        size = os.path.getsize(f"{d}/one/part-00000.avro")
        reader = A._OCFReader({"path": f"{d}/one"}, schema, False)

        monkeypatch.setattr(A, "AUTO_SPLIT_THRESHOLD", size // 2)
        monkeypatch.setattr(A, "AUTO_SPLIT_BYTES", max(size // 5, 1))
        plan = reader.partitions()
        assert len(plan) >= 5
        assert [(p.start, p.end) for p in plan][:2] == [
            (0, size // 5),
            (size // 5, 2 * (size // 5)),
        ]
        got = read_source(spark, f"{d}/one", "avro", split_bytes=size // 5)
        assert got.rdd.getNumPartitions() == len(plan)
        assert _multiset(got) == sorted(map(tuple, rows))

        # below threshold: no split
        monkeypatch.setattr(A, "AUTO_SPLIT_THRESHOLD", size * 10)
        assert [(p.start, p.end) for p in reader.partitions()] == [(0, size)]


def test_avro_decimal_roundtrip_and_nesting(spark):
    """r12: bytes-backed decimal logical type, both directions — the
    codec converts Decimal <-> big-endian two's-complement unscaled
    int python-side, so decimals work NESTED (array elements, struct
    fields) with no JVM restore pass.  Negative values, zero, scale-0
    and max-38-digit cases included; DS writer + reader too."""
    from decimal import Decimal

    rows = [
        (
            1,
            Decimal("12345.67"),
            (Decimal("99999999999999999999999999999999999.999"),),
        ),
        (2, None, (Decimal("-0.000"),)),
        (3, Decimal("-99999.99"), (None,)),
    ]
    schema = "id long, d decimal(7,2), st struct<big:decimal(38,3)>"
    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        _write(df, f"{d}/w")
        back = read_source(spark, f"{d}/w", "avro")
        assert back.schema == df.schema
        assert _multiset(back) == _multiset(df)
        # split read decodes the same
        sp = read_source(spark, f"{d}/w", "avro", split_bytes=200)
        assert _multiset(sp) == _multiset(df)

    # wire-level pin: unscaled big-endian two's complement, minimal
    # length for bytes-backed decimals (Avro spec)
    sch = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "d",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 5,
                    "scale": 2,
                },
            }
        ],
    }
    from decimal import Decimal as D_

    buf = A.encode_container(
        sch, [(D_("1.50"),), (D_("-1.50"),), (D_("-1.28"),)], "null"
    )
    _, got2 = A.decode_container(buf)
    assert [r["d"] for r in got2] == [
        D_("1.50"),
        D_("-1.50"),
        D_("-1.28"),
    ]
    # 150 -> b'\x00\x96' (two bytes: 0x96 alone would read negative);
    # -128 -> the single byte 0x80 (minimal two's complement — the
    # naive bit_length formula emitted a redundant 0xff; r12 review)
    assert b"\x00\x96" in buf and b"\xff\x6a" in buf
    assert bytes([0x02, 0x80]) in buf  # len-1 varint + 0x80
    # a value that does not fit the declared scale refuses loudly
    with pytest.raises(ValueError, match="does not fit scale"):
        A.encode_container(sch, [(D_("1.505"),)], "null")
    # array/map-nested decimals refuse honestly BOTH directions
    # (Arrow cannot build list<decimal128> from pandas object rows)
    with pytest.raises(ValueError, match="inside array/map"):
        A.spark_to_avro_schema(
            T.StructType(
                [
                    T.StructField(
                        "a", T.ArrayType(T.DecimalType(4, 2))
                    )
                ]
            )
        )
    with pytest.raises(ValueError, match="inside array/map"):
        A.avro_to_spark_schema(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {
                        "name": "a",
                        "type": {
                            "type": "array",
                            "items": {
                                "type": "bytes",
                                "logicalType": "decimal",
                                "precision": 4,
                                "scale": 2,
                            },
                        },
                    }
                ],
            }
        )


def test_avro_wild_logicals_enum_fixed_uuid_millis(spark):
    """r12 interop read: containers from OTHER writers carrying enum
    (-> string), fixed (-> binary), uuid (-> string), and
    timestamp-millis / local-timestamp-millis (-> timestamp / ntz via
    the datetime codec) all read correctly; time-of-day logicals refuse
    honestly (Spark has no TIME type here)."""
    import datetime

    sch = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "color",
                "type": {
                    "type": "enum",
                    "name": "Color",
                    "symbols": ["RED", "GREEN", "BLUE"],
                },
            },
            {"name": "fx", "type": {"type": "fixed", "name": "F8", "size": 3}},
            {
                "name": "u",
                "type": {"type": "string", "logicalType": "uuid"},
            },
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            },
            {
                "name": "lts",
                "type": {
                    "type": "long",
                    "logicalType": "local-timestamp-millis",
                },
            },
        ],
    }
    rows = [
        ("GREEN", b"\x01\x02\x03", "a-b-c", 1705338000123, 86400500),
        ("RED", b"\xff\x00\xff", "d-e-f", -1000, 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/w")
        with open(f"{d}/w/a.avro", "wb") as fh:
            fh.write(A.encode_container(sch, rows, "snappy"))
        got = read_source(spark, f"{d}/w", "avro")
        assert got.schema.simpleString() == (
            "struct<color:string,fx:binary,u:string,"
            "ts:timestamp,lts:timestamp_ntz>"
        )
        r0, r1 = sorted(got.collect(), key=lambda r: r["u"])
        assert (r0["color"], r0["fx"], r0["u"]) == rows[0][:3]
        # 1705338000123 ms == 2024-01-15T17:00:00.123Z (session TZ UTC)
        assert r0["ts"] == datetime.datetime(2024, 1, 15, 17, 0, 0, 123000)
        assert r0["lts"] == datetime.datetime(1970, 1, 2, 0, 0, 0, 500000)
        assert r1["ts"] == datetime.datetime(1969, 12, 31, 23, 59, 59)
        # enum out-of-range index refuses on decode: with the null
        # codec the first data byte after the two block varints is the
        # enum index (field 1 of row 1); zigzag(7)=14 indexes past the
        # 3 symbols.  Layout: ...header | count | size | DATA | sync16
        one = A.encode_container(sch, rows[:1], "null")
        _, _, _, data_off = A.parse_header(one)
        bad = bytearray(one)
        r = A._Reader(one, data_off)
        r.long()  # count
        r.long()  # size
        assert bad[r.pos] == 2  # zigzag(1) == GREEN, sanity
        bad[r.pos] = 14
        with pytest.raises(ValueError, match="out of range"):
            A.decode_container(bytes(bad))

    # time-of-day logicals refuse at schema-mapping time
    tsch = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "t",
                "type": {"type": "int", "logicalType": "time-millis"},
            }
        ],
    }
    with pytest.raises(ValueError, match="time-millis"):
        A.avro_to_spark_schema(tsch)
    # oversized decimal precision refuses
    with pytest.raises(ValueError, match="precision"):
        A.avro_to_spark_schema(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {
                        "name": "d",
                        "type": {
                            "type": "bytes",
                            "logicalType": "decimal",
                            "precision": 50,
                            "scale": 2,
                        },
                    }
                ],
            }
        )


def test_avro_resolution_logical_types(spark):
    """r12 review findings: schema RESOLUTION is logical-type-aware —
    the wire-type shortcut silently mis-resolved the newly supported
    kinds.  Decimal resolves only to identical precision/scale (and
    returns Decimal, not raw bytes); millis widens to micros (x1000,
    exact); logical<->plain refuses (a plain long is NOT an epoch);
    enums resolve by name with reader-default fallback for unknown
    symbols; fixed requires matching name+size."""
    from decimal import Decimal

    dec_node = {
        "type": "bytes",
        "logicalType": "decimal",
        "precision": 5,
        "scale": 2,
    }
    dsch = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "d", "type": dec_node}],
    }
    buf = A.encode_container(dsch, [(Decimal("1.50"),)], "null")
    # identical reader: values come back as Decimal, not bytes
    _, rows = A.decode_container(buf, reader_schema=dsch)
    assert rows[0]["d"] == Decimal("1.50")
    # scale mismatch refuses at build time
    other = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "d", "type": dict(dec_node, scale=3)}],
    }
    with pytest.raises(ValueError, match="identical"):
        A.decode_container(buf, reader_schema=other)

    # millis writer -> micros reader: exact x1000 widening
    ms = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-millis"},
            }
        ],
    }
    us = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    mbuf = A.encode_container(ms, [(1705338000123,)], "null")
    _, mrows = A.decode_container(mbuf, reader_schema=us)
    assert mrows[0]["ts"] == 1705338000123000
    # plain long reader refuses (silent reinterpretation trap)
    plain = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "ts", "type": "long"}],
    }
    with pytest.raises(ValueError, match="logical type"):
        A.decode_container(mbuf, reader_schema=plain)
    with pytest.raises(ValueError, match="logical type"):
        A.decode_container(
            A.encode_container(plain, [(5,)], "null"), reader_schema=us
        )
    # micros -> millis would be lossy: refuses
    ubuf = A.encode_container(us, [(1705338000123456,)], "null")
    with pytest.raises(ValueError, match="millis"):
        A.decode_container(ubuf, reader_schema=ms)

    # enum: by-name resolution, unknown symbol -> reader default
    w_enum = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "Color",
                    "symbols": ["RED", "GREEN", "BLUE"],
                },
            }
        ],
    }
    r_enum_def = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "Color",
                    "symbols": ["RED", "GREEN"],
                    "default": "RED",
                },
            }
        ],
    }
    ebuf = A.encode_container(
        w_enum, [("GREEN",), ("BLUE",)], "null"
    )
    _, erows = A.decode_container(ebuf, reader_schema=w_enum)
    assert [x["c"] for x in erows] == ["GREEN", "BLUE"]
    _, erows2 = A.decode_container(ebuf, reader_schema=r_enum_def)
    assert [x["c"] for x in erows2] == ["GREEN", "RED"]  # BLUE -> default
    r_enum_nodef = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "Color",
                    "symbols": ["RED", "GREEN"],
                },
            }
        ],
    }
    with pytest.raises(ValueError, match="no default"):
        A.decode_container(ebuf, reader_schema=r_enum_nodef)
    renamed = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "Hue",
                    "symbols": ["RED", "GREEN", "BLUE"],
                },
            }
        ],
    }
    with pytest.raises(ValueError, match="name mismatch"):
        A.decode_container(ebuf, reader_schema=renamed)

    # fixed: name+size must match
    w_fx = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "f", "type": {"type": "fixed", "name": "F", "size": 2}}
        ],
    }
    fbuf = A.encode_container(w_fx, [(b"\x01\x02",)], "null")
    _, frows = A.decode_container(fbuf, reader_schema=w_fx)
    assert frows[0]["f"] == b"\x01\x02"
    w_fx3 = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "f", "type": {"type": "fixed", "name": "F", "size": 3}}
        ],
    }
    with pytest.raises(ValueError, match="fixed mismatch"):
        A.decode_container(fbuf, reader_schema=w_fx3)


def test_avro_resolution_nonunion_writer_to_union_reader(spark):
    """r12 third-review finding: per the Avro spec a NON-union writer
    resolves against the first matching branch of a union reader with
    NO branch index on the wire — the former both-as-lists shortcut
    decoded the value's own first varint as a phantom index,
    misaligning the stream.  This is the canonical required->nullable
    evolution (spark_to_avro_schema makes every nullable reader field
    a union), including for logical branches (decimal), which _plain
    used to strip before branch matching."""
    from decimal import Decimal

    w = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "x", "type": "long"},
            {
                "name": "d",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 5,
                    "scale": 2,
                },
            },
            {"name": "s", "type": "string"},
        ],
    }
    r_nullable = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "x", "type": ["null", "long"]},
            {
                "name": "d",
                "type": [
                    "null",
                    {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 5,
                        "scale": 2,
                    },
                ],
            },
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    rows = [(5, Decimal("1.50"), "a"), (-7, Decimal("-0.01"), "bb")]
    buf = A.encode_container(w, rows, "null")
    _, got = A.decode_container(buf, reader_schema=r_nullable)
    assert [(g["x"], g["d"], g["s"]) for g in got] == rows

    # end-to-end: a directory mixing required and nullable generations
    # of the same columns normalizes under the nullable reader
    w_nullable = dict(r_nullable)
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(f"{d}/data")
        with open(f"{d}/data/a.avro", "wb") as fh:
            fh.write(A.encode_container(w, rows, "deflate"))
        with open(f"{d}/data/b.avro", "wb") as fh:
            fh.write(
                A.encode_container(
                    w_nullable, [(None, None, None)], "null"
                )
            )
        out = read_source(
            spark, f"{d}/data", "avro", reader_schema=r_nullable
        )
        assert sorted(
            ((r0["x"], r0["d"], r0["s"]) for r0 in out.collect()),
            key=repr,
        ) == sorted(rows + [(None, None, None)], key=repr)

    # an enum reader default outside its own symbols refuses at build
    bad_default = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "C",
                    "symbols": ["A", "B"],
                    "default": "PURPLE",
                },
            }
        ],
    }
    w_enum = {
        "type": "record",
        "name": "r",
        "fields": [
            {
                "name": "c",
                "type": {
                    "type": "enum",
                    "name": "C",
                    "symbols": ["A", "B", "Z"],
                },
            }
        ],
    }
    ebuf = A.encode_container(w_enum, [("Z",)], "null")
    with pytest.raises(ValueError, match="not one of"):
        A.decode_container(ebuf, reader_schema=bad_default)
