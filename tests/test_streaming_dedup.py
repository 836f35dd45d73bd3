"""Incremental near-dedup against a historical corpus — batch operator,
Arrow-kernel signatures, and the streaming foreachBatch path.

The contract under test: streaming ingest drops exactly the documents
the BATCH operator would drop (same band keys, same store), because
foreachBatch runs the identical operator per micro-batch.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from parquet_to_postgres_spark.etl import ParquetSink
from parquet_to_postgres_spark.llm import dedup as D
from parquet_to_postgres_spark.streaming import ops

from .conftest import SF_SMOKE

N_HASHES = 32  # smaller family keeps the test fast; same code path


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_band_keys_skip_short_docs(spark):
    """Docs with no shingle (shorter than the shingle width, empty)
    get no signature row, so band_keys emits NO keys for them and no
    key is "" — otherwise every short doc would land on one key in
    every band and they would all become mutual near-duplicates."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "xy"), (3, ""), (4, "a real document long enough")],
        "doc_id long, text string",
    )
    sigs = D.minhash_profiles_arrow(docs, num_hashes=N_HASHES)
    bands = D.band_keys(sigs, num_hashes=N_HASHES)
    keyed = {r["doc_id"] for r in bands.select("doc_id").distinct().collect()}
    assert keyed == {4}
    assert bands.where(F.col("key") == "").count() == 0
    # pair generation therefore never pairs the short docs
    pairs = D.minhash_band_pairs(sigs, num_hashes=N_HASHES)
    assert pairs.count() == 0


def test_near_dedup_against_store_drops_exactly_banded_matches(spark):
    """Every batch doc sharing >= 1 band key with the corpus is dropped,
    every other doc survives with all columns intact."""
    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") < 250)
    store = D.corpus_band_store(corpus, num_hashes=N_HASHES)
    out = D.near_dedup_against_store(docs, store, num_hashes=N_HASHES)
    assert out.columns == docs.columns

    # ground truth straight from the band definition
    bands = D.band_keys(
        D.minhash_profiles_arrow(docs, num_hashes=N_HASHES),
        num_hashes=N_HASHES,
    )
    expected_dropped = {
        r["doc_id"]
        for r in bands.join(store, ["band", "key"], "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    survivors = {r["doc_id"] for r in out.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert survivors == all_ids - expected_dropped
    # corpus members trivially match their own bands
    assert all(i >= 250 for i in survivors)


def test_stream_near_dedup_matches_batch_operator(spark):
    """availableNow stream through stream_near_dedup_writer lands exactly
    the batch operator's survivors in the sink."""
    docs = _docs(spark)
    corpus = docs.where(F.col("doc_id") < 250)
    store = D.corpus_band_store(corpus, num_hashes=N_HASHES)

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/in"
        shutil.copytree(f"{SF_SMOKE}", src, ignore=shutil.ignore_patterns("*"))
        shutil.copy(f"{SF_SMOKE}/documents.parquet", f"{src}/documents.parquet")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(src)
        )
        sink = ParquetSink(f"{d}/out", mode="append")
        writer = ops.stream_near_dedup_writer(store, sink, num_hashes=N_HASHES)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        got = {
            r["doc_id"]
            for r in spark.read.parquet(f"{d}/out").select("doc_id").collect()
        }
        want = {
            r["doc_id"]
            for r in D.near_dedup_against_store(
                docs, store, num_hashes=N_HASHES
            )
            .select("doc_id")
            .collect()
        }
        assert got == want and got  # nonempty survivors

        # the writer owns the cached store: close() releases it
        assert store.storageLevel.useMemory or store.storageLevel.useDisk
        writer.close()
        assert not (store.storageLevel.useMemory or store.storageLevel.useDisk)


def test_stream_near_dedup_writer_uncached_close_is_noop(spark):
    """cache_store=False never persists; close() exists and is a no-op."""
    docs = _docs(spark)
    store = D.corpus_band_store(
        docs.where(F.col("doc_id") < 250), num_hashes=N_HASHES
    )

    class _NullSink:
        mode = "append"

        def write(self, df):
            df.count()

    writer = ops.stream_near_dedup_writer(
        store, _NullSink(), num_hashes=N_HASHES, cache_store=False
    )
    assert not (store.storageLevel.useMemory or store.storageLevel.useDisk)
    writer.close()  # must not raise
    assert not (store.storageLevel.useMemory or store.storageLevel.useDisk)


def test_stream_near_dedup_path_store_sees_bands_appended_between_triggers(
    spark,
):
    """The mutating-store serving contract, end-to-end (r9): a PATH-form
    band store with cache_store=False is re-read per trigger, so bands
    appended between triggers drop later batches' matching docs.  The
    same doc streamed in trigger 1 (store lacks its bands -> survives)
    and again in trigger 2 after corpus_band_store(delta) was appended
    (-> dropped) proves the re-read is real; a DataFrame-form store
    cannot do this (file listing fixed at creation)."""
    import os

    docs = _docs(spark)
    corpus_a = docs.where(F.col("doc_id") < 150)
    corpus_b = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    probe = docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))

    with tempfile.TemporaryDirectory() as d:
        store_path = f"{d}/bands"
        D.corpus_band_store(corpus_a, num_hashes=N_HASHES).write.parquet(
            store_path
        )

        src = f"{d}/in"
        os.makedirs(src)
        sink = ParquetSink(f"{d}/out", mode="append")
        writer = ops.stream_near_dedup_writer(
            store_path, sink, num_hashes=N_HASHES, cache_store=False
        )

        def run_trigger(df, fname):
            df.coalesce(1).write.parquet(f"{d}/stage_{fname}")
            part = [
                f
                for f in os.listdir(f"{d}/stage_{fname}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{d}/stage_{fname}/{part}", f"{src}/{fname}.parquet")
            q = (
                spark.readStream.schema(docs.schema)
                .parquet(src)
                .writeStream.foreachBatch(writer)
                .option("checkpointLocation", f"{d}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_trigger(probe, "batch1")
        n1 = spark.read.parquet(f"{d}/out").count()
        # trigger 1: corpus_b's bands are not in the store yet — the
        # probe docs survive except any banded collision with corpus_a
        assert n1 > 0, "expected survivors before the append"

        # mutate: append the delta corpus's bands, stream the SAME docs
        D.corpus_band_store(corpus_b, num_hashes=N_HASHES).write.mode(
            "append"
        ).parquet(store_path)
        run_trigger(probe, "batch2")
        n2 = spark.read.parquet(f"{d}/out").count()
        # trigger 2 appends ZERO rows: every probe doc now matches its
        # own bands in the mutated store (self-match), so all are
        # dropped.  ROW COUNTS, not doc_id sets — a stale captured
        # store would re-append the same survivors and a set compare
        # could never catch it (r9 review finding).
        assert n2 == n1, f"stale store: trigger 2 appended {n2 - n1} rows"
        writer.close()  # no-op, must not raise


def test_stream_near_dedup_path_store_with_cache_is_rejected(spark):
    """A path-form store under cache_store=True is a contract error —
    the cached snapshot would silently defeat the per-trigger re-read
    the path form exists for."""
    import pytest

    with pytest.raises(ValueError, match="path-form"):
        ops.stream_near_dedup_writer("/tmp/nope", _sink(), cache_store=True)


def _sink():
    class _NullSink:
        mode = "append"

        def write(self, df):
            df.count()

    return _NullSink()
