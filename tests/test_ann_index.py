"""Persisted ANN index: build-once/probe-many with planning-time
partition pruning (llm/similarity.write_ann_index / ann_index_topk).

Pins three contracts: (1) probing the store returns row-for-row what
the in-memory LSH operator returns on the same corpus, (2) the index
layout is one hive partition per bucket, (3) the probe scan carries a
bucket partition filter and reads ONLY the probed partitions' files.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from parquet_to_postgres_spark.llm import similarity as S
from parquet_to_postgres_spark.tables import load_table

from .conftest import SF_SMOKE

# r16 (VERDICT r15 item 6): IVF-PQ index build/probe store battery —
# excluded from the default (< 15 min) run; `pytest -m slow` runs it.
pytestmark = pytest.mark.slow

N_BITS = 4
N_PROBES = 5


@pytest.fixture(scope="module")
def split(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return (
        emb.where(F.col("vec_id") >= 5),
        emb.where(F.col("vec_id") < 5),
    )


def test_index_probe_matches_in_memory_lsh(spark, split):
    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/annidx"
        S.write_ann_index(corpus, path, n_bits=N_BITS)

        def canon(df):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in df.collect()
            )

        from_index = canon(
            S.ann_index_topk(
                spark, path, queries, k=10, n_bits=N_BITS, n_probes=N_PROBES
            )
        )
        in_memory = canon(
            S.ann_topk_lsh(
                corpus, queries, k=10, n_bits=N_BITS, n_probes=N_PROBES
            )
        )
        assert from_index == in_memory and from_index


def test_index_layout_is_one_partition_per_bucket(spark, split):
    corpus, _ = split
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/annidx"
        S.write_ann_index(corpus, path, n_bits=N_BITS)
        parts = sorted(
            p for p in os.listdir(path) if p.startswith("bucket=")
        )
        assert parts  # hive layout
        buckets = {int(p.split("=")[1]) for p in parts}
        assert buckets <= set(range(2**N_BITS))
        want = {
            r["bucket"]
            for r in corpus.select(
                S.sign_lsh_bucket("embedding", N_BITS).alias("bucket")
            )
            .distinct()
            .collect()
        }
        assert buckets == want


def test_probe_scan_prunes_unprobed_partitions(spark, split):
    corpus, queries = split
    one_query = queries.where(F.col("vec_id") == 0)
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/annidx"
        S.write_ann_index(corpus, path, n_bits=N_BITS)
        df = S.ann_index_topk(
            spark, path, one_query, k=10, n_bits=N_BITS, n_probes=N_PROBES
        )
        # planning-time partition filter on the scan ...
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        p = buf.getvalue()
        # ... carrying the probe set statically: 1 query x 5 probes ->
        # an IN-list of at most 5 of the 16 bucket partitions (plus
        # Spark's own dynamic-pruning subquery on the join key)
        import re

        m = re.search(r"PartitionFilters: \[bucket#\d+ IN \(([^)]*)\)", p)
        assert m, p
        assert 0 < len(m.group(1).split(",")) <= N_PROBES
        assert "dynamicpruning" in p


def test_wide_bucket_space_skips_driver_collect_keeps_pruning(spark, split):
    """Round-7 guard: when 2^n_bits exceeds max_collect_buckets the
    driver isin-collect is skipped (a 16-bit index would otherwise pull
    64k bucket ids to the driver silently) and partition pruning rides
    the broadcast join's dynamic partition pruning instead — same rows,
    no literal IN filter on the scan, DPP subquery present."""
    import contextlib
    import io
    import re

    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/annidx"
        S.write_ann_index(corpus, path, n_bits=N_BITS)

        def canon(df):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in df.collect()
            )

        literal = S.ann_index_topk(
            spark, path, queries, k=10, n_bits=N_BITS, n_probes=N_PROBES
        )
        dpp_only = S.ann_index_topk(
            spark, path, queries, k=10, n_bits=N_BITS, n_probes=N_PROBES,
            max_collect_buckets=1,
        )
        assert canon(dpp_only) == canon(literal) and canon(literal)

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            dpp_only.explain(mode="formatted")
        p = buf.getvalue()
        assert not re.search(r"PartitionFilters: \[bucket#\d+ IN \(", p), (
            "guarded path must not carry a driver-collected IN list"
        )
        assert "dynamicpruning" in p, (
            "guarded path must prune partitions via DPP on the join"
        )


def test_streaming_probe_matches_batch_operator(spark, split):
    """availableNow query stream through stream_ann_topk_writer lands
    exactly the batch ann_index_topk rows in the sink — streaming and
    batch ANN run the identical operator per micro-batch."""
    import shutil

    from parquet_to_postgres_spark.etl import ParquetSink
    from parquet_to_postgres_spark.streaming import ops

    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/annidx"
        S.write_ann_index(corpus, path, n_bits=N_BITS)

        src = f"{d}/in"
        os.makedirs(src)
        shutil.copy(f"{SF_SMOKE}/embeddings.parquet", f"{src}/embeddings.parquet")
        stream = (
            spark.readStream.schema(
                spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").schema
            )
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(src)
            .where(F.col("vec_id") < 5)
        )
        sink = ParquetSink(f"{d}/out", mode="append")
        writer = ops.stream_ann_topk_writer(
            path, sink, k=10, n_bits=N_BITS, n_probes=N_PROBES
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        def canon(rows):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in rows
            )

        got = canon(spark.read.parquet(f"{d}/out").collect())
        want = canon(
            S.ann_index_topk(
                spark, path, queries, k=10, n_bits=N_BITS, n_probes=N_PROBES
            ).collect()
        )
        assert got == want and got


def test_index_append_equals_full_rebuild(spark, split):
    """Incremental index maintenance: appending a new corpus slice
    (mode='append') yields probe results identical to rebuilding the
    index from the full corpus — bucket assignment is a pure function
    of the vector, so partitions stay valid under append and ingest
    never rewrites history."""
    corpus, queries = split
    old = corpus.where(F.col("vec_id") % 2 == 0)
    new = corpus.where(F.col("vec_id") % 2 == 1)
    with tempfile.TemporaryDirectory() as d:
        incremental, full = f"{d}/inc", f"{d}/full"
        S.write_ann_index(old, incremental, n_bits=N_BITS)
        S.write_ann_index(new, incremental, n_bits=N_BITS, mode="append")
        S.write_ann_index(corpus, full, n_bits=N_BITS)

        def canon(df):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in df.collect()
            )

        a = canon(
            S.ann_index_topk(
                spark, incremental, queries, k=10,
                n_bits=N_BITS, n_probes=N_PROBES,
            )
        )
        b = canon(
            S.ann_index_topk(
                spark, full, queries, k=10,
                n_bits=N_BITS, n_probes=N_PROBES,
            )
        )
        assert a == b and a


# ----------------------------------------------------------- IVF-PQ ----


IVFPQ_KW = dict(n_cells=4, m=8, codes=8, coarse_iterations=3, pq_iterations=3)


def test_ivfpq_index_probe_matches_in_memory_operator(spark, split):
    """ivfpq_index_topk over a persisted write_ivfpq_index store must
    equal ann_topk_ivfpq row-for-row when both use the same (stored)
    models — the shared _adc_sum/_adc_topk_tail makes this an identity,
    and the test pins that persistence round-trips both models
    bit-exactly."""
    import tempfile

    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        S.write_ivfpq_index(corpus, f"{d}/idx", **IVFPQ_KW)
        stored = (
            spark.read.parquet(f"{d}/idx/centroids"),
            spark.read.parquet(f"{d}/idx/codebooks"),
        )
        got = S.ivfpq_index_topk(
            spark, f"{d}/idx", corpus, queries, k=7, n_probes=2
        )
        mem = S.ann_topk_ivfpq(
            corpus, queries, k=7, n_probes=2, models=stored, **IVFPQ_KW
        )

        def canon(df):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in df.collect()
            )

        assert canon(got) == canon(mem)


def test_ivfpq_index_layout_and_partition_pruning(spark, split):
    """The codes table is one hive partition per cell, and a probe scan
    carries a planning-time cell filter — unprobed inverted lists are
    never opened."""
    import tempfile

    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        S.write_ivfpq_index(corpus, f"{d}/idx", **IVFPQ_KW)
        parts = sorted(
            p for p in os.listdir(f"{d}/idx/codes") if p.startswith("cell=")
        )
        assert parts, "codes table is not hive-partitioned by cell"
        # probed-cell prune: with n_probes=1 and ONE query, the scan
        # must touch exactly that query's nearest cell
        one_q = queries.limit(1)
        got = S.ivfpq_index_topk(
            spark, f"{d}/idx", corpus, one_q, k=3, n_probes=1
        )
        got.collect()
        centroids = spark.read.parquet(f"{d}/idx/centroids")
        q_unit = one_q.select(
            F.col("vec_id").alias("query_id"), S._unit("embedding").alias("qvec")
        )
        probe = S._nearest_cells_l2(q_unit, centroids, 1, "qvec").collect()
        probed_cell = probe[0]["cell"]
        # the pin runs on the OPERATOR'S OWN plan (not a hand-built
        # scan — an unfiltered partitioned read also stringifies
        # "PartitionFilters: []", which made the first form of this
        # assert vacuous; r12 review finding): the codes scan must
        # carry a non-empty static cell filter
        import contextlib
        import io
        import re

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            S.ivfpq_index_topk(
                spark, f"{d}/idx", corpus, one_q, k=3, n_probes=1
            ).explain(mode="formatted")
        plan = buf.getvalue()
        # Catalyst simplifies a single-cell IN-list to an equality,
        # so accept both static forms
        mm = re.search(
            r"PartitionFilters: \[[^\]]*cell#\d+ (?:= (\d+)|IN \(([^)]*)\))",
            plan,
        )
        assert mm, plan
        probed_set = (
            {int(mm.group(1))}
            if mm.group(1) is not None
            else {int(x) for x in mm.group(2).split(",")}
        )
        assert probed_set == {probed_cell}


def test_ivfpq_index_append_equals_full_rebuild(spark, split):
    """Appending a delta through append_ivfpq_index yields identical
    (id, cell, codes) rows to rebuilding with the same stored models —
    IVF-PQ encoding is a per-vector pure function of (vector,
    centroids, codebooks)."""
    import tempfile

    corpus, queries = split
    old = corpus.where(F.col("vec_id") < 300)
    delta = corpus.where(F.col("vec_id") >= 300)
    with tempfile.TemporaryDirectory() as d:
        S.write_ivfpq_index(old, f"{d}/inc", **IVFPQ_KW)
        S.append_ivfpq_index(delta, f"{d}/inc")
        stored = (
            spark.read.parquet(f"{d}/inc/centroids"),
            spark.read.parquet(f"{d}/inc/codebooks"),
        )
        S.write_ivfpq_index(corpus, f"{d}/full", models=stored, **IVFPQ_KW)

        def canon(path):
            return sorted(
                (r["id"], r["cell"], tuple(r["codes"]))
                for r in spark.read.parquet(f"{path}/codes").collect()
            )

        assert canon(f"{d}/inc") == canon(f"{d}/full")
        got = S.ivfpq_index_topk(spark, f"{d}/inc", corpus, queries, k=5)
        assert got.count() == queries.count() * 5


def test_ivfpq_rebuild_replaces_all_cells_under_dynamic_overwrite(spark, split):
    """Rebuilding the index with fewer cells must leave NO stale cell
    directories even when partitionOverwriteMode=dynamic (which only
    overwrites emitted partitions) — stale codes would be scored
    against new codebooks with no error (r12 review finding)."""
    corpus, _ = split
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        with tempfile.TemporaryDirectory() as d:
            S.write_ivfpq_index(corpus, f"{d}/idx", **IVFPQ_KW)
            cells_before = {
                p for p in os.listdir(f"{d}/idx/codes") if p.startswith("cell=")
            }
            assert len(cells_before) > 2
            S.write_ivfpq_index(
                corpus, f"{d}/idx", n_cells=2, m=8, codes=8,
                coarse_iterations=2, pq_iterations=2,
            )
            cells_after = {
                p for p in os.listdir(f"{d}/idx/codes") if p.startswith("cell=")
            }
            assert len(cells_after) <= 2, cells_after
            # the rebuilt store still probes end-to-end
            ids = spark.read.parquet(f"{d}/idx/codes").count()
            assert ids == corpus.where(S._nonzero_vec("embedding")).count()
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)


def test_streaming_ivfpq_probe_matches_batch_operator(spark, split):
    """availableNow query stream through stream_ivfpq_topk_writer lands
    exactly the batch ivfpq_index_topk rows in the sink — the cell-
    pruned family's serving path, same contract as the LSH
    streaming-probe pin."""
    import shutil

    from parquet_to_postgres_spark.etl import ParquetSink
    from parquet_to_postgres_spark.streaming import ops

    corpus, queries = split
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/ivfpqidx"
        S.write_ivfpq_index(corpus, path, **IVFPQ_KW)

        src = f"{d}/in"
        os.makedirs(src)
        shutil.copy(
            f"{SF_SMOKE}/embeddings.parquet", f"{src}/embeddings.parquet"
        )
        stream = (
            spark.readStream.schema(
                spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").schema
            )
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(src)
            .where(F.col("vec_id") < 5)
        )
        sink = ParquetSink(f"{d}/out", mode="append")
        writer = ops.stream_ivfpq_topk_writer(path, corpus, sink, k=10)
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        writer.close()

        def canon(rows):
            return sorted(
                (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rank"])
                for r in rows
            )

        got = canon(spark.read.parquet(f"{d}/out").collect())
        want = canon(
            S.ivfpq_index_topk(spark, path, corpus, queries, k=10).collect()
        )
        assert got == want and got


def test_streaming_ivfpq_probe_sees_index_appended_between_triggers(
    spark, split
):
    """The documented mutating-index serving contract, end-to-end:
    append_ivfpq_index between triggers with a PATH-form corpus and
    cache_corpus=False must surface the appended ids in later
    triggers' top-k.  The delta vectors ARE the
    trigger-2 query vectors, so if visible they MUST be each query's
    rank-1 self-match; trigger 1 runs before the append and must not
    see them.  A DataFrame-form corpus cannot pass this test: Spark
    fixes a frame's file listing at creation, which is exactly why the
    writer grew the path form."""
    import shutil

    from parquet_to_postgres_spark.etl import ParquetSink
    from parquet_to_postgres_spark.streaming import ops

    corpus, _ = split
    old = corpus.where(F.col("vec_id") < 300)
    # delta ids offset by +10000 so they collide with nothing
    delta = corpus.where(F.col("vec_id") >= 300).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    with tempfile.TemporaryDirectory() as d:
        idx = f"{d}/ivfpqidx"
        cdir = f"{d}/corpus"
        old.select("vec_id", "embedding").write.parquet(cdir)
        S.write_ivfpq_index(spark.read.parquet(cdir), idx, **IVFPQ_KW)

        src = f"{d}/in"
        os.makedirs(src)
        schema = "vec_id long, embedding array<float>"
        sink = ParquetSink(f"{d}/out", mode="append")
        writer = ops.stream_ivfpq_topk_writer(
            idx, cdir, sink, k=5, cache_corpus=False
        )

        def run_trigger(qdf, fname):
            qdf.coalesce(1).write.parquet(f"{d}/stage_{fname}")
            part = [
                f
                for f in os.listdir(f"{d}/stage_{fname}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{d}/stage_{fname}/{part}", f"{src}/{fname}.parquet")
            q = (
                spark.readStream.schema(schema)
                .parquet(src)
                .writeStream.foreachBatch(writer)
                .option("checkpointLocation", f"{d}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # trigger 1: query with the (future) delta vectors under their
        # ORIGINAL ids — the delta ids must not appear anywhere yet
        q1 = corpus.where(F.col("vec_id") >= 300).select(
            "vec_id", "embedding"
        )
        run_trigger(q1, "batch1")
        out1 = spark.read.parquet(f"{d}/out")
        assert out1.where(F.col("neighbor_id") >= 10000).count() == 0
        n1 = out1.count()
        assert n1 > 0

        # mutate: append codes to the index AND vectors to the corpus dir
        S.append_ivfpq_index(delta, idx)
        delta.write.mode("append").parquet(cdir)

        # trigger 2: same embeddings, delta ids — each must self-match
        run_trigger(delta, "batch2")
        out2 = spark.read.parquet(f"{d}/out").where(
            F.col("query_id") >= 10000
        )
        self_hits = {
            r["query_id"]
            for r in out2.where(
                (F.col("neighbor_id") == F.col("query_id"))
                & (F.col("rank") == 1)
            ).collect()
        }
        want_ids = {r["vec_id"] for r in delta.select("vec_id").collect()}
        assert self_hits == want_ids and want_ids
        writer.close()  # no-op for cache_corpus=False, must not raise


def test_streaming_ivfpq_path_corpus_with_cache_is_rejected(spark):
    """Path-form corpus under cache_corpus=True is a contract error —
    the cached snapshot would silently defeat the per-trigger re-read
    (same rule as the near-dedup writer's path-form store)."""
    from parquet_to_postgres_spark.streaming import ops

    class _NullSink:
        mode = "append"

        def write(self, df):
            df.count()

    with pytest.raises(ValueError, match="path-form"):
        ops.stream_ivfpq_topk_writer("/tmp/idx", "/tmp/corpus", _NullSink())


def test_index_model_writers_reject_append_mode(spark, split):
    """mode='append' on the MODEL writers would stack a second model
    into the same directories — the codebook dict build keeps one
    arbitrary duplicate per key and probes score a mixed model with no
    error (ADVICE r12).  The dedicated append_* entry points are the
    supported append path."""
    corpus, _ = split
    with pytest.raises(ValueError, match="append_ivfpq_index"):
        S.write_ivfpq_index(corpus, "/tmp/never-written", mode="append")


def test_ivfpq_gate_probe_cache_branch(spark):
    """The declared ivfpq_index_probe's build-once/probe-many cache:
    (1) a second call with a matching key probes the EXISTING store
    (marker untouched) and returns identical rows, (2) a corrupt/torn
    marker is treated as stale — rebuild, no crash, (3) a stale key
    rebuilds and atomically rewrites the marker."""
    import json
    import os

    from parquet_to_postgres_spark.queries.llm_q import ivfpq_index_probe

    def rows():
        return sorted(
            (r["query_id"], r["neighbor_id"], repr(r["score"]), r["rnk"])
            for r in ivfpq_index_probe(spark, SF_SMOKE).collect()
        )

    first = rows()
    from parquet_to_postgres_spark.queries.etl_q import _scratch

    # the same path constructor the builder uses — one source of truth
    # for the store layout (r13 review finding)
    marker = os.path.join(
        _scratch(f"ivfpq/gate_{os.path.basename(os.path.normpath(SF_SMOKE))}"),
        "_built.json",
    )
    assert os.path.exists(marker), marker
    mtime = os.path.getmtime(marker)

    # (1) cache hit: same rows, marker not rewritten
    assert rows() == first and os.path.getmtime(marker) == mtime

    # (2) torn marker: stale, rebuild succeeds with identical rows
    with open(marker, "w") as fh:
        fh.write('{"truncated": ')
    assert rows() == first
    with open(marker) as fh:
        key = json.load(fh)  # valid again after the atomic rewrite

    # (3) stale key: rebuild, marker content restored to the real key
    key["stat"] = [0, 0]
    with open(marker, "w") as fh:
        json.dump(key, fh)
    assert rows() == first
    with open(marker) as fh:
        assert json.load(fh)["stat"] != [0, 0]
