"""stable_checkpoint: local blocks by default, reliable cluster-FS
checkpoints when the session has a checkpoint dir — same results.

The executor-loss caveat on every iterative operator is a real switch
now, so these tests pin both sides: (a) with no checkpoint dir nothing
is written anywhere, (b) with one set, checkpoint FILES appear under it
and the operators' results are bit-identical to the local-mode run.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from parquet_to_postgres_spark.checkpoint import stable_checkpoint
from parquet_to_postgres_spark.llm.dedup import connected_components


def _tree_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
    ]


def test_local_mode_writes_no_files(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = stable_checkpoint(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100


def test_reliable_mode_round_trips_identically(spark):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # the suite default
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    local = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    with tempfile.TemporaryDirectory() as d:
        sc.setCheckpointDir(d)
        try:
            reliable = {
                (r["node"], r["component"])
                for r in connected_components(pairs).collect()
            }
            files = _tree_files(d)
            assert files, "reliable mode must write checkpoint files"
        finally:
            sc.setCheckpointDir(None)
    assert reliable == local
    assert sc.getCheckpointDir() is None


def test_reliable_eager_checkpoint_computes_subtree_once(spark):
    """Round-7 ADVICE: eager reliable checkpoint runs two jobs (count +
    file write); without a persist shield the subtree is computed twice.
    stable_checkpoint now persists before checkpointing, so an
    accumulator inside the subtree must tick once per row, not twice —
    and the scratch cache must be released afterwards."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def tick(x):
        acc.add(1)
        return x * 2

    tick_udf = udf(tick, LongType())
    before_ids = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    with tempfile.TemporaryDirectory() as d:
        sc.setCheckpointDir(d)
        try:
            df = stable_checkpoint(
                spark.range(0, 200, 1, 4).select(tick_udf("id").alias("x"))
            )
            assert df.count() == 200
            assert _tree_files(d), "reliable mode must write files"
        finally:
            sc.setCheckpointDir(None)
    assert acc.value == 200, (
        f"subtree evaluated {acc.value / 200:.1f}x; persist shield lost"
    )
    after_ids = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert after_ids <= before_ids, "scratch persist leaked blocks"


def test_ann_all_methods_release_handle_frees_pinned_blocks(spark):
    """ann_topk_all_methods pins two localCheckpoint block sets a
    plain DataFrame.unpersist can't reach.  The handle_out
    AnnPrepHandle must free exactly those blocks, and results must be
    identical whether or not a handle is requested."""
    from parquet_to_postgres_spark.checkpoint import persistent_rdd_ids
    from parquet_to_postgres_spark.llm import similarity as S
    from parquet_to_postgres_spark.tables import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5)
    sc = spark.sparkContext

    before = persistent_rdd_ids(sc)
    handle = []
    out = S.ann_topk_all_methods(corpus, queries, k=3, handle_out=handle)
    rows = sorted(
        (r["method"], r["query_id"], r["neighbor_id"], r["rank"])
        for r in out.collect()
    )
    assert rows  # sanity: the query ran
    assert len(handle) == 1
    pinned = persistent_rdd_ids(sc) - before
    assert pinned, "the shared prep must pin its checkpoint blocks"
    handle[0].release()
    handle[0].release()  # idempotent
    assert persistent_rdd_ids(sc) & pinned == set(), (
        "release() must free the pinned prep block sets"
    )

    # Same rows without a handle (the default path is unchanged).
    base = sorted(
        (r["method"], r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.ann_topk_all_methods(
            corpus, queries, k=3, handle_out=None
        ).collect()
    )
    assert base == rows


def test_ann_shared_prep_identical_under_reliable_checkpoint(spark):
    from parquet_to_postgres_spark.llm import similarity as S
    from parquet_to_postgres_spark.tables import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5)

    def canon(df):
        return sorted(
            (r["method"], r["query_id"], r["neighbor_id"],
             repr(r["score"]), r["rank"])
            for r in df.collect()
        )

    local = canon(S.ann_topk_all_methods(corpus, queries, k=5))
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as d:
        sc.setCheckpointDir(d)
        try:
            reliable = canon(S.ann_topk_all_methods(corpus, queries, k=5))
        finally:
            sc.setCheckpointDir(None)
    assert reliable == local
