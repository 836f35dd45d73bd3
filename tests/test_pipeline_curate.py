"""End-to-end corpus curation composite (llm/pipeline.curate_corpus)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from parquet_to_postgres_spark.llm.pipeline import curate_corpus
from parquet_to_postgres_spark.tables import load_table

from .conftest import SF_SMOKE

import pytest

# r16 (VERDICT r15 item 6): full 9-stage curation funnel, minutes per pass —
# excluded from the default run but for its `smoke` case; `pytest -m slow` runs it.
pytestmark = pytest.mark.slow


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def test_curate_end_to_end_with_export(spark):
    docs = _docs(spark)
    # plant: an exact dup pair, a junk doc, and an eval-set hit
    # twins: 5 tokens — above min_tokens, below span_n, so they reach
    # exact dedup intact; junk dies at the rule gate; the 14-token
    # sentence shares a 13-gram with the eval set (DECONTAM_NGRAM_N=13)
    leak = (
        "zebra yonder xylophone walrus vulture umbrella tundra "
        "sequoia raccoon quartz pelican ocelot nimbus meerkat"
    )
    extra = spark.createDataFrame(
        [
            (900001, "alpha beta gamma delta epsilon"),
            (900002, "alpha beta gamma delta epsilon"),
            (900003, "!!! ??? @@@ ### $$$ %%% ^^^ &&& *** ((()))"),
            (900004, leak),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(1, leak + " extra")], "doc_id long, text string"
    )
    corpus = docs.unionAll(extra)
    with tempfile.TemporaryDirectory() as d:
        cur, report = curate_corpus(
            corpus,
            eval_df=eval_df,
            out_path=d,
            max_bpc=8.0,
            span_n=6,
        )
        counts = report.stages
        # monotone non-increasing survival through the funnel
        vals = list(counts.values())
        assert vals == sorted(vals, reverse=True)
        assert counts["input"] == 504
        # the junk doc dies at the rule gate (punct ratio ~1)
        assert counts["rule_gate"] < counts["normalized"]
        # one of the planted twins dies at exact dedup
        assert counts["exact_dedup"] < counts["span_dedup"]
        # the contaminated survivor dies at decontamination
        assert counts["decontaminated"] < counts["near_dedup"]
        # splits cover the survivors exactly
        per_split = dict(
            cur.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        assert sum(per_split.values()) == counts["split"]
        # export manifest agrees with the data
        assert report.manifest is not None
        for split, m in report.manifest.items():
            assert m["__total__"] == per_split.get(split, 0)
        back = spark.read.parquet(f"{d}/train")
        assert back.count() == report.manifest["train"]["__total__"]


@pytest.mark.smoke
def test_curate_deterministic_and_optional_stages(spark):
    docs = _docs(spark).limit(150)
    a, ra = curate_corpus(docs)
    b, rb = curate_corpus(docs)
    assert ra.stages == rb.stages
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )
    # optional stages skipped -> keys absent
    assert "lm_gate" not in ra.stages
    assert "decontaminated" not in ra.stages
    assert ra.manifest is None
    # split column present and covering
    assert a.where(F.col("split").isNull()).count() == 0


def test_curate_increment_against_history(spark):
    """Production ingest mode: today's increment dedups against itself
    AND against the stores built from history; appending the returned
    deltas makes a replay of the same increment drop everything
    (idempotent ingest)."""
    from parquet_to_postgres_spark.llm.pipeline import curate_increment

    history = _docs(spark).limit(200)
    # bootstrap stores from history via the same pipeline
    _, _, h_exact, h_bands = curate_increment(history)
    h_exact, h_bands = h_exact.cache(), h_bands.cache()
    base = {r["text"] for r in history.limit(3).collect()}
    exact_copy, near_copy = sorted(base)[0], sorted(base)[1]
    increment = spark.createDataFrame(
        [
            (800001, exact_copy),                       # exact dup of history
            (800002, near_copy + " zzx"),               # near dup of history
            (800003, "genuinely fresh words appearing nowhere else today"),
            (800004, "another brand new document with unseen vocabulary"),
        ],
        "doc_id long, text string",
    )
    survivors, report, d_exact, d_bands = curate_increment(
        increment, exact_store=h_exact, band_store=h_bands
    )
    ids = {r["doc_id"] for r in survivors.collect()}
    assert ids == {800003, 800004}
    assert report.stages["exact_vs_store"] < report.stages["exact_dedup"]
    assert report.stages["near_vs_store"] < report.stages["exact_vs_store"]
    # append deltas -> replaying the SAME increment drops everything.
    # localCheckpoint stands in for the store write+read a deployment
    # does: the deltas otherwise carry the whole pipeline's lineage.
    new_exact = h_exact.unionByName(d_exact.localCheckpoint())
    new_bands = h_bands.unionByName(d_bands.localCheckpoint())
    replay, rep2, _, _ = curate_increment(
        increment, exact_store=new_exact, band_store=new_bands
    )
    assert replay.count() == 0
    report.release()
    rep2.release()


def test_curate_markup_and_jsonl_export(spark):
    """markup=True strips tags before normalization; shard_format=jsonl
    lands newline-JSON shards with an agreeing manifest."""
    import glob
    import json as _json
    import tempfile

    docs = spark.createDataFrame(
        [
            (i, f"<p>doc {i} body words here enough tokens to pass</p>")
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        cur, rep = curate_corpus(
            docs,
            out_path=d,
            markup=True,
            shard_format="jsonl",
            splits={"train": 1.0},
            n_shards=2,
        )
        texts = [r["text"] for r in cur.collect()]
        assert texts and all("<" not in t for t in texts)
        f = sorted(glob.glob(f"{d}/train/shard=*/part-*"))[0]
        with open(f) as fh:
            row = _json.loads(fh.readline())
        assert "<p>" not in row["text"]
        assert rep.manifest["train"]["__total__"] == cur.count()
        rep.release()
