"""The curation layer as a traced etl_bulk run drives it: the funnel
over a planted corpus, checked, plus a probe per layer function on the
same documents.

The corpus comes from ``inputs.plant_corpus``: planted exact and near
duplicates, boilerplate spans, PII, low-quality and gibberish docs, so
every gate of ``llm.pipeline.curate_corpus`` has work to do.
"""

from __future__ import annotations

import json
import os

from layers import CURATE_STAGES


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Curation:
    def __init__(self, bench, input_dir: str):
        self.bench = bench
        self.dir = input_dir
        with open(os.path.join(input_dir, "corpus_plan.json")) as f:
            self.plan = json.load(f)

    def docs(self):
        from parquet_to_postgres_spark.tables import load_table

        return load_table(self.bench.spark, self.dir, "documents")

    def funnel(self, out: str) -> None:
        """One checked ``curate_corpus`` call with shard export, and its
        per-layer metrics."""
        from parquet_to_postgres_spark.llm.pipeline import curate_corpus

        b = self.bench
        docs = self.docs()
        try:
            with b.tracer.span("llm.pipeline.curate_corpus") as sp:
                cur, report = curate_corpus(docs, out_path=out, max_bpc=8.0)
            self.check(cur, report, out)
            report.release()
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            b.op(False, f"curate_corpus: {type(exc).__name__}: {exc}"[:400])
            return
        lay = b.layer
        n_in = report.stages["input"]
        lay["llm.pipeline.curate_corpus_s"] = sp.wall
        lay["llm.pipeline.docs_per_s"] = n_in / sp.wall
        for stage in CURATE_STAGES:
            lay[f"llm.pipeline.docs.{stage}"] = report.stages.get(stage, 0)
        lay["llm.pipeline.kept_ratio"] = report.stages["split"] / n_in

    def check(self, cur, report, out: str) -> None:
        """The funnel never grows; every planted exact duplicate group
        keeps at most one doc; no two output docs share a normalized
        text md5; the shards hold exactly the output, split by split."""
        from pyspark.sql import functions as F

        b = self.bench
        counts = list(report.stages.values())
        b.op(
            all(x >= y for x, y in zip(counts, counts[1:])),
            f"curate_corpus: funnel grows {report.stages}",
        )
        ids = {r[0] for r in cur.select("doc_id").collect()}
        kept_dups = [g for g in self.plan["exact_groups"] if len(ids & set(g)) > 1]
        b.op(not kept_dups, f"curate_corpus: exact duplicates kept {kept_dups[:5]}")
        n_out = len(ids)
        n_md5 = cur.select(F.md5("text")).distinct().count()
        b.op(n_md5 == n_out, f"curate_corpus: {n_out} docs but {n_md5} distinct texts")
        shard_total = sum(m["__total__"] for m in report.manifest.values())
        per_split = {
            split: {
                r[0]
                for r in b.spark.read.parquet(f"{out}/{split}")
                .select("doc_id")
                .collect()
            }
            for split in report.manifest
        }
        union = set().union(*per_split.values())
        disjoint = sum(len(s) for s in per_split.values()) == len(union)
        b.op(
            shard_total == n_out == report.stages["split"] and disjoint and union == ids,
            f"curate_corpus: shards hold {shard_total} docs for {n_out} output docs",
        )

    def probes(self, tmp: str) -> None:
        """Each public curation layer function, called directly on the
        same documents and run to completion through a noop sink."""
        from pyspark.sql import functions as F

        from parquet_to_postgres_spark.etl import write_training_shards
        from parquet_to_postgres_spark.llm import dedup, text

        b = self.bench
        span = b.tracer.span
        lay = b.layer
        docs = self.docs()
        with span("llm.text.normalize") as sp:
            norm = docs.withColumn("text", text.normalize_unicode("text"))
            norm = norm.withColumn("text", text.scrub_pii("text"))
            norm = norm.withColumn("text", text.normalize_text("text")).cache()
            noop(norm)
        lay["llm.text.normalize_s"] = sp.wall
        with span("llm.text.char_lm") as sp:
            lm, vocab = text.train_char_lm(norm, n=3)
            noop(text.score_char_lm(norm, lm, vocab, n=3))
        lay["llm.text.char_lm_s"] = sp.wall
        with span("llm.dedup.span_dedup") as sp:
            noop(dedup.dedup_repeated_spans(norm, n=8))
        lay["llm.dedup.span_dedup_s"] = sp.wall
        with span("llm.dedup.minhash_profiles") as sp:
            profiles = dedup.minhash_profiles_arrow(norm).cache()
            noop(profiles)
        lay["llm.dedup.minhash_profiles_s"] = sp.wall
        with span("llm.dedup.near_dedup") as sp:
            noop(dedup.near_dedup_corpus(norm, threshold=0.8))
        lay["llm.dedup.near_dedup_s"] = sp.wall
        with span("llm.dedup.pairs"):
            pairs = dedup.minhash_band_pairs(profiles).cache()
            cand = pairs.count()
            verified = (
                dedup.profile_jaccard(profiles, pairs)
                .where(F.col("jaccard") >= 0.8)
                .count()
            )
        lay["llm.dedup.candidate_pairs"] = cand
        lay["llm.dedup.verified_pairs"] = verified
        lay["llm.dedup.pair_yield"] = verified / cand if cand else 0.0
        with span("etl.write_training_shards") as sp:
            write_training_shards(norm, os.path.join(tmp, "shards"), n_shards=8)
        lay["etl.write_training_shards_s"] = sp.wall
        for d in (pairs, profiles, norm):
            d.unpersist()
