"""End-to-end corpus curation: the composed pipeline a training-data
engine exists to run, as one function with one report.

``curate_corpus`` chains the library's stages in the canonical order —
normalize (NFKC + PII scrub + case/whitespace) → rule quality gate →
char-LM perplexity gate → repeated-span dedup → exact dedup → MinHash
near-dedup → benchmark decontamination → split assignment → sharded
export — and returns the surviving corpus plus a ``CurationReport``
whose per-stage counts are the audit trail (every count is a bounded
aggregate; nothing corpus-sized ever reaches the driver).

Scale posture is inherited from the components, each individually
plan-pinned in its own test suite: scan-level normalization and rule
gates, broadcast-model perplexity scoring, keyed-equi-shuffle dedup
family, broadcast left-anti decontamination, scan-level split
assignment, hash-sharded export.  The composite adds NO driver-side
loops and NO extra shuffles beyond its parts.

Determinism: every stage is deterministic (fixed-point sums, salted
Knuth hashes, md5 ids), so two runs over the same input produce
byte-identical shards and an identical report — the property that makes
a 100 TB curation run auditable and resumable.

Reference scope note: the reference (210-line parquet→Postgres ETL,
src/main.rs) has no curation pipeline; this composes the
BASELINE.json north-star surface into its intended shape.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CurationReport:
    """Per-stage surviving doc counts (insertion-ordered) plus the
    shard manifest when an export path was given.

    The returned corpus stays persisted (MEMORY_AND_DISK) so downstream
    consumers don't recompute the funnel; long-lived sessions call
    :meth:`release` when done (the same contract as the ANN prep
    handle)."""

    stages: dict[str, int] = field(default_factory=dict)
    manifest: dict | None = None
    _persisted: list = field(default_factory=list)

    def release(self) -> None:
        for d in self._persisted:
            d.unpersist()
        self._persisted = []


def _recorder(report: CurationReport) -> Callable[[str, DataFrame], DataFrame]:
    """``record(stage, d)``: persist ``d``, count it ONCE into
    ``report.stages[stage]``, then release the previous stage's blocks.

    Without this, stage k's count() replays stages 1..k-1 from the scan
    and the funnel goes quadratic in recomputation (measured 140 s ->
    37 s warm at sf0.1).  Peak storage is two adjacent stages,
    disk-spillable."""
    from pyspark import StorageLevel

    prev: list[DataFrame] = []

    def record(stage: str, d: DataFrame) -> DataFrame:
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        report.stages[stage] = d.count()
        if prev:
            prev.pop().unpersist()
        prev.append(d)
        return d

    return record


def _normalize(df: DataFrame, text_col: str) -> DataFrame:
    """NFKC -> PII scrub -> case/whitespace normal form."""
    from .text import normalize_text, normalize_unicode, scrub_pii

    return (
        df.withColumn(text_col, normalize_unicode(text_col))
        .withColumn(text_col, scrub_pii(text_col))
        .withColumn(text_col, normalize_text(text_col))
    )


def _rule_gate(
    df: DataFrame, text_col: str, min_tokens: int, max_punct_ratio: float
) -> DataFrame:
    """Scan-level quality predicates: non-null, enough tokens, not too
    much punctuation."""
    from .classify import _norm_tokens

    n_toks = F.size(_norm_tokens(text_col))
    punct = (
        F.length(text_col)
        - F.length(F.regexp_replace(text_col, "[^a-z0-9 ]", ""))
    ).cast("double") / F.greatest(F.length(text_col), F.lit(1))
    return df.where(
        F.col(text_col).isNotNull()
        & (n_toks >= min_tokens)
        & (punct <= max_punct_ratio)
    )


def _span_dedup(
    df: DataFrame, span_n: int, min_tokens: int, id_col: str, text_col: str
) -> DataFrame:
    """Repeated-span dedup; it rebuilds text and may empty some docs, so
    the token floor is applied again."""
    from .classify import _norm_tokens
    from .dedup import dedup_repeated_spans

    return dedup_repeated_spans(
        df, n=span_n, id_col=id_col, text_col=text_col
    ).where(F.size(_norm_tokens(text_col)) >= min_tokens)


def _exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized text, keeping the lowest id via a
    map-side-combinable min-agg + AQE-skew-splittable join — NOT a
    row_number window, which would funnel every copy of a mega-
    duplicated document onto one reducer (same argument as
    dedup.dedup_repeated_spans' canonical selection)."""
    key = F.md5(F.col(text_col))
    winners = (
        df.select(F.col(id_col), key.alias("__k"))
        .groupBy("__k")
        .agg(F.min(id_col).alias("__winner"))
    )
    return (
        df.withColumn("__k", key)
        .join(winners, "__k")
        .where(F.col(id_col) == F.col("__winner"))
        .drop("__k", "__winner")
    )


def curate_corpus(
    df: DataFrame,
    eval_df: DataFrame | None = None,
    out_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.6,
    max_bpc: float | None = None,
    lm_n: int = 3,
    span_n: int = 8,
    near_dup_threshold: float = 0.8,
    splits: dict[str, float] | None = None,
    n_shards: int = 8,
    salt: int = 0,
    markup: bool = False,
    shard_format: str = "parquet",
) -> tuple[DataFrame, CurationReport]:
    """Run the full curation pipeline; see module docstring.

    - ``markup=True`` prepends HTML/markup stripping to normalization
      (crawled web text).
    - ``shard_format`` is passed to ``write_training_shards``
      (``parquet`` or ``jsonl``).
    - ``max_bpc=None`` skips the char-LM gate (it costs one extra
      model-train pass over the corpus).
    - ``eval_df=None`` skips decontamination.
    - ``out_path=None`` skips the sharded export (the returned
      DataFrame still carries the ``split`` column).

    Returns ``(curated_df, report)``; ``curated_df`` keeps the input
    columns (with ``text_col`` fully normalized) plus ``split``."""
    from ..etl import write_training_shards
    from .dedup import near_dedup_corpus
    from .text import decontaminate, score_char_lm, strip_markup, train_char_lm

    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    report = CurationReport()
    record = _recorder(report)

    cur = record("input", df)

    # 1. normalize: [markup strip ->] NFKC -> PII scrub -> case/ws form
    if markup:
        cur = cur.withColumn(text_col, strip_markup(text_col))
    cur = record("normalized", _normalize(cur, text_col))

    # 2. rule quality gate (scan-level predicates)
    cur = record(
        "rule_gate", _rule_gate(cur, text_col, min_tokens, max_punct_ratio)
    )

    # 3. char-LM perplexity gate (optional; model bounded by charset^n)
    if max_bpc is not None:
        lm, vocab = train_char_lm(cur, n=lm_n, text_col=text_col)
        bpc = score_char_lm(
            cur, lm, vocab, n=lm_n, text_col=text_col, id_col=id_col
        ).select(id_col, "bpc")
        cur = record(
            "lm_gate",
            cur.join(bpc, id_col, "left").where(
                F.col("bpc").isNull() | (F.col("bpc") <= max_bpc)
            ).drop("bpc"),
        )

    # 4. repeated-span dedup (rebuilds text; may empty some docs)
    cur = record(
        "span_dedup", _span_dedup(cur, span_n, min_tokens, id_col, text_col)
    )

    # 5. exact dedup on the normalized text (lowest id wins)
    cur = record("exact_dedup", _exact_dedup(cur, id_col, text_col))

    # 6. MinHash near-dedup (keep one representative per cluster)
    cur = record(
        "near_dedup",
        near_dedup_corpus(
            cur,
            threshold=near_dup_threshold,
            text_col=text_col,
            id_col=id_col,
        ),
    )

    # 7. benchmark decontamination (optional)
    if eval_df is not None:
        cur = record(
            "decontaminated",
            decontaminate(
                cur, eval_df, id_col=id_col, text_col=text_col
            ),
        )

    # 8. deterministic split assignment (disjoint + covering)
    from ..operators import assign_splits

    cur = record(
        "split", assign_splits(cur, id_col, splits, salt=salt)
    )

    # 9. sharded export per split (optional)
    if out_path is not None:
        manifest: dict = {}
        for split in sorted(splits):
            part = cur.where(F.col("split") == split)
            manifest[split] = write_training_shards(
                part,
                f"{out_path}/{split}",
                n_shards=n_shards,
                id_col=id_col,
                salt=salt,
                fmt=shard_format,
            )
        report.manifest = manifest
    report._persisted.append(cur)
    return cur, report


def curate_increment(
    df: DataFrame,
    exact_store: DataFrame | None = None,
    band_store: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.6,
    span_n: int = 8,
    near_dup_threshold: float = 0.8,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    shingle_n: int = 5,
) -> tuple[DataFrame, CurationReport, DataFrame, DataFrame]:
    """Curate an INGEST INCREMENT (today's crawl) against the corpus
    already ingested — the production mode of a continuously-fed
    training set, where re-running the full pipeline over 100 TB per
    day is not an option.

    Stages: normalize → rule gate → span dedup (within the increment) →
    exact dedup (within the increment, then anti-join the historical
    ``exact_store`` of md5 keys) → MinHash near-dedup (within the
    increment, then band-key semi-join against the historical
    ``band_store``, :func:`~.dedup.near_dedup_against_store`).  The
    increment's band keys come from ONE pass of the zero-shuffle Arrow
    MinHash kernel :func:`~.dedup.minhash_profiles_arrow`, shared by
    the store check and the returned band delta.

    Returns ``(survivors, report, exact_keys_delta, band_rows_delta)``:
    the caller WRITES the two deltas into the stores (bucketed on their
    join keys — see ``corpus_band_store``) to make the NEXT increment
    see today's survivors.  Write them (or checkpoint) before reuse —
    as returned they are lazy plans over the whole pipeline, kept cheap
    by the persisted survivor stage but carrying its full lineage.  Re-running the same increment after
    appending its deltas drops every document — idempotent ingest,
    pinned in tests.

    Scale shape: both historical checks are keyed joins against stores
    that are a small fraction of the corpus (one md5 row per doc; one
    row per (doc, band)); the increment — typically orders of magnitude
    smaller than history — is the only data in flight."""
    from pyspark import StorageLevel

    from .dedup import band_keys, minhash_profiles_arrow, near_dedup_corpus

    report = CurationReport()
    record = _recorder(report)

    cur = record("input", df)
    cur = record("normalized", _normalize(cur, text_col))
    cur = record(
        "rule_gate", _rule_gate(cur, text_col, min_tokens, max_punct_ratio)
    )
    cur = record(
        "span_dedup", _span_dedup(cur, span_n, min_tokens, id_col, text_col)
    )
    cur = record("exact_dedup", _exact_dedup(cur, id_col, text_col))
    if exact_store is not None:
        cur = record(
            "exact_vs_store",
            cur.join(
                exact_store,
                F.md5(F.col(text_col)) == exact_store["dedup_key"],
                "left_anti",
            ),
        )
    cur = record(
        "near_dedup",
        near_dedup_corpus(
            cur,
            threshold=near_dup_threshold,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            shingle_n=shingle_n,
            text_col=text_col,
            id_col=id_col,
        ),
    )
    # ONE signature pass serves both the historical check and the
    # returned delta (review finding: the store semi-join and the delta
    # each re-shingled and re-hashed the batch from scratch — two full
    # extra passes of 128 hash evaluations per shingle).
    bands = band_keys(
        minhash_profiles_arrow(cur, num_hashes, text_col, id_col, shingle_n),
        num_hashes,
        rows_per_band,
        id_col,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    report._persisted.append(bands)
    if band_store is not None:
        matched = (
            bands.join(band_store, ["band", "key"], "left_semi")
            .select(id_col)
            .distinct()
        )
        cur = record(
            "near_vs_store", cur.join(matched, id_col, "left_anti")
        )
    exact_delta = cur.select(
        F.md5(F.col(text_col)).alias("dedup_key")
    ).distinct()
    band_delta = (
        bands.join(cur.select(id_col), id_col, "left_semi")
        .select("band", "key")
        .distinct()
    )
    report._persisted.append(cur)
    return cur, report, exact_delta, band_delta
