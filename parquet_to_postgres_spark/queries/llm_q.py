"""LLM-data-pipeline queries (SURVEY.md §2B L1–L8 + training-data ops).

Oracle SQL for the signature-based operators (MinHash, SimHash,
fingerprint) is *generated from the same constants* as the Spark
implementation (llm/dedup.py, llm/text.py) so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..llm import dedup as D
from ..llm import multimodal as M
from ..llm import similarity as S
from ..llm import text as X
from ..llm import udfs as U
from ..tables import Catalog, spread
from . import register

# ---------------------------------------------------------------- L1 ----


# The SQL-side PII regexes ARE the Spark-side ones (llm/text.py) — the
# pattern syntax used (character classes, \b, \d, non-capturing groups)
# is common to Java regex and DuckDB's RE2, so one source of truth
# serves both dialects and they cannot drift.
_PII_SQL = X.PII_PATTERNS


def _corpus_preprocess_oracle(max_doc_frac: float = 0.5, min_docs: int = 2) -> str:
    """DuckDB replay of scrub_pii → remove_boilerplate_lines(sep=' ') →
    normalize_text → exact-dedup key, sharing regexes/constants with
    llm/text.py so the dialects cannot drift."""
    scrub = "text"
    for pat, repl in _PII_SQL:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH scrubbed AS (
      SELECT doc_id, lang, source, {scrub} AS text FROM documents
    ),
    lines AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1, 'line': parts[i]}}
                     for i in range(1, len(parts) + 1)],
                    recursive := true)
      FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM scrubbed)
    ),
    freq AS (
      SELECT md5(line) AS lh, COUNT(DISTINCT doc_id) AS n_docs_with_line
      FROM lines GROUP BY md5(line)
    ),
    boiler AS (
      SELECT lh FROM freq
      WHERE n_docs_with_line >= {min_docs}
        AND n_docs_with_line > (SELECT COUNT(*) FROM documents) * {max_doc_frac}
    ),
    kept AS (
      SELECT * FROM lines WHERE md5(line) NOT IN (SELECT lh FROM boiler)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, ' ' ORDER BY pos, line) AS text
      FROM kept GROUP BY doc_id
    ),
    cleaned AS (
      SELECT s.doc_id, s.lang, s.source,
             trim(regexp_replace(lower(COALESCE(r.text, '')),
                                 '\\s+', ' ', 'g')) AS clean_text
      FROM scrubbed s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
    )
    SELECT doc_id, lang, source, clean_text,
           length(clean_text) AS n_chars,
           md5(clean_text) AS dedup_key,
           COUNT(*) OVER (PARTITION BY md5(clean_text)) AS n_copies
    FROM cleaned
    """


@register(
    "corpus_preprocess",
    oracle=_corpus_preprocess_oracle(),
    tags=("L1", "L5", "L6"),
)
def corpus_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning composite: PII scrub → cross-document
    boilerplate removal → normalization → exact-dedup key, the standard
    pre-training text pipeline run as ONE declared query (promotes the
    formerly pytest-only text-preprocessing operators to the oracle
    gate; VERDICT r3 item 8).

    The documents fixture is single-line, so boilerplate removal runs
    at WORD grain (``sep=' '``): tokens present in over half the corpus
    — the high-document-frequency 'boilerplate vocabulary' — are
    dropped corpus-wide, the word-grain analogue of CCNet line dedup.
    Plan shape at 100 TB (see llm/text.py): regex scrubs ride the scan
    projection; line frequency is one md5-grain aggregate; the corpus
    size rides in as a broadcast scalar; reassembly is one per-doc
    ordered aggregate — no windows over the full corpus, and the final
    dedup count is a key-partitioned window at md5 grain."""
    t = Catalog(spark, sf_dir)
    # spread() (r15): the PII regex battery runs in the scan projection
    # of a single-file fixture — one task, one core, for the most
    # regex-heavy stage of the pipeline.  Measured 1.27 s → 0.89 s (min
    # of 3); no-ops on any multi-file production table.
    scrubbed = spread(t.documents).select(
        "doc_id", "lang", "source", X.scrub_pii("text").alias("text")
    )
    cleaned = X.remove_boilerplate_lines(
        scrubbed, max_doc_frac=0.5, min_docs=2, sep=" "
    ).select(
        "doc_id",
        "lang",
        "source",
        X.normalize_text("text").alias("clean_text"),
    )
    w = Window.partitionBy(F.md5("clean_text"))
    return cleaned.select(
        "doc_id",
        "lang",
        "source",
        "clean_text",
        F.length("clean_text").cast("long").alias("n_chars"),
        F.md5("clean_text").alias("dedup_key"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


# ---------------------------------------------------------------- L2 ----


def minhash_profile_sql(
    num_hashes: int = 128, shingle_n: int | None = 5
) -> tuple[str, str]:
    """DuckDB twin of :func:`~..llm.dedup.minhash_profiles_arrow` over
    the ``documents`` table: ``(ctes, select)``.

    ``ctes`` defines ``toks`` (distinct ``(doc_id, token)`` units: char
    ``shingle_n``-grams, or word tokens when ``shingle_n`` is None),
    ``tid`` (each unit's md5 id mod P) and ``sigs`` (the per-doc
    ``mh*`` min-aggregate).  ``select`` reads them as the kernel's
    profile: ``doc_id, tokset, mh0.., sz``.  Run ``WITH {ctes} {select}``."""
    if shingle_n is None:
        units = "unnest(string_split(text, ' '))"
    else:
        units = f"""unnest([substr(text, i, {shingle_n})
                     for i in range(1, len(text) - {shingle_n - 2})])"""
    sig_cols = []
    for j in range(num_hashes):
        a, b = D.hash_params(j)
        sig_cols.append(
            f"MIN(({a} * vmod + {b}) % {D.MINHASH_P}) AS mh{j}"
        )
    ctes = f"""toks AS (
      SELECT DISTINCT doc_id,
             {units} AS token
      FROM documents
    ),
    tid AS (
      SELECT doc_id,
             {D.UNIT_ID_SQL.format(col="token")} % {D.MINHASH_P} AS vmod
      FROM toks
    ),
    sigs AS (SELECT doc_id, {", ".join(sig_cols)} FROM tid GROUP BY doc_id)"""
    mh = ", ".join(f"mh{j}" for j in range(num_hashes))
    select = f"""
    SELECT doc_id, tokset, {mh}, CAST(len(tokset) AS BIGINT) AS sz
    FROM sigs JOIN (
      SELECT doc_id,
             list_sort(list(DISTINCT {D.UNIT_ID_SQL.format(col="token")}))
               AS tokset
      FROM toks GROUP BY doc_id
    ) USING (doc_id)"""
    return ctes, select


def _minhash_oracle(
    num_hashes: int = 128,
    rows_per_band: int = 8,
    thresh: float = 0.8,
    shingle_n: int = 5,
) -> str:
    ctes, _ = minhash_profile_sql(num_hashes, shingle_n)
    n_bands = num_hashes // rows_per_band
    band_selects = []
    for bidx in range(n_bands):
        keys = " || '_' || ".join(
            f"CAST(mh{bidx * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {bidx} AS band, {keys} AS key FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
    WITH {ctes},
    bands AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.id_a
      JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {thresh}
    """


@register("minhash_near_dup", oracle=_minhash_oracle(), tags=("L2",))
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: MinHash+LSH near-dedup — char-5-gram shingle→signature→band→
    bucket-join, then exact Jaccard only on candidates (the verify stage).

    Unit is the character shingle, not the word token: the shingle space
    is combinatorially large, so unrelated docs rarely collide (word
    tokens degenerate on narrow vocabularies: on this synthetic corpus
    the word vocabulary is 31 tokens and every doc uses ~27 of them, so
    word-level Jaccard is ~0.77 between ALL pairs and word-level LSH
    degenerates to all-pairs).
    Banding is the textbook 128 permutations in 16 bands of 8 rows —
    ~95% recall at Jaccard 0.8, ~0.1% collision rate for the
    corpus-typical 0.2–0.35 pairs, so candidates stay ~linear in the
    true-near-dup count.  Profiles come from the Arrow MinHash kernel
    (dictionary-free md5 unit ids), which finishes in the scan stage
    with no shuffle.

    At 100 TB: candidate generation is an equi-shuffle on (band, key);
    only candidate pairs pay the exact-Jaccard array intersect."""
    t = Catalog(spark, sf_dir)
    # Eager checkpoint: the profile subtree feeds banding AND both
    # sides of the verify join, and those consumers launch concurrently
    # (broadcast exchanges are eager) — an unmaterialized subtree would
    # race and recompute the signature kernel 3x.  stable_checkpoint
    # materializes eagerly and truncates lineage, and upgrades to a
    # reliable cluster-FS checkpoint when the session has a checkpoint
    # dir (local blocks die with an executor).
    from ..checkpoint import stable_checkpoint

    profiles = stable_checkpoint(
        D.minhash_profiles_arrow(t.documents, shingle_n=5)
    )
    pairs = D.minhash_band_pairs(profiles)
    return D.profile_jaccard(profiles, pairs).where(F.col("jaccard") >= 0.8)


def _simhash_oracle(n_bits: int = 48, max_hamming: int = 3) -> str:
    bit_sums = ", ".join(
        f"SUM(w * (((g >> {j}) & 1) * 2 - 1)) AS s{j}" for j in range(n_bits)
    )
    sim_expr = " + ".join(
        f"(CAST(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END AS BIGINT) << {j})"
        for j in range(n_bits)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, token, COUNT(*) AS w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    g AS (
      SELECT doc_id, w,
             {D.UNIT_ID_SQL.format(col="token")} % {1 << n_bits} AS g
      FROM w
    ),
    bits AS (SELECT doc_id, {bit_sums} FROM g GROUP BY doc_id),
    sig AS (SELECT doc_id, {sim_expr} AS simhash FROM bits)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register(
    "textsim_pairs",
    oracle=f"""
    SELECT 'simhash' AS method, id_a, id_b, CAST(hamming AS DOUBLE) AS score
    FROM ({_simhash_oracle()})
    UNION ALL
    SELECT 'ngram3' AS method, id_a, id_b, jaccard3 AS score FROM (
      WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, length(text) - 1),
                                            i -> text[i:i+2])) AS grams
        FROM documents
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard3
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
    )
    """,
)
def textsim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (SimHash + n-gram Jaccard): two text-similarity pair families,
    method-tagged in one declared query.

    ``simhash``: 48-bit weighted sign-sum fingerprint (dictionary-free
    md5 token hashing), pairs within hamming ≤ 3; pairing is bit-band
    blocked (4 bands × 12 bits, recall-lossless by pigeonhole), so the
    candidate join stays linear — never all-pairs.  score = hamming.

    ``ngram3``: character-3-gram Jaccard on consecutive doc pairs
    (linear pairing demonstrates the shingle metric without O(n²)
    pairs).  score = Jaccard.

    Registered but not declared (not in DRIVER_ORDER) since round 7,
    when its slot went to etl_pg_roundtrip; L2 stays declared via
    minhash_near_dup / near_dedup_corpus.  It is the only query that
    reaches dedup.simhash_pairs."""
    t = Catalog(spark, sf_dir)
    sim = D.simhash_pairs(t.documents).select(
        F.lit("simhash").alias("method"),
        "id_a",
        "id_b",
        F.col("hamming").cast("double").alias("score"),
    )
    g = spread(t.documents).select(
        "doc_id", D.char_ngrams("text", 3).alias("grams")
    )
    a = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    ngram = a.join(b, F.col("id_b") == F.col("id_a") + 1).select(
        F.lit("ngram3").alias("method"),
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb"))
        ).alias("score"),
    )
    return sim.unionByName(ngram)


# ------------------------------------------------------------- L3/L4 ----


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings WHERE vec_id >= 5),
    scored AS (
      SELECT query_id, neighbor_id, {S.sql_cosine("qvec", "cvec")} AS score
      FROM c CROSS JOIN q
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: cosine top-k via the two-stage distributed plan (partition-
    local top-k then global merge — identical results to brute force,
    k·P rows through the final shuffle instead of the full corpus).

    Registered but not declared (not in DRIVER_ORDER) since round 13,
    when its slot went to the funnel/retention/cube/ivfpq promotion; L3
    stays declared via ann_topk + embedding_profile + ivfpq_index_probe.
    It is the only query that reaches similarity.two_stage_topk, whose
    plan shape is pinned in tests/test_plans.py
    (test_cosine_two_stage_topk_plan_shape)."""
    t = Catalog(spark, sf_dir)
    emb = t.embeddings
    out = S.two_stage_topk(
        emb.where(F.col("vec_id") >= 5), emb.where(F.col("vec_id") < 5), k=10
    )
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rnk")
    )


@register(
    "cosine_threshold_join",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {S.sql_cosine("a.embedding", "b.embedding")} AS score
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {S.sql_cosine("a.embedding", "b.embedding")} >= 0.2
    """,
)
def cosine_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: pairwise similarity join with threshold, blocked by label so
    the pair space is per-group, not corpus².

    Registered but not declared (not in DRIVER_ORDER) since round 14,
    when its slot went to sketch_cube_slice; L4 stays declared via
    ann_topk and ivfpq_index_probe.  It is the only query that reaches
    similarity.cosine_self_join."""
    t = Catalog(spark, sf_dir)
    return S.cosine_self_join(t.embeddings, threshold=0.2, partition_col="label")


def _sql_sign_bucket(vec: str, n_bits: int = 4) -> str:
    """DuckDB twin of similarity.sign_lsh_bucket (bit i = sign(vec[i]))."""
    return " + ".join(
        f"(CASE WHEN {vec}[{i + 1}] > 0 THEN 1 ELSE 0 END) * {1 << i}"
        for i in range(n_bits)
    )


def _lsh_oracle(k: int = 10, n_bits: int = 4, n_probes: int = 5) -> str:
    """DuckDB replay of the multi-probe sign-LSH ANN pipeline (bucket
    assignment, probe-mask expansion, bucket join, cosine, rank) —
    probe masks shared with the Spark builder via S.lsh_probe_masks."""
    masks = ", ".join(str(m) for m in S.lsh_probe_masks(n_bits, n_probes))
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, embedding AS cvec,
             {_sql_sign_bucket("embedding")} AS bucket
      FROM embeddings WHERE vec_id >= 5
    ),
    q AS (
      SELECT vec_id AS query_id, qvec, xor(base, mask) AS bucket FROM (
        SELECT vec_id, embedding AS qvec,
               {_sql_sign_bucket("embedding")} AS base,
               unnest([{masks}]) AS mask
        FROM embeddings WHERE vec_id < 5
      )
    ),
    scored AS (
      SELECT query_id, neighbor_id, {S.sql_cosine("qvec", "cvec")} AS score
      FROM c JOIN q USING (bucket)
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    """


# ---------------------------------------------------------------- L5 ----


@register(
    "text_metrics",
    oracle=f"""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           length(text) AS n_chars_calc,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
             / len(string_split(text, ' ')) AS mean_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ({", ".join(repr(s) for s in X.QUALITY_STOPWORDS)}))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.4
             + CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ({", ".join(repr(s) for s in X.QUALITY_STOPWORDS)}))) AS DOUBLE)
               / len(string_split(text, ' ')) * 0.3
             + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
                / length(text)) * 0.3 AS quality_score,
           {X.sql_lang_id("text")} AS lang_pred,
           {X.sql_fingerprint("text")} AS fp
    FROM documents
    """,
    tags=("L5", "L6"),
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5+L6 per-doc text analysis in one scan: whitespace + BPE-ish
    token counts, quality features (length / mean-token-length /
    stopword / punctuation ratios, blended quality score), marker-based
    language-ID (argmax with deterministic tie-break; same CASE chain in
    both engines) and the rolling-hash fingerprint.

    Everything is JVM-side builtins and higher-order functions — one
    linear pass, no Python, the per-document feature-extraction shape a
    100 TB training pipeline runs first."""
    t = Catalog(spark, sf_dir)
    feats = X.quality_features("text")
    feats[0] = feats[0].cast("long")  # n_chars_calc: match DuckDB BIGINT
    feats[1] = F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    # spread() (r15): the whole feature pass is interpreted higher-order
    # functions over a single-file scan — ONE input partition, one core
    # (the r12 fuzzy/AQE-fan-out lesson; guide §2.5 input skew).
    # Measured 2.14 s → 0.77 s (min of 3); no-ops on any multi-file
    # production table.
    return spread(t.documents).select(
        "doc_id",
        "lang",
        feats[1],
        X.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        feats[0],
        *feats[2:],
        X.lang_id("text").alias("lang_pred"),
        X.fingerprint("text").alias("fp"),
    )


# ---------------------------------------------------------------- L7 ----


@register(
    "embedding_profile",
    oracle=f"""
    SELECT 'doc' AS facet, d.doc_id, d.lang, d.n_chars, e.label,
           len(e.embedding) AS dim,
           sqrt({S.sql_dot("e.embedding", "e.embedding")}) AS emb_norm,
           CAST(NULL AS BIGINT) AS pos,
           CAST(NULL AS DOUBLE) AS centroid_val
    FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    UNION ALL
    SELECT 'centroid' AS facet,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS BIGINT) AS n_chars,
           label,
           CAST(NULL AS BIGINT) AS dim,
           CAST(NULL AS DOUBLE) AS emb_norm,
           pos,
           CAST(SUM(CAST(round(val * {S.CENTROID_SCALE}) AS BIGINT)) AS DOUBLE)
             / ({S.CENTROID_SCALE}.0 * COUNT(*)) AS centroid_val
    FROM (
      SELECT label, unnest(range(1, 65)) AS pos,
             unnest(list_transform(range(1, 65),
                                   i -> CAST(embedding[i] AS DOUBLE))) AS val
      FROM embeddings
    ) ex
    GROUP BY label, pos
    """,
    tags=("L7", "L3", "F4"),
)
def embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7+L3: the embedding-column profile, facet-tagged in one declared
    query.

    ``doc`` facet: text metadata joined to its embedding vector (the
    multimodal-column join; vector math stays in higher-order
    functions).  ``centroid`` facet: per-label dimension-wise centroids
    (the IVF coarse-quantizer building block) with order-independent
    fixed-point sums — exactly hash-checkable, unlike a double avg."""
    t = Catalog(spark, sf_dir)
    doc = t.documents.join(
        t.embeddings, F.col("vec_id") == F.col("doc_id")
    ).select(
        F.lit("doc").alias("facet"),
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        S.norm("embedding").alias("emb_norm"),
        F.lit(None).cast("long").alias("pos"),
        F.lit(None).cast("double").alias("centroid_val"),
    )
    cent = S.label_centroids(t.embeddings).select(
        F.lit("centroid").alias("facet"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("long").alias("n_chars"),
        "label",
        F.lit(None).cast("long").alias("dim"),
        F.lit(None).cast("double").alias("emb_norm"),
        "pos",
        "centroid_val",
    )
    return doc.unionByName(cent)


def _real_decode_oracle() -> str:
    """Literal-VALUES oracle for the frozen media fixtures: the decode
    is deterministic, so the expected stats are pinned constants (see
    media_fixtures.EXPECTED for which rows are analytic vs decoder-
    pinned)."""
    from ..llm import media_fixtures as MF

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return f"'{v}'"
        return str(v)

    rows = ",\n      ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in MF.EXPECTED
    )
    return f"""
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(fmt AS VARCHAR) AS fmt,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(channels AS INTEGER) AS channels,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n_values AS BIGINT) AS n_values,
           CAST(pixel_sum AS BIGINT) AS pixel_sum
    FROM (VALUES
      {rows}
    ) AS t(media_id, fmt, width, height, channels, sample_rate,
           n_values, pixel_sum)
    """


@register("multimodal_real_decode", oracle=_real_decode_oracle(), tags=("L7",))
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: the NATIVE media decoders on the driver-visible gate
    (VERDICT r9 item 2) — the frozen deterministic fixtures (JPEG
    across flat/pattern/4:4:4/4:2:0+restarts/4:2:2/16-bit-DQT/
    fill-byte variants plus two PROGRESSIVE (SOF2) streams, a
    12-BIT SOF1 stream — r10, VERDICT r9 item 4 and beyond — a
    12-bit PROGRESSIVE 4:2:0-with-restarts stream (r11, VERDICT r10
    item 2), a 4-component CMYK/YCCK stream (r11), and a 16-bit
    LOSSLESS (SOF3) stream pinned to its ANALYTIC input sums (r11) —
    plus
    PNG/BMP/PPM/WAV and a null payload) go
    through :func:`decode_media_real`'s mapInPandas Arrow plumbing, and
    the exact per-payload stats are hash-checked against pinned
    literals.  ``pixel_sum`` is ``round(mean * n)`` — an exact integer
    (a uint8/int16 total stays far below 2^53), so the float mean never
    touches the hash.  Fixture provenance + the analytic-vs-pinned
    split is documented in llm/media_fixtures.py; decode ACCURACY vs
    the independent encoder is pytest-pinned (tests/test_multimodal.py)
    — this row witnesses determinism and the Spark-side plumbing."""
    from ..llm import media_fixtures as MF

    media = spark.createDataFrame(
        MF.payloads(), "media_id long, content binary"
    )
    dec = M.decode_media_real(media)
    return dec.select(
        "media_id",
        "fmt",
        "width",
        "height",
        "channels",
        "sample_rate",
        "n_values",
        F.round(F.col("mean_value") * F.col("n_values"))
        .cast("long")
        .alias("pixel_sum"),
    )


# ---------------------------------------------------------------- L8 ----


@register(
    "udf_surface",
    oracle=f"""
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           (SELECT COUNT(DISTINCT t.token) FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
            ) t JOIN documents dd ON dd.doc_id = t.doc_id WHERE dd.lang = d.lang
           ) AS vocab_size,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_words,
           MIN({X.sql_fingerprint("d.text")}) AS min_fp
    FROM documents d GROUP BY d.lang
    """,
    tags=("L8",),
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: the full Python-boundary surface in one declared query — a
    vectorized pandas UDF (Arrow batches; word count) and a row-at-a-time
    Python UDF (the documented slow path; rolling hash) feed per-row
    columns into an applyInPandas pandas UDAF (per-language corpus
    stats).  Every output is an integer, so the Python aggregation is
    exactly SQL-reproducible regardless of row/partition order."""
    t = Catalog(spark, sf_dir)
    return U.udf_surface_stats(t.documents)


# ------------------------------------------------- training-data ops ----


_SPAN_DEDUP_N = 4


@register(
    "span_dedup",
    oracle=f"""
    WITH dd AS ({{span_sql}})
    SELECT dd.doc_id,
           dd.text AS deduped_text,
           length(dd.text) AS n_chars_after,
           length(o.text) - length(dd.text) AS n_chars_removed
    FROM dd JOIN documents o ON dd.doc_id = o.doc_id
    WHERE dd.text <> o.text
    """.format(span_sql=D.sql_dedup_repeated_spans("documents", n=_SPAN_DEDUP_N)),
    tags=("L1", "dedup"),
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span (exact-substring) dedup over the corpus: every
    4-token span occurring twice+ survives only at its canonical first
    occurrence; documents are rebuilt from the surviving tokens and the
    query returns the CHANGED docs with their rebuilt text — the grain
    between whole-doc exact dedup and MinHash near-dedup (license
    headers, templated boilerplate).

    Hash-exact by construction: md5-derived gram ids, integer ranking,
    pure string rebuild — no floats anywhere, so the DuckDB twin (the
    same `sql_dedup_repeated_spans` generator the pytest property suite
    drives with random corpora) matches bit-for-bit.  Scale shape: the
    count-filter pass bounds the ranking shuffle to duplicated text
    volume; every stage is a keyed equi-shuffle (dedup.py docstring)."""
    t = Catalog(spark, sf_dir)
    # the original text rides ALONGSIDE as a passthrough column instead
    # of a post-hoc corpus self-join: dedup_repeated_spans preserves
    # non-text columns, so `__orig` reaches the output untouched and
    # the whole pipeline runs once — the former join re-derived the
    # dedup subtree AND re-scanned/re-shuffled the full text corpus a
    # second time (r12: ~5s -> ~1.5s warm at sf0.1)
    # spread() (r15): both posexplode passes (gram occurrences, token
    # rebuild) and their partial aggregates otherwise run on the single
    # scan task of the one-file fixture.  Measured 3.67 s → 2.98 s (min
    # of 3); no-ops on any multi-file production table.
    docs = spread(
        t.documents.select("doc_id", "text", F.col("text").alias("__orig"))
    )
    out = D.dedup_repeated_spans(docs, n=_SPAN_DEDUP_N)
    return (
        out.where(F.col("text") != F.col("__orig"))
        .select(
            "doc_id",
            F.col("text").alias("deduped_text"),
            F.length("text").cast("long").alias("n_chars_after"),
            (F.length("__orig") - F.length("text"))
            .cast("long")
            .alias("n_chars_removed"),
        )
    )


def _sql_cent_dot(vec: str, cent: str, dim: int = 64) -> str:
    """dot(vector, centroid-array) in DuckDB (centroid already DOUBLE)."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * {cent}[i]), (x, y) -> x + y)"
    )


def _ivf_oracle(k: int = 10, n_probes: int = 2) -> str:
    assign = """
    SELECT {id} AS {id_out}, v.embedding AS {vec_out}, cell FROM (
      SELECT v.vec_id, v.embedding, ct.cell,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY ({cdot} / sqrt({ccdot})) DESC, ct.cell) AS crank
      FROM ({src}) v CROSS JOIN cents ct
    ) v WHERE crank <= {probes}
    """
    cdot = _sql_cent_dot("v.embedding", "ct.centroid")
    ccdot = _sql_cent_dot("ct.centroid", "ct.centroid")
    cassign = assign.format(
        id="v.vec_id", id_out="neighbor_id", vec_out="cvec",
        src="SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5",
        cdot=cdot, ccdot=ccdot, probes=1,
    )
    qassign = assign.format(
        id="v.vec_id", id_out="query_id", vec_out="qvec",
        src="SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5",
        cdot=cdot, ccdot=ccdot, probes=n_probes,
    )
    return f"""
    WITH cents0 AS (
      SELECT label AS cell, pos,
             CAST(SUM(CAST(round(val * {S.CENTROID_SCALE}) AS BIGINT)) AS DOUBLE)
               / ({S.CENTROID_SCALE}.0 * COUNT(*)) AS centroid_val
      FROM (
        SELECT label,
               unnest(range(1, 65)) AS pos,
               unnest(list_transform(range(1, 65),
                                     i -> CAST(embedding[i] AS DOUBLE))) AS val
        FROM embeddings WHERE vec_id >= 5
      ) GROUP BY cell, pos
    ),
    cents AS (
      SELECT cell, list(centroid_val ORDER BY pos) AS centroid
      FROM cents0 GROUP BY cell
    ),
    cassign AS ({cassign}),
    qassign AS ({qassign}),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             {S.sql_cosine("q.qvec", "c.cvec")} AS score
      FROM cassign c JOIN qassign q USING (cell)
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    """


def _quantized_oracle(
    k: int = 10, n_bits: int = 4, n_probes: int = 5, rerank: int = 3
) -> str:
    """DuckDB replay of the int8-quantized ANN pipeline
    (similarity.ann_topk_quantized): symmetric per-vector quantization,
    sign-LSH bucket from the FULL-precision vector, multi-probe bucket
    join, exact-integer quantized cosine prune to k·rerank, then
    full-precision re-score of the survivors.

    The quantized stage is exact int64 arithmetic (scales cancel in
    cosine), so the oracle matches bit-for-bit; the re-score reuses the
    same left-fold double cosine as every other L3/L4 oracle."""
    masks = ", ".join(str(m) for m in S.lsh_probe_masks(n_bits, n_probes))
    return f"""
    WITH cq AS (
      SELECT neighbor_id, bucket,
             {S.sql_quantize("cvec", "mx")} AS qc
      FROM (
        SELECT vec_id AS neighbor_id, embedding AS cvec,
               {_sql_sign_bucket("embedding")} AS bucket,
               {S.sql_abs_max("embedding")} AS mx
        FROM embeddings WHERE vec_id >= 5
      )
    ),
    cq2 AS (
      SELECT neighbor_id, bucket, qc, {S.sql_int_dot("qc", "qc")} AS css
      FROM cq
    ),
    qq AS (
      SELECT query_id, xor(base, mask) AS bucket, qv8,
             {S.sql_int_dot("qv8", "qv8")} AS qss
      FROM (
        SELECT query_id, base, unnest([{masks}]) AS mask,
               {S.sql_quantize("qvec", "mx")} AS qv8
        FROM (
          SELECT vec_id AS query_id, embedding AS qvec,
                 {_sql_sign_bucket("embedding")} AS base,
                 {S.sql_abs_max("embedding")} AS mx
          FROM embeddings WHERE vec_id < 5
        )
      )
    ),
    cand AS (
      SELECT q.query_id, c.neighbor_id,
             {S.sql_quantized_cosine(S.sql_int_dot("q.qv8", "c.qc"), "q.qss", "c.css")}
               AS q_score
      FROM cq2 c JOIN qq q USING (bucket)
    ),
    survivors AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY q_score DESC, neighbor_id) AS qrank
        FROM cand
      ) WHERE qrank <= {k * rerank}
    ),
    rescored AS (
      SELECT s.query_id, s.neighbor_id,
             {S.sql_cosine("qe.embedding", "ce.embedding")} AS score
      FROM survivors s
      JOIN embeddings ce ON ce.vec_id = s.neighbor_id
      JOIN embeddings qe ON qe.vec_id = s.query_id
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM rescored
    ) WHERE rnk <= {k}
    """


@register(
    "ann_topk",
    oracle=f"""
    SELECT 'lsh' AS method, query_id, neighbor_id, score, rnk
    FROM ({_lsh_oracle()})
    UNION ALL
    SELECT 'ivf' AS method, query_id, neighbor_id, score, rnk
    FROM ({_ivf_oracle()})
    UNION ALL
    SELECT 'quant' AS method, query_id, neighbor_id, score, rnk
    FROM ({_quantized_oracle()})
    """,
    tags=("L3", "L4"),
)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L4 approx: all three ANN index families, method-tagged in one
    declared query.

    ``lsh``: sign-LSH bucketed top-k — the bucket equi-join replaces the
    cross join (~corpus/2^bits candidates per query).  ``ivf``:
    IVF-bucketed top-k — nearest-centroid cell assignment (broadcast
    coarse quantizer), probe only the query's cell.  ``quant``: the
    int8-quantized two-stage path (VERDICT r3 item 2) — candidates from
    the LSH bucket join are pruned with the exact-integer quantized
    cosine (4× less scan/shuffle than float32) and only the top
    k·rerank survivors are re-scored at full precision.

    'Approximate' is with respect to the TRUE neighbors; all three
    algorithms are deterministic end-to-end (fixed hyperplanes;
    fixed-point centroid sums; exact int64 quantized dots; total-order
    tie breaks), so the oracle replays all three full pipelines —
    bucket/cell assignment, quantization, candidate join, cosine,
    rank — in SQL and the gate checks them exactly.  Measured recall vs
    brute force is pinned in tests/test_ann_recall.py."""
    t = Catalog(spark, sf_dir)
    emb = t.embeddings
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5)
    # One shared, checkpointed corpus-prep subtree across the three
    # families instead of three independent rebuilds; each family runs
    # the same leg as its standalone operator.
    return S.ann_topk_all_methods(corpus, queries, k=10).select(
        "method",
        "query_id",
        "neighbor_id",
        "score",
        F.col("rank").cast("long").alias("rnk"),
    )


@register(
    "weighted_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IS NOT NULL AND n_chars > 0
    ORDER BY -ln((('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 13))::BIGINT
                  + 1.0) / 4503599627370497.0) / n_chars,
             doc_id
    LIMIT 100
    """,
    tags=("L9", "sampling"),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: exact weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES) — 100 documents drawn with probability proportional
    to length, deterministically replayable in any engine.

    The priority is ``-ln(u)/w`` with ``u`` md5-derived from (doc_id,
    salt) — not an RNG — so DuckDB recomputes the identical sample
    (everything up to the ln is exact IEEE arithmetic; the ln's last
    ulp could at worst swap ranks k/k+1, which the gate would surface).
    Selection is a global top-k: Spark plans TakeOrderedAndProject —
    per-partition heaps of k, driver merge of P·k rows, NO global sort
    at any scale (operators.py `weighted_sample_topk`).  The priority
    column is dropped, never emitted: it is the one libm-dependent
    value in the pipeline."""
    from ..operators import weighted_sample_topk

    t = Catalog(spark, sf_dir)
    return weighted_sample_topk(
        t.documents.select("doc_id", "lang", "source", "n_chars"),
        id_col="doc_id",
        weight_col="n_chars",
        k=100,
        salt=0,
    )


# ------------------------------------------------------- IVF-PQ probe ----


def _ivfpq_probe_oracle(k: int = 10, n_probes: int = 2) -> str:
    """DuckDB replay of the persisted-IVF-PQ probe gate query.

    The replayable pieces, in order: unit normalization with Spark
    ``_unit``'s EXACT float semantics (the element square happens in
    FLOAT32 — ``a + x * x`` multiplies two floats before the double
    add — so the twin squares via ``CAST(x * x AS FLOAT)``; a
    double-precision square diverges in the 8th decimal and every
    downstream bit; measured r13), fixed-point label centroids over the
    unit corpus (the ``cents0`` construction of ``_ivf_oracle``, but in
    unit space), L2 nearest-cell assignment / multi-probe (sq_dist is a
    pure-double fold on both engines), then the exact re-rank: the
    candidate set is every corpus vector in a probed cell (the gate
    query's ``rerank`` covers all of them — see its docstring), scored
    by the same unit-vector dot ``_adc_topk_tail`` emits."""
    unit = """
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS uvec
      FROM (
        SELECT vec_id, label, embedding,
               sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(CAST(x * x AS FLOAT) AS DOUBLE)),
                    (a, b) -> a + b)) AS nrm
        FROM embeddings WHERE {pred}
      ) WHERE nrm > 0
    """
    sqd = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> (v.uvec[i] - ct.centroid[i]) * (v.uvec[i] - ct.centroid[i])), "
        "(a, b) -> a + b)"
    )
    return f"""
    WITH cu AS ({unit.format(pred="vec_id >= 5")}),
    qu AS ({unit.format(pred="vec_id < 5")}),
    cents0 AS (
      SELECT label AS cell, pos,
             CAST(SUM(CAST(round(val * {S.CENTROID_SCALE}) AS BIGINT)) AS DOUBLE)
               / ({S.CENTROID_SCALE}.0 * COUNT(*)) AS centroid_val
      FROM (
        SELECT label, unnest(range(1, 65)) AS pos,
               unnest(list_transform(range(1, 65), i -> uvec[i])) AS val
        FROM cu
      ) GROUP BY cell, pos
    ),
    cents AS (
      SELECT cell, list(centroid_val ORDER BY pos) AS centroid
      FROM cents0 GROUP BY cell
    ),
    cassign AS (
      SELECT vec_id AS neighbor_id, uvec AS cvec, cell FROM (
        SELECT v.vec_id, v.uvec, ct.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {sqd}, ct.cell) AS rn
        FROM cu v CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, uvec AS qvec, cell FROM (
        SELECT v.vec_id, v.uvec, ct.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {sqd}, ct.cell) AS rn
        FROM qu v CROSS JOIN cents ct
      ) WHERE rn <= {n_probes}
    ),
    cand AS (
      SELECT q.query_id, c.neighbor_id,
             list_reduce(list_transform(range(1, 65),
                 i -> q.qvec[i] * c.cvec[i]), (a, b) -> a + b) AS score
      FROM cassign c JOIN qprobe q USING (cell)
    )
    SELECT query_id, neighbor_id, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= {k}
    """


@register("ivfpq_index_probe", oracle=_ivfpq_probe_oracle(), tags=("L3", "L4"))
def ivfpq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L4 approx, ANN family #5 on the gate (VERDICT r12 item 4):
    build a persisted IVF-PQ index in-session and answer top-k through
    it — centroids/codebooks/per-cell hive codes written to parquet,
    then :func:`ivfpq_index_topk` reads ONLY the probed cells'
    partitions (planning-time prune, pinned in tests/test_ann_index.py)
    and runs the ADC → exact-re-rank tail.

    Two declared-gate adaptations, both owned here:

    - The coarse quantizer is the SQL-replayable label construction
      (``_centroid_arrays`` over UNIT vectors — the ann_topk_ivf cells
      in the L2/unit space IVF-PQ requires) via ``ivfpq_train``'s
      bring-your-own-centroids path; Lloyd's iterative centroids can't
      be replayed by an ANSI oracle.  Lloyd-vs-label is a training
      choice, not a probe-path difference — every probed byte, prune,
      LUT and re-rank below is the production path.
    - ``rerank`` is sized so k·rerank covers EVERY candidate in the
      probed cells at both gate scales (<= ~450 of 2k vectors at
      sf0.1), making the output exactly "brute-force top-k over the
      probed cells" — which is what an ANSI oracle can state.  The ADC
      sum still computes and still orders the candidate stream (a
      broken LUT would surface as a wrong two-stage selection on any
      larger corpus); ADC *selectivity* (rerank << candidates) and its
      recall ladder are pinned in tests/test_ann_recall.py, the same
      division of labor as ann_topk's recall note.

    Build-once/probe-many is part of the MEASURED surface: the store
    is content-keyed by (source file stat, model params, and a digest
    of the build pipeline's own source — any edit to the train/encode/
    write functions auto-invalidates, no hand-bumped version to
    forget), the marker is dropped before a rebuild and atomically
    replaced only after it completes (a torn build — or a torn/corrupt
    marker, treated as stale — can never masquerade as current), and a
    matching key skips straight to the probe — so the bench's repeat
    runs price what production pays per query batch (the probe), while
    the first run / a changed fixture / changed code prices the full
    pipeline.  Index content is a deterministic function of the key,
    so probing a prior process's store returns bit-identical rows (the
    cache branch — hit, corrupt marker, stale key — is pinned in
    tests/test_ann_index.py::test_ivfpq_gate_probe_cache_branch).
    The marker machinery is the shared
    :func:`~..operators.build_once` engine (r13 verdict item 5 — this
    query previously carried its own copy)."""
    import os

    from ..operators import build_once, content_key
    from .etl_q import _scratch

    t = Catalog(spark, sf_dir)
    emb = t.embeddings
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5)
    # digest the WHOLE similarity module + this builder (content_key's
    # documented contract): the store is a function of a deep call
    # closure (_unit, _centroid_arrays, pq_train, encode ...) and
    # enumerating it by hand missed members (r13 review finding)
    key = content_key(
        os.path.join(sf_dir, "embeddings.parquet"),
        {"m": 8, "codes": 16, "pq_iterations": 1, "cells": "label-unit"},
        S,
        ivfpq_index_probe,
        # explicit session: getActiveSession is thread-local and can
        # be None in a multithreaded driver (r15 review finding)
        spark=spark,
    )
    path = _scratch(
        f"ivfpq/gate_{os.path.basename(os.path.normpath(sf_dir))}"
    )

    def build():
        c_unit_lab = S._unit_frame(corpus, "label", "embedding", "label", "uvec")
        centroids = S._centroid_arrays(
            c_unit_lab, by="label", vec_col="uvec"
        ).select(F.col("label").alias("cell"), "centroid")
        models = S.ivfpq_train(
            corpus, m=8, codes=16, pq_iterations=1, centroids=centroids
        )
        S.write_ivfpq_index(corpus, path, models=models)

    build_once(spark, path, key, build)
    out = S.ivfpq_index_topk(
        spark, path, corpus, queries, k=10, n_probes=2, rerank=100
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "score",
        F.col("rank").cast("long").alias("rnk"),
    )
