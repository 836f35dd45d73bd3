"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All near-dup signatures hash the unit (shingle / word) DIRECTLY and
dictionary-free: ``md5(token)`` truncated to a 60-bit integer, then an
arithmetic family ``h_j(v) = (a_j·v + b_j) mod p`` on top.  md5 is
bit-identical across engines, so the DuckDB oracle reproduces every
signature — unlike Spark's murmur3 ``hash()`` vs DuckDB's ``hash()``,
which disagree.  Hashing directly (no distinct+rank token dictionary)
matters at 100 TB: under Heaps' law the vocabulary grows into the
billions, and ANY global id-assignment step — even a two-phase ranked
one — is an extra shuffle+join per signature job.  MinHash signatures
have ONE implementation, the Arrow kernel :func:`minhash_profiles_arrow`,
which finishes every signature in the scan stage with no shuffle; its
aggregate form lives on only as the DuckDB oracle SQL
(``queries.llm_q.minhash_profile_sql``).

Scale notes: the banded LSH join groups by (band, key) so candidate
generation is an equi-shuffle, never a cross join.  Exact dedup is a
single hash-aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import persistent_rdd_ids, release_rdds, stable_checkpoint
from ..tables import spread

# Affine family over 60-bit md5-derived unit ids:
#   h_j(v) = ((A + STEP_A*j) * (v mod P) + (B + STEP_B*j)) mod P
# (≡ (A_j·v + B_j) mod P by modular arithmetic — the pre-reduction keeps
# every product under 2^63: A_j < 9.2e9 for j ≤ 127 and v mod P < ~1e9,
# so A_j·(v mod P) ≤ 9.2e18 < int64 max.  Both engines do this in int64.)
# Two historical pitfalls, both hit and fixed during development, kept
# documented because they constrain the constants:
# 1. P must be MUCH larger than the distinct-unit count per doc family —
#    with a small modulus the min over a doc's hashes concentrates near 0
#    and band keys collide for unrelated docs (LSH → all-pairs).
# 2. With ordered inputs the multiplier must wrap the modulus (A_j > P),
#    else h_j is order-preserving and all hash functions pick the same
#    argmin.  md5 pre-mixing makes this moot, but A_j > P is kept anyway.
MINHASH_P = 1_000_000_007
A0, STEP_A, B0, STEP_B = 1_200_000_011, 62_500_003, 12_289, 271_829


def hash_params(j: int) -> tuple[int, int]:
    return A0 + STEP_A * j, B0 + STEP_B * j


# 60-bit id: 15 hex digits of md5.  Positive, < 2^60, identical in both
# engines (Spark: conv(hex,16,10); DuckDB: ('0x'||hex)::BIGINT).
UNIT_ID_SQL = "('0x' || substr(md5({col}), 1, 15))::BIGINT"


def unit_id(token_col: str = "token") -> Column:
    """Deterministic 60-bit integer id of a token string (md5-derived)."""
    return F.conv(F.substring(F.md5(F.col(token_col)), 1, 15), 16, 10).cast(
        "long"
    )


def tokenize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token) pairs, set semantics (distinct per doc)."""
    return (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .distinct()
    )


def token_dictionary(tokens: DataFrame) -> DataFrame:
    """Dense 1-based token ids, ordered by token text (deterministic).

    NOT on the signature path anymore — MinHash/SimHash hash tokens
    directly via :func:`unit_id` (no global id-assignment step at all).
    Kept for workloads that genuinely need DENSE ids (embedding row
    indices, matrix factorization inputs).

    Ranking is the two-phase :func:`~..operators.distributed_rank`
    (range-repartition → per-partition rank → broadcast offsets), NOT a
    single-partition global window: under Heaps' law a 100 TB corpus has
    a vocabulary of billions of tokens, and funneling it through one
    ranking task would be the pipeline's scale ceiling.  Ids are
    identical to ``row_number() OVER (ORDER BY token)`` — token text is
    a total order — so the generated oracle SQL is unchanged."""
    from ..operators import distributed_rank

    return distributed_rank(
        tokens.select("token").distinct(), [F.col("token")], rank_col="token_id"
    ).withColumn("token_id", F.col("token_id").cast("int"))


# Arrow ListArray offsets are int32: the kernel splits its output so no
# emitted batch's token total passes this.
_MAX_LIST_OFFSET = (1 << 31) - 1


def minhash_profiles_arrow(
    df: DataFrame,
    num_hashes: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = 5,
) -> DataFrame:
    """Per-doc MinHash profile ``(id_col, tokset, mh0..mh{k-1}, sz)``,
    computed ZERO-SHUFFLE in an Arrow/numpy kernel — the package's one
    MinHash signature implementation.

    Units are the distinct character ``shingle_n``-grams of the text, or
    its distinct single-space word tokens when ``shingle_n`` is None.
    Each unit hashes to its md5 60-bit id; ``mh_j`` is the min of the
    affine family ``h_j`` over the doc's ids, ``tokset`` the sorted id
    set (FULL 60-bit ids, so the verify stage's Jaccard is exact) and
    ``sz`` its size.  Values are bit-identical to the DuckDB SQL
    ``queries.llm_q.minhash_profile_sql`` (pinned by
    tests/test_equivalence.py::test_minhash_profiles_arrow_equivalence).
    A doc with no units — NULL text, or text shorter than the shingle
    width — emits no row.  ``id_col`` keeps its input type.

    Why a batch kernel: an explode → aggregate route evaluates md5 + 128
    affine mins per shingle row in codegen and shuffles the per-doc
    partials; handing whole batches to vectorized numpy wins (A/B 4.28 →
    0.80 s, plans/r16/probes_batch1.log).  Each task shingles its docs
    in Python (with a per-task gram→id memo — corpus shingle
    vocabularies repeat heavily), computes all ``num_hashes`` mins per
    doc as one numpy broadcast ``(A·v + B) mod P`` (chunked so a
    pathological multi-MB doc is bounded at ~64 Mi of matrix instead of
    128×|grams|), and emits ONE row per doc — no explode, no exchange,
    the profile leaves the scan stage finished.  It is a plain
    projection of its input, so it also runs on every micro-batch inside
    ``foreachBatch``.  The arithmetic bound is the module header's:
    A_j·(v mod P) ≤ 9.2e18 < int64 max, so numpy int64 never wraps."""
    import numpy as np
    from pyspark.sql import types as T

    a_arr = [hash_params(j)[0] for j in range(num_hashes)]
    b_arr = [hash_params(j)[1] for j in range(num_hashes)]
    n = shingle_n
    p = MINHASH_P
    word_units = n is None
    max_offset = _MAX_LIST_OFFSET
    names = [id_col, "tokset", *[f"mh{j}" for j in range(num_hashes)], "sz"]
    # explicit StructType: tokset elements are never NULL
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("tokset", T.ArrayType(T.LongType(), False)),
            *[
                T.StructField(f"mh{j}", T.LongType())
                for j in range(num_hashes)
            ],
            T.StructField("sz", T.LongType()),
        ]
    )

    def kernel(batches):
        import hashlib

        import pyarrow as pa

        A = np.asarray(a_arr, dtype=np.int64)[:, None]
        B = np.asarray(b_arr, dtype=np.int64)[:, None]
        memo: dict[str, int] = {}

        def unit(g: str) -> int:
            r = memo.get(g)
            if r is None:
                r = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                if len(memo) > (1 << 21):  # bound per-task memo memory
                    memo.clear()
                memo[g] = r
            return r

        for batch in batches:
            keep: list[int] = []
            toksets: list[np.ndarray] = []
            sigs: list[np.ndarray] = []
            for row, txt in enumerate(batch.column(1).to_pylist()):
                if txt is None:
                    continue
                if word_units:
                    grams = set(txt.split(" "))
                else:
                    if len(txt) < n:
                        continue
                    grams = {txt[i : i + n] for i in range(len(txt) - n + 1)}
                tids = np.unique(
                    np.fromiter(
                        (unit(g) for g in grams),
                        dtype=np.int64,
                        count=len(grams),
                    )
                )
                v = tids % p
                acc = np.full(num_hashes, np.iinfo(np.int64).max, np.int64)
                for s in range(0, v.size, 1 << 16):  # bound the matrix
                    chunk = v[s : s + (1 << 16)][None, :]
                    np.minimum(
                        acc, ((A * chunk + B) % p).min(axis=1), out=acc
                    )
                keep.append(row)
                toksets.append(tids)
                sigs.append(acc)
            if not keep:
                continue
            ids = batch.column(0).take(pa.array(keep, pa.int64()))
            lens = np.array([t.size for t in toksets], dtype=np.int64)
            ends = np.cumsum(lens)
            flat = np.concatenate(toksets)
            sig = np.stack(sigs, axis=1)
            # one RecordBatch per run of docs whose token total fits the
            # int32 offsets; a single doc is always emitted whole
            lo = 0
            while lo < len(keep):
                base = ends[lo] - lens[lo]
                hi = max(
                    lo + 1,
                    int(np.searchsorted(ends, base + max_offset, "right")),
                )
                offsets = np.concatenate(([0], ends[lo:hi] - base))
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.slice(lo, hi - lo),
                        pa.ListArray.from_arrays(
                            pa.array(offsets.astype(np.int32)),
                            pa.array(flat[base : ends[hi - 1]]),
                        ),
                        *[pa.array(sig[j, lo:hi]) for j in range(num_hashes)],
                        pa.array(lens[lo:hi]),
                    ],
                    names=names,
                )
                lo = hi

    return spread(df).select(id_col, text_col).mapInArrow(kernel, schema)


def minhash_band_pairs(
    signatures: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: docs sharing any band key become candidate pairs.

    Default 128 hashes in 16 bands of 8 rows — collision threshold
    (1/16)^(1/8) ≈ 0.71 with a steep s-curve: ~95% recall at Jaccard
    0.8 while pairs at the corpus-typical 0.2–0.35 collide at ~0.1%.
    (Fewer/shorter bands admit quadratically many mid-similarity
    candidates; 8-row bands are what keep the verify stage linear.)

    Bands are exploded to (band, key) rows and self-joined on the band
    key — an equi-join that shuffles on (band, key), linear in candidate
    count rather than quadratic in corpus size."""
    bands = band_keys(signatures, num_hashes, rows_per_band, id_col).select(
        F.col(id_col).alias("id"), "band", "key"
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, [F.col("a.band") == F.col("b.band"), F.col("a.key") == F.col("b.key"), F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def band_keys(
    signatures: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, key) LSH band keys from a signature frame — the ONE
    derivation shared by pair generation (:func:`minhash_band_pairs`),
    the corpus band store, and streaming dedup, so keys can never drift
    between the batch and streaming paths."""
    n_bands = num_hashes // rows_per_band
    band_structs = []
    for bidx in range(n_bands):
        cols = [
            F.col(f"mh{bidx * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(bidx).alias("band"),
                F.concat_ws("_", *cols).alias("key"),
            )
        )
    return (
        signatures.select(id_col, F.explode(F.array(*band_structs)).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def corpus_band_store(
    corpus: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = 5,
) -> DataFrame:
    """Distinct (band, key) set of a historical corpus — the join target
    for deduping NEW data against everything already ingested.

    At 100 TB this store is materialized once (and appended per ingest
    batch), written bucketed on (band, key)
    (:func:`~..operators.write_bucketed`) so every subsequent dedup
    semi-join is shuffle-free on the store side; its size is
    n_docs × n_bands rows of small strings — a fraction of the corpus."""
    sigs = minhash_profiles_arrow(
        corpus, num_hashes, text_col, id_col, shingle_n
    )
    return (
        band_keys(sigs, num_hashes, rows_per_band, id_col)
        .select("band", "key")
        .distinct()
    )


def near_dedup_against_store(
    batch: DataFrame,
    band_store: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = 5,
) -> DataFrame:
    """Drop every batch doc that shares ANY LSH band key with the
    historical corpus; pass the rest through with all columns.

    This is the incremental-ingest dedup shape (new crawl batch vs
    everything already in the training set).  Signatures come from the
    zero-shuffle Arrow kernel :func:`minhash_profiles_arrow`, so the
    whole operation is: per-batch kernel → band explode → (band, key)
    semi-join → distinct matched ids → anti-join.  Candidate-level
    filtering (no exact-Jaccard verify): with 8-row bands a collision
    implies high similarity with
    overwhelming probability, and at ingest time a false DROP of a
    borderline near-duplicate is the cheap error direction.  Callers
    needing verified drops join the survivors of a
    :func:`minhash_band_pairs`-style candidate check instead."""
    sigs = minhash_profiles_arrow(
        batch, num_hashes, text_col, id_col, shingle_n
    )
    bands = band_keys(sigs, num_hashes, rows_per_band, id_col)
    matched = (
        bands.join(band_store, ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return batch.join(matched, id_col, "left_anti")


def profile_jaccard(
    profiles: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs, from the precomputed
    token-id arrays in :func:`minhash_profiles_arrow`.

    Per-pair cost is one ``array_intersect`` over two small int arrays —
    no shuffle beyond the two equi-joins that attach the arrays.  At
    100 TB the profiles side is hash-partitioned on doc id and the pair
    list is the small side; only candidates pay the exact cost."""
    pa = profiles.select(
        F.col(id_col).alias("id_a"),
        F.col("tokset").alias("ts_a"),
        F.col("sz").alias("sz_a"),
    )
    pb = profiles.select(
        F.col(id_col).alias("id_b"),
        F.col("tokset").alias("ts_b"),
        F.col("sz").alias("sz_b"),
    )
    n_inter = F.size(F.array_intersect("ts_a", "ts_b"))
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                n_inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - n_inter)
            ).alias("jaccard"),
        )
    )


def simhash(
    df: DataFrame,
    n_bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: weighted sign-sum of token-hash bits.

    Weight = token frequency in the doc.  bit_j(doc) = 1 iff
    Σ_tokens w·(2·bit_j(h(token)) − 1) > 0, with h the low ``n_bits``
    of the md5-derived unit id — dictionary-free and reproducible in
    plain SQL on both engines.  48 bits (not 16): banding for
    hamming ≤ 3 needs 4 agreeing-band buckets, and 12-bit band keys
    (4096 buckets) keep bucket occupancy — and therefore candidate
    pairs — low; 4-bit keys would put ~1/16 of the corpus in every
    bucket and regress toward all-pairs."""
    toks = spread(df).select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    weighted = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("w"))
    g = unit_id("token") % F.lit(1 << n_bits)
    with_bits = weighted.withColumn("g", g)
    bit_sums = with_bits.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("w")
                * (F.shiftright(F.col("g"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(n_bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(n_bits):
        sim = sim + F.shiftleft((F.col(f"s{j}") > 0).cast("long"), j)
    return bit_sums.select(id_col, sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bit-band blocked.

    The signature is split into ``max_hamming + 1`` disjoint bit bands;
    by pigeonhole, any pair within ``max_hamming`` differing bits agrees
    EXACTLY on at least one band, so banding is recall-lossless.
    Candidate generation is therefore an equi-join on (band, band-bits)
    — the same shuffle shape as MinHash LSH, linear in candidates — and
    exact hamming is computed only within blocks, never all-pairs
    (an O(n²) non-equi self-join would be catastrophic at 100 TB)."""
    sigs = simhash(df, n_bits, text_col, id_col)
    n_bands = max_hamming + 1
    band_bits = n_bits // n_bands
    bands = []
    for bidx in range(n_bands):
        lo = bidx * band_bits
        # last band absorbs the remainder bits so all n_bits are covered
        width = band_bits if bidx < n_bands - 1 else n_bits - lo
        key = F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit((1 << width) - 1))
        bands.append(F.struct(F.lit(bidx).alias("band"), key.alias("key")))
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.col("simhash").alias("sh"),
        F.explode(F.array(*bands)).alias("bk"),
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.key") == F.col("b.key"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        # a pair can match on several bands; hamming is functionally
        # dependent on the pair, so distinct dedups the candidates
        .distinct()
    )


def char_ngrams(text_col: str, n: int = 3) -> Column:
    """Distinct character n-grams via sequence+transform (JVM-side).

    Guarded for texts shorter than ``n``: Spark's ``sequence(1, 0)`` is a
    DESCENDING sequence ``[1, 0]``, not empty, so without the guard a
    short doc would produce garbage shingles (DuckDB's ``range(1, 0)``
    is empty — the engines would diverge)."""
    grams = F.expr(
        f"transform(sequence(1, length({text_col}) - {n - 1}), "
        f"i -> substring({text_col}, i, {n}))"
    )
    return F.array_distinct(
        F.when(F.length(F.col(text_col)) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


# canonical home is ..checkpoint (bench.py uses them too); aliased here
# because connected_components is their primary in-package consumer
_persistent_rdd_ids = persistent_rdd_ids
_unpersist_rdds = release_rdds


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of the near-duplicate pair graph:
    ``(node, component)`` where component = min node id in the component.

    Min-label propagation, fully declarative: each round every node
    takes the min of its own label and its neighbors' labels; stop when
    a round changes nothing.  Rounds needed = graph diameter — for
    dedup graphs (LSH candidate pairs) components are duplicate
    clusters: shallow and tiny, so 2–3 rounds in practice.  Each round
    is one equi-join + one aggregate (both shuffle on node id and can
    reuse the same partitioning); ``localCheckpoint`` truncates the
    per-iteration lineage so the plan doesn't grow unboundedly.

    Checkpoint storage is bounded at ONE working-set copy in flight: as
    soon as round N's checkpoint is materialized (eager), round N-1's
    blocks are released through the RDD registry (see
    :func:`_unpersist_rdds`) — a 25-round run pins the same storage as
    a 2-round run.  The edge checkpoint is released before returning;
    the only surviving pinned copy is the returned labels frame, which
    the caller owns.

    Cluster caveat (executor loss): local checkpoint blocks are
    unreplicated and lineage is truncated, so losing an executor kills
    the job.  Every checkpoint here goes through
    :func:`..checkpoint.stable_checkpoint` — set
    ``sc.setCheckpointDir(<durable path>)`` in cluster deploy code and
    the same loop writes reliable checkpoints to the cluster FS
    instead (the block-release bookkeeping then no-ops, as files are
    governed by ``spark.cleaner.referenceTracking.cleanCheckpoints``).

    At 100 TB: this is the textbook Kiveris et al. setting — if
    components can be DEEP (general graphs, not dedup clusters), swap
    the propagation loop for alternating large-star/small-star, which
    converges in O(log n) rounds with the same join-aggregate shape.
    The driver-side loop holds only per-round change COUNTS, never data.
    """
    sc = pairs.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    edges = stable_checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    edge_ids = _persistent_rdd_ids(sc) - before
    before |= edge_ids
    # Fused identity-init + first propagation round (r15): the naive
    # init (every node labeled with itself) always spends the loop's
    # first round computing min(node, min neighbor id) — one join, one
    # aggregate, one checkpoint, one count that can never converge on a
    # non-empty graph.  The same frame falls out of ONE groupBy over
    # the symmetrized edges (each node appears as dst of every
    # neighbor), so start there: label sequence from this point on is
    # identical to the naive rounds 1.., one fewer join+checkpoint+
    # count cycle per call, and dup-cluster graphs (cliques — every
    # LSH+verify pair present) now converge in a single loop round.
    labels = stable_checkpoint(
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("nbr_min"))
        .select("node", F.least("node", "nbr_min").alias("component"))
    )
    prev_ids = _persistent_rdd_ids(sc) - before
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        snapshot = _persistent_rdd_ids(sc)
        proposed = stable_checkpoint(
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
                F.col("component").alias("prev"),
            )
        )
        # eager=True has materialized this round — the previous round's
        # blocks are now dead weight; release them before the count.
        _unpersist_rdds(sc, prev_ids)
        prev_ids = _persistent_rdd_ids(sc) - (snapshot - prev_ids)
        changed = proposed.where(F.col("component") != F.col("prev")).count()
        labels = proposed.drop("prev")
        if changed == 0:
            break
    # the result depends only on the final checkpoint, not the edges
    _unpersist_rdds(sc, edge_ids)
    return labels


def near_dedup_corpus(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    rows_per_band: int = 8,
    shingle_n: int | None = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dedup: MinHash+LSH pairs → connected components →
    keep ONE representative (min id) per duplicate cluster.

    Returns the deduplicated corpus (all original columns) — the actual
    "dedup the training set" API, not just the pairwise report.  Docs
    in no near-dup pair pass through without joining the component
    computation at all (left-anti style via a left join on the kept /
    dropped mapping, which is tiny relative to the corpus)."""
    profiles = stable_checkpoint(
        minhash_profiles_arrow(df, num_hashes, text_col, id_col, shingle_n)
    )
    pairs = minhash_band_pairs(profiles, num_hashes, rows_per_band, id_col)
    dup_pairs = profile_jaccard(profiles, pairs, id_col).where(
        F.col("jaccard") >= threshold
    )
    comps = connected_components(dup_pairs)
    # drop every clustered doc that is not its component's min id
    drops = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def exact_dedup(
    df: DataFrame, key: Column | str, id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by arbitrary key expression: keep the lowest id as the
    representative, count collapsed copies.  One hash-aggregate shuffle."""
    k = F.col(key) if isinstance(key, str) else key
    return (
        df.select(F.col(id_col), k.alias("dedup_key"))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_repeated_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    keep_first: bool = True,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """Exact-substring span dedup, word-granular (the "Deduplicating
    Training Data Makes Language Models Better" recipe): any ``n``-token
    span occurring ``min_count``+ times in the corpus is removed from
    every occurrence except the canonical first (lowest ``(doc, start)``;
    ``keep_first=False`` removes that one too).  Canonical spans are
    protected position-by-position, so they survive VERBATIM even when
    duplicate occurrences overlap them (self-repeating text with period
    < n).  Documents are rebuilt
    from the surviving tokens; docs containing no removed span pass
    through byte-identical (single-space tokenization is its own inverse,
    empty tokens from runs of spaces included).

    This is the missing grain between :func:`exact_dedup` (whole-doc)
    and MinHash (whole-doc, fuzzy): boilerplate paragraphs, license
    headers, and templated spans repeated across otherwise-distinct
    documents.

    Scale shape: gram ids are the shuffle-free md5 construction
    (module docstring); a count-filter pass restricts the expensive work
    to grams that actually repeat, so it scales with the DUPLICATED text
    volume, not the corpus.  The canonical occurrence is found with a
    map-side-combinable ``min(struct(doc, start))`` aggregate + equi-join
    rather than a per-gram ``row_number`` window: a boilerplate gram
    occurring 10^9 times corpus-wide would funnel one window partition
    onto one reducer (windows cannot be skew-split), while the min-agg
    collapses map-side and the join back is AQE-skew-splittable.  Every
    stage is a keyed equi-shuffle (gid, then (doc, pos), then doc) — no
    all-pairs anywhere.  The DuckDB twin
    (:func:`sql_dedup_repeated_spans`) reproduces the result hash-exactly.

    Per-document memory bound: the rebuild collects each doc's surviving
    tokens into ONE in-memory array (``collect_list`` + ``array_sort``
    per ``__id`` group), so executor memory must hold the largest single
    document ~3× over (pos/cov/tok structs) — fine for web-doc-sized
    rows, but a pathological multi-GB single document would OOM its
    reducer.  Pass ``max_doc_tokens`` (e.g. ``8_000_000`` ≈ a 50 MB doc)
    to enforce the bound up front: one cheap scan-level aggregate, and a
    ``ValueError`` naming the worst offender instead of a mid-job
    executor death.  ``None`` (default) skips the extra pass — callers
    that already know their doc-length distribution shouldn't pay it.
    """
    from .text import word_ngrams

    if n < 2:
        raise ValueError(f"span length n must be >= 2, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = F.split(F.col(text_col), " ")
    if max_doc_tokens is not None:
        if max_doc_tokens < n:
            raise ValueError(
                f"max_doc_tokens must be >= n ({n}), got {max_doc_tokens}"
            )
        worst = (
            df.select(
                F.col(id_col).alias("__id"), F.size(toks).alias("__nt")
            )
            # NULL text -> NULL size: not a length violation (NULL docs
            # pass through the rebuild untouched), and comparing None
            # against the bound would TypeError (round-8 review finding)
            .where(F.col("__nt").isNotNull())
            .orderBy(F.col("__nt").desc(), "__id")
            .limit(1)
            .collect()
        )
        if worst and worst[0]["__nt"] > max_doc_tokens:
            raise ValueError(
                f"dedup_repeated_spans: document {worst[0]['__id']!r} has "
                f"{worst[0]['__nt']} tokens > max_doc_tokens="
                f"{max_doc_tokens}; the per-doc rebuild would hold it in "
                "one executor's memory. Split oversized documents first "
                "(e.g. udfs.chunk_documents_udtf) or raise the bound."
            )
    occ = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(word_ngrams(F.col(text_col), n)).alias("start", "gram"),
    ).select("__id", "start", unit_id("gram").alias("gid"))
    # one aggregate yields BOTH the duplication filter and the canonical
    # occurrence (lexicographic min of (doc, start)) per gram
    dup = (
        occ.groupBy("gid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("__id", "start")).alias("__c"),
        )
        .where(F.col("__n") >= min_count)
        .select("gid", "__c")
    )
    # ONE pass computes removal coverage AND canonical protection
    # (r12 — formerly two distincts + an anti-join, with `occ` and
    # `dup` each evaluated twice; the fused aggregate was the measured
    # hot stage of the declared span_dedup query).  Every occurrence
    # of a duplicated gram explodes its positions with a CANONICAL
    # flag; a position is removed iff some duplicate (non-canonical)
    # occurrence covers it and NO canonical span claims it — canonical
    # occurrences stay protected position-by-position, so when
    # duplicate spans self-overlap (repeat period < n, e.g.
    # "a a a ... a") the promised first occurrence still survives
    # verbatim (review finding, r8).
    pos_flags = occ.join(dup, "gid").select(
        "__id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
        ).alias("pos"),
        (
            (F.col("__id") == F.col("__c.__id"))
            & (F.col("start") == F.col("__c.start"))
        ).alias("__canon"),
    )
    if keep_first:
        covered = (
            pos_flags.groupBy("__id", "pos")
            .agg(
                F.max("__canon").alias("__prot"),
                F.max(~F.col("__canon")).alias("__dup"),
            )
            .where(F.col("__dup") & ~F.col("__prot"))
            .select("__id", "pos")
        )
    else:
        # no canonical survivor: every covered position is removed
        covered = pos_flags.select("__id", "pos").distinct()
    tokens = df.select(
        F.col(id_col).alias("__id"), F.posexplode(toks).alias("pos", "tok")
    )
    flagged = tokens.join(
        covered.withColumn("__cov", F.lit(True)), ["__id", "pos"], "left"
    )
    rebuilt = (
        flagged.groupBy("__id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "pos",
                                    F.coalesce(
                                        F.col("__cov"), F.lit(False)
                                    ).alias("cov"),
                                    "tok",
                                )
                            )
                        ),
                        lambda s: ~s["cov"],
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("__new_text")
        )
        .withColumnRenamed("__id", id_col)
    )
    out = df.join(rebuilt, id_col, "left")
    return out.select(
        *[
            F.coalesce(F.col("__new_text"), F.col(text_col)).alias(text_col)
            if c == text_col
            else F.col(c)
            for c in df.columns
        ]
    )


def sql_dedup_repeated_spans(
    table: str,
    n: int = 8,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    min_count: int = 2,
    keep_first: bool = True,
) -> str:
    """DuckDB twin of :func:`dedup_repeated_spans`: ``(doc_id, text)``.
    Same md5 gram ids, same canonical-first ranking, same single-space
    rebuild (``array_to_string`` of the surviving ordered tokens; a doc
    whose every token was removed becomes the empty string, exactly like
    the Spark side's empty filtered array)."""
    gram = f"array_to_string(t[i:i+{n - 1}], ' ')"
    rn_floor = 2 if keep_first else 1
    keep_first_sql = "TRUE" if keep_first else "FALSE"
    return f"""
    WITH toks AS (
      SELECT id, t[i] AS tok, i - 1 AS pos
      FROM (SELECT {id_expr} AS id, string_split({text_expr}, ' ') AS t FROM {table}),
           UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    occ AS (
      SELECT id, i - 1 AS start, {UNIT_ID_SQL.format(col=gram)} AS gid
      FROM (SELECT {id_expr} AS id, string_split({text_expr}, ' ') AS t FROM {table}),
           UNNEST(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS u(i)
    ),
    dup AS (SELECT gid FROM occ GROUP BY 1 HAVING COUNT(*) >= {min_count}),
    ranked AS (
      SELECT o.id, o.start,
             ROW_NUMBER() OVER (PARTITION BY o.gid ORDER BY o.id, o.start) AS rn
      FROM occ o JOIN dup USING (gid)
    ),
    protected AS (
      SELECT DISTINCT id, start + g AS pos
      FROM ranked, UNNEST(generate_series(0, {n - 1})) AS s(g)
      WHERE rn = 1 AND {keep_first_sql}
    ),
    covered AS (
      SELECT c.id, c.pos, TRUE AS cov FROM (
        SELECT DISTINCT id, start + g AS pos
        FROM ranked, UNNEST(generate_series(0, {n - 1})) AS s(g)
        WHERE rn >= {rn_floor}
      ) c LEFT JOIN protected p ON c.id = p.id AND c.pos = p.pos
      WHERE p.pos IS NULL
    ),
    agg AS (
      -- COALESCE outside: DuckDB's list() over zero qualifying rows is
      -- NULL, and array_to_string([]) is itself NULL — either way the
      -- all-tokens-removed doc must become '' like Spark's concat_ws
      -- over an empty filtered array.
      SELECT t.id,
             COALESCE(
               array_to_string(
                 list(t.tok ORDER BY t.pos) FILTER (WHERE c.cov IS NULL),
                 ' '),
               '') AS txt
      FROM toks t LEFT JOIN covered c ON t.id = c.id AND t.pos = c.pos
      GROUP BY 1
    )
    SELECT d.{id_expr} AS doc_id, COALESCE(a.txt, d.{text_expr}) AS text
    FROM {table} d LEFT JOIN agg a ON d.{id_expr} = a.id
    """
