"""Embedding similarity search: cosine scoring, distributed top-k,
threshold self-join, LSH-bucketed ANN.

Design follows the distributed top-k literature (partition-local pruning
then global merge — see PAPERS.md, REPOSE ICDE'21 / EDBT'20 incremental
top-k): score everywhere, keep only k candidates per partition, merge the
≤ k·P survivors.  At 100 TB the global window never sees more than k·P
rows instead of the full corpus.

Determinism: dot products fold left over exact float→double casts, so
Spark's ``aggregate`` and DuckDB's ``list_reduce`` produce bit-identical
doubles (IEEE ops in the same order; the 0.0 seed is a no-op).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..checkpoint import persistent_rdd_ids, release_rdds, stable_checkpoint
from ..concurrency import overlap
from ..tables import spread


class AnnPrepHandle:
    """Release handle for the blocks :func:`ann_topk_all_methods` pins.

    That function materializes two prep subtrees via
    ``localCheckpoint``, whose blocks outlive the returned DataFrame in
    the block manager (``DataFrame.unpersist`` cannot reach them — see
    ``checkpoint.release_rdds``).  Short-lived sessions can ignore this;
    a long-lived session running many ANN queries should call
    :meth:`release` once it is done with the result, mirroring
    ``stream_near_dedup_writer``'s ``close()``.  Idempotent."""

    def __init__(self, sc, rdd_ids: set[int]):
        self._sc = sc
        self._ids = set(rdd_ids)

    def release(self) -> None:
        release_rdds(self._sc, self._ids)
        self._ids = set()


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-fold dot product of two float-array columns, in double."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast the query set, score the full corpus, global
    rank per query.  Correct but the final window shuffles every score to
    one partition per query — the baseline, not the scale path.

    Zero-norm vectors (corpus or query side) never appear in the output:
    their pairs carry the :data:`ZERO_NORM_SENTINEL` score and are
    dropped before the rank window (same contract in every top-k path
    here)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(vec_col).alias("qnrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(vec_col).alias("cnrm"),
    )
    return _score_rank(c.crossJoin(F.broadcast(q)), k)


def two_stage_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path top-k: partition-local top-k, then global merge.

    Stage 1 ranks within (query, input-partition) — the shuffle for that
    window spreads over P×Q partitions with no skew, and only k rows per
    (query, partition) survive.  Stage 2 ranks the ≤ k·P survivors.
    Results are identical to :func:`brute_force_topk` (local top-k is a
    superset of the global top-k restricted to that partition), including
    the zero-norm contract: sentinel-scored pairs are dropped before
    stage 1.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(vec_col).alias("qnrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(vec_col).alias("cnrm"),
    )
    scored = (
        c.withColumn("pid", F.spark_partition_id())
        .crossJoin(F.broadcast(q))
        .select(
            "pid",
            "query_id",
            "neighbor_id",
            _cos(dot("qvec", "cvec"), F.col("qnrm"), F.col("cnrm")).alias("score"),
        )
    )
    local_w = Window.partitionBy("query_id", "pid").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    survivors = (
        _drop_zero_norm(scored)
        .withColumn("lrank", F.row_number().over(local_w))
        .where(F.col("lrank") <= k)
        .drop("lrank", "pid")
    )
    global_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(global_w))
        .where(F.col("rank") <= k)
    )


def cosine_self_join(
    vectors: DataFrame,
    threshold: float,
    partition_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise similarity self-join: all pairs (a < b) with cosine ≥
    threshold.

    ``partition_col`` bounds the pair explosion: pairs are only formed
    within equal values of it (an equi-join Catalyst shuffles on the
    key), never across the whole corpus.  Pass None only for small
    inputs.

    Norms are computed once per VECTOR before the join (linear), not per
    pair (quadratic) — per-pair cost drops to a single dot product.  The
    division happens per pair, so the emitted doubles are identical to
    the naive per-pair cosine (same IEEE ops on the same values)."""
    # Pair formation is compute-bound (a dot product per pair): spread an
    # under-partitioned scan so the join work uses the whole cluster.
    vectors = spread(vectors)
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(vec_col).alias("nrm"),
    ]
    join_on = []
    if partition_col:
        cols.append(F.col(partition_col).alias("pkey"))
        join_on = [F.col("a.pkey") == F.col("b.pkey")]
    v = vectors.select(*cols)
    a, b = v.alias("a"), v.alias("b")
    cond = [F.col("a.id") < F.col("b.id"), *join_on]
    pairs = a.join(b, cond)
    out = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        _cos(
            dot(F.col("a.vec"), F.col("b.vec")),
            F.col("a.nrm"),
            F.col("b.nrm"),
        ).alias("score"),
    )
    return out.where(F.col("score") >= threshold)



def _cos(d: Column, na: Column, nb: Column) -> Column:
    """Cosine with the zero-norm guard EVERY float path shares: a
    zero-length vector scores the -2.0 sentinel (below any real cosine)
    instead of NaN.  The guard matters because Spark orders NaN GREATER
    than any double — unguarded, one all-zero embedding would pass every
    >= threshold filter and occupy rank 1 of every desc top-k (the
    quantized path already used the same sentinel)."""
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(
        F.lit(ZERO_NORM_SENTINEL)
    )


ZERO_NORM_SENTINEL = -2.0
"""Score assigned by :func:`_cos` to any pair involving a zero-norm
vector (cosine undefined).  Threshold paths drop it arithmetically
(every real threshold exceeds -2); top-k paths drop it explicitly via
:func:`_drop_zero_norm` so no emitted row ever carries a score a
consumer could mistake for a real cosine (driver ADVICE r7)."""


def _drop_zero_norm(scored: DataFrame) -> DataFrame:
    """Remove sentinel-scored rows before a rank window — a scan-level
    predicate (no-op on corpora without zero vectors).  A query whose
    OWN vector is zero-norm thus returns no rows at all, which is the
    honest answer: it has no nearest neighbors under cosine."""
    return scored.where(F.col("score") > F.lit(ZERO_NORM_SENTINEL))


def sign_lsh_bucket(vec_col: Column | str, n_bits: int = 4) -> Column:
    """Axis-aligned sign-LSH bucket id: bit i = sign(vec[i]).

    The cheapest hyperplane family — deterministic, no trained model.
    Two vectors land in one bucket iff their first ``n_bits`` dims agree
    in sign; nearby (cosine-similar) vectors agree with high probability.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0)
    for i in range(n_bits):
        bit = (F.element_at(v, i + 1) > 0).cast("int")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def lsh_probe_masks(n_bits: int, n_probes: int) -> list[int]:
    """Deterministic multi-probe sequence: the exact bucket, then every
    Hamming-1 flip (bit order), then Hamming-2 flips — truncated to
    ``n_probes``.  Shared with the SQL oracle twin."""
    masks = [0] + [1 << i for i in range(n_bits)]
    for i in range(n_bits):
        for j in range(i + 1, n_bits):
            masks.append((1 << i) | (1 << j))
    return masks[:n_probes]


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_probes: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: probe the query's sign-LSH bucket plus its
    ``n_probes − 1`` nearest neighbor buckets (multi-probe: Hamming-1,
    then Hamming-2 flips of the bucket id — the standard recall knob).

    The scale path for ANN — the bucket equi-join replaces the cross
    join, so each query scores ~corpus·n_probes/2^n_bits candidates.
    A (query, neighbor) pair matches at most once: the neighbor has one
    bucket and the probed buckets are distinct.  Deterministic
    end-to-end; recall vs TRUE neighbors is measured in
    tests/test_ann_recall.py."""
    return _lsh_leg(
        _ann_prep(corpus, id_col, vec_col, n_bits),
        _ann_prep(queries, id_col, vec_col, n_bits),
        k,
        n_bits,
        n_probes,
    )


CENTROID_SCALE = 1_000_000


def label_centroids(
    vectors: DataFrame,
    by: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group dimension-wise centroid, exactly (one row per (group,
    pos)).  The IVF coarse-quantizer building block.

    Determinism: dimension sums accumulate FIXED-POINT int64 (value·10^6
    rounded), which is order-independent, then one double division at the
    end — so Spark and DuckDB agree bit-for-bit, unlike a double `avg`
    whose partition-order drift breaks hash gates.

    One route at every depth: the posexplode aggregate the DuckDB
    oracles replay.  It groups any label type with Spark's semantics
    (null labels form one group, a NaN label its own), which an
    Arrow/pandas kernel cannot — pandas renders both null and NaN float
    labels as NaN."""
    ex = vectors.select(by, F.posexplode(vec_col).alias("pos0", "val"))
    return (
        ex.groupBy(by, (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            (
                F.sum(
                    F.round(F.col("val").cast("double") * CENTROID_SCALE).cast(
                        "long"
                    )
                ).cast("double")
                / (F.lit(float(CENTROID_SCALE)) * F.count(F.lit(1)))
            ).alias("centroid_val")
        )
    )


def _centroid_arrays(
    vectors: DataFrame,
    by: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(group, centroid array<double>) — pos-ordered, from label_centroids."""
    return (
        label_centroids(vectors, by, vec_col)
        .groupBy(by)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("centroid")
        )
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by: str = "label",
) -> DataFrame:
    """Approximate top-k, IVF-style: assign every corpus vector to its
    nearest coarse centroid (broadcast — centroids are tiny by
    construction); each query probes its ``n_probes`` nearest cells
    (the standard IVF recall knob).

    This is the other scale path next to sign-LSH (:func:`ann_topk_lsh`):
    the cell equi-join replaces the cross join, each query scores
    ~corpus·n_probes/n_cells candidates.  A (query, neighbor) pair
    matches at most once — the neighbor lives in exactly one cell.
    Deterministic end-to-end; recall vs TRUE neighbors is measured in
    tests/test_ann_recall.py."""
    return _ivf_leg(
        _ann_prep(corpus, id_col, vec_col, keep=(by,)),
        _ann_prep(queries, id_col, vec_col),
        k,
        n_probes,
        by,
    )


def _first_dim(df: DataFrame, col: str) -> int:
    """Dimension of the frame's vector column — ONE-row limit scan (a
    single tiny task; array lengths are not in the schema).  NULL
    vectors are filtered BEFORE the probe: .first() returns an
    arbitrary row, and a null first vector would return 0."""
    r = (
        df.where(F.col(col).isNotNull())
        .select(F.size(col).alias("d"))
        .first()
    )
    return int(r["d"]) if r is not None and r["d"] is not None else 0


def _local_frame(spark, rows, schema: T.StructType) -> DataFrame:
    """``rows`` as a driver-local relation (LocalTableScan).  The
    assignment kernels collect their model frame on the driver:
    collecting a local relation runs no Spark job, while a
    ``createDataFrame(list)`` frame is an RDD scan whose every collect
    is a job with a Python task per partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows],
            schema=to_arrow_schema(schema),
        )
    )


def _collect_cells(cents: DataFrame) -> "list[tuple]":
    """(cell, centroid) rows sorted ascending by cell — the assignment
    kernels' model collect.  Bounded like every model here: k·d
    doubles, never corpus-proportional."""
    return sorted(
        (r["cell"], list(r["centroid"])) for r in cents.collect()
    )


def _nearest_cells(
    df: DataFrame, cents: DataFrame, probes: int, vec_alias: str
) -> DataFrame:
    """Append ``cell``: each row exploded to its ``probes`` nearest
    coarse cells by cosine-to-centroid (score desc, ties to the lower
    cell) as a zero-shuffle Arrow-batched numpy scan: the centroid set
    is collected once (k·d doubles) and rides the task closure.

    The negated cosine ``-(dot(v, c) / sqrt(dot(c, c)))`` is a left
    fold in float64 — one multiply and one add per dimension in
    ascending order, never ``np.sum`` or a matmul — so it is the same
    double as :func:`dot`/:func:`norm` and the DuckDB oracle's
    ``list_reduce``.  Candidates are laid out cell-ascending, so
    ``argmin`` (first minimum) and the stable argsort break score ties
    to the LOWER cell.  NaN scores sort last (the probes==1 argmin
    masks them to +inf).  A NULL or wrong-length vector scores NaN
    against every cell and so probes the lowest cells.  All incoming
    columns pass through; zero centroids → zero rows."""
    import numpy as np

    rows = _collect_cells(cents)
    cols = list(df.columns)
    cell_field = T.StructField(
        "cell", cents.schema["cell"].dataType, False
    )
    out_schema = T.StructType(list(df.schema.fields) + [cell_field])
    if not rows:
        return df.select(
            *cols, F.lit(0).cast(cell_field.dataType).alias("cell")
        ).where(F.lit(False))
    cells_np = np.array([c for c, _ in rows])
    C = np.array([cen for _, cen in rows], dtype=np.float64)
    k, d = C.shape
    cn = np.zeros(k, dtype=np.float64)
    for t in range(d):  # left fold, as norm()'s aggregate
        cn += C[:, t] * C[:, t]
    cnrm = np.sqrt(cn)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X, _ = _stack_padded(np, pdf[vec_alias].to_numpy(), d)
            n = X.shape[0]
            dots = np.zeros((n, k), dtype=np.float64)
            for t in range(d):
                dots += X[:, t, None] * C[None, :, t]
            with np.errstate(divide="ignore", invalid="ignore"):
                nscore = -(dots / cnrm[None, :])
            if probes == 1:
                masked = np.where(np.isnan(nscore), np.inf, nscore)
                out = pdf.copy()
                out["cell"] = cells_np[masked.argmin(axis=1)]
                yield out
            else:
                order = np.argsort(nscore, axis=1, kind="stable")[
                    :, :probes
                ]
                reps = order.shape[1]
                out = pdf.iloc[np.repeat(np.arange(n), reps)].reset_index(
                    drop=True
                )
                out["cell"] = cells_np[order.reshape(-1)]
                yield out

    return df.mapInPandas(assign, out_schema)


def _nearest_cells_l2(
    df: DataFrame, cents: DataFrame, probes: int, vec_alias: str
) -> DataFrame:
    """Multi-probe twin of :func:`_nearest_cells` under the L2 metric:
    top-``probes`` cells by (squared-distance asc, cell asc) — the
    ordering IVF-PQ needs, because the residual ADC approximates L2 and
    :func:`_nearest_cell` (the Lloyd/encode assignment) already ranks
    by L2; probing by cosine-to-centroid would disagree with both
    whenever centroid norms differ (they always do — means of unit
    vectors land strictly inside the sphere at varying depths), rotting
    recall with no error anywhere.

    Only the QUERY side ever multi-probes, and query sets are bounded,
    so this is a broadcast-array expression scan (the IVF-PQ oracle
    replays it) — the corpus-scale assignments (probes=1) go through
    the numpy kernel :func:`_nearest_cell`.  All incoming columns pass
    through; zero centroids → zero rows (the family's degenerate-model
    contract)."""
    cent_row = (
        cents.select("cell", "centroid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cell"), F.col("centroid")))
            ).alias("__cents")
        )
        .where(F.size("__cents") > 0)
    )
    vec = F.col(vec_alias)
    cands = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            sq_dist(vec, s["centroid"]).alias("dist"),
            s["cell"].alias("cell"),
        ),
    )
    cols = list(df.columns)
    joined = df.crossJoin(F.broadcast(cent_row))
    top = F.slice(F.array_sort(cands), 1, probes)
    return (
        joined.select(*cols, F.explode(top).alias("__t"))
        .select(*cols, F.col("__t.cell").alias("cell"))
    )


def _stack_padded(np, vals, d: int, mode: str = "exact"):
    """(n, d) float64 from a column of per-row arrays, tolerating dirty
    rows with the assignment kernels' degeneracy rules:

    - ``mode='exact'`` (the nearest-cell kernels, whose folds follow
      ``zip_with``: the shorter side pads with null): ANY length
      mismatch — longer or shorter — or a NULL vector makes the whole
      row NaN, which the NaN masking resolves to the lowest cell(s).
    - ``mode='slice'`` (the PQ kernels, which read the first m·d
      elements): LONGER rows truncate and are normal; a SHORT row keeps
      its real prefix and NaN-pads the tail, so only the subspaces the
      missing tail touches degenerate (to code 0).

    Returns ``(X, degenerate)`` — the mask marks the rows whose fold is
    NULL (callers that emit a dist column surface null there, not the
    padding NaN)."""
    clean = True
    for x in vals:
        if x is None or len(x) != d:
            clean = False
            break
    if clean:
        return (
            np.stack(vals).astype(np.float64),
            np.zeros(len(vals), dtype=bool),
        )
    out = np.full((len(vals), d), np.nan, dtype=np.float64)
    degenerate = np.zeros(len(vals), dtype=bool)
    for i, x in enumerate(vals):
        if x is None:
            degenerate[i] = True
            continue
        if len(x) == d or (mode == "slice" and len(x) > d):
            out[i, :] = np.asarray(x[:d], dtype=np.float64)
        elif mode == "slice":  # short row: real prefix, NaN tail
            out[i, : len(x)] = np.asarray(x, dtype=np.float64)
            degenerate[i] = True
        else:
            degenerate[i] = True
    return out, degenerate


def _sq_dists(np, X, C):
    """(n, k) squared L2 distances from rows ``X`` (n, d) to centroids
    ``C`` (k, d): the :func:`sq_dist` left fold in float64 — subtract,
    multiply, add per dimension in ascending order, never ``np.sum``
    (pairwise association) or the matmul identity (different
    rounding) — so each distance is the double Spark and DuckDB folds
    compute."""
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for t in range(C.shape[1]):
        diff = X[:, t, None] - C[None, :, t]
        acc += diff * diff
    return acc


def _argmin_l2(np, X, C):
    """Per row, the index of the nearest centroid in ``C``: the first
    minimum (ties to the LOWER index), NaN distances masked to +inf (an
    all-NaN row picks index 0)."""
    acc = _sq_dists(np, X, C)
    np.copyto(acc, np.inf, where=np.isnan(acc))
    return acc.argmin(axis=1)


def _pq_model(np, cmap: dict, m: int, n_codes: int):
    """The ``{(subspace, code): centroid}`` codebook map as an (m,
    codes, d) float64 array."""
    return np.array(
        [[cmap[(j, c)] for c in range(n_codes)] for j in range(m)],
        dtype=np.float64,
    )


def _pq_argmin(np, vs, model):
    """(n, m) PQ codes of the rows ``vs`` (n, m·d) against ``model``
    (m, codes, d): :func:`_argmin_l2` per contiguous subspace."""
    m, _, d = model.shape
    return np.stack(
        [_argmin_l2(np, vs[:, j * d : (j + 1) * d], model[j]) for j in range(m)],
        axis=1,
    )


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Integer dot product of two int8-quantized array columns — exact
    int64 arithmetic (64 dims × 127² ≪ 2⁶³), so it is order-independent
    and bit-identical across engines, unlike float folds."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long"))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, x: acc + x)


def quantized_cosine(
    dot_ab: Column, self_a: Column, self_b: Column
) -> Column:
    """Cosine over int8-quantized vectors from integer dots.

    The per-vector symmetric scales CANCEL in cosine —
    (s_a·ia)·(s_b·ib) / (s_a|ia| · s_b|ib|) = ia·ib / (|ia||ib|) — so
    the quantized score needs no float reconstruction at all: integer
    dot products, one sqrt each, one division.  Zero-norm vectors get
    the sentinel −2.0 (below any real cosine) on both engines."""
    return F.when(
        (self_a > 0) & (self_b > 0),
        dot_ab.cast("double")
        / (F.sqrt(self_a.cast("double")) * F.sqrt(self_b.cast("double"))),
    ).otherwise(F.lit(-2.0))


def ann_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_probes: int = 5,
    rerank: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with int8-quantized candidate scoring and
    full-precision re-score — the storage/bandwidth scale path
    (:func:`quantize_embeddings` recipe, VERDICT r3 item 2).

    Three stages, each the cheap one at 100 TB:

    1. **Candidates** — the same multi-probe sign-LSH bucket equi-join
       as :func:`ann_topk_lsh` (never all-pairs).
    2. **Quantized prune** — candidates are scored with the INTEGER
       cosine (:func:`quantized_cosine`; scales cancel, so no float
       reconstruction) and only the top ``k·rerank`` per query survive.
       This stage touches only the int8 column: 4× less scan + shuffle
       than float32, and the arithmetic is exact int64, so the oracle
       replays it bit-for-bit.
    3. **Re-score** — the tiny survivor set (≤ k·rerank per query) is
       broadcast back against the full-precision table by id and ranked
       by true cosine.  Only this stage reads the float column.

    Deterministic end-to-end: integer dots, total-order tie breaks
    (score desc, neighbor_id) in both stages."""
    return _quant_leg(
        _ann_prep(corpus, id_col, vec_col, n_bits),
        _ann_prep(queries, id_col, vec_col, n_bits),
        k,
        n_bits,
        n_probes,
        rerank,
    )


def _ann_prep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bits: int = 4,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Shared per-vector ANN prep: norm, sign-LSH bucket, int8
    quantization and its integer self-dot — every column at least one of
    the three index families needs, computed in ONE corpus pass.  Each
    family's leg selects what it reads; Catalyst prunes the rest."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        *[F.col(c) for c in keep],
        norm(vec_col).alias("nrm"),
        sign_lsh_bucket(vec_col, n_bits).alias("bucket"),
    )
    return quantize_embeddings(base, "vec", "q8").withColumn(
        "ss", int_dot("q8", "q8")
    )


def _probe_buckets(
    qprep: DataFrame, n_bits: int, n_probes: int, **cols: str
) -> DataFrame:
    """The prepped queries exploded over the multi-probe masks: one row
    per (query, probed bucket), the prep columns ``cols`` renamed
    ``alias=column`` plus ``bucket`` = exact bucket XOR mask."""
    masks = F.array(*[F.lit(m) for m in lsh_probe_masks(n_bits, n_probes)])
    return qprep.select(
        *[F.col(c).alias(a) for a, c in cols.items()],
        F.col("bucket").alias("__base"),
        F.explode(masks).alias("__mask"),
    ).select(
        *cols,
        F.col("__base").bitwiseXOR(F.col("__mask")).alias("bucket"),
    )


def _score_rank(pairs: DataFrame, k: int) -> DataFrame:
    """The float families' rank tail over (query, neighbor) candidate
    pairs carrying ``qvec``/``qnrm``/``cvec``/``cnrm``: guarded cosine,
    sentinel rows dropped, ``row_number`` per query by (score desc,
    neighbor_id), rank ≤ k."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cos(dot("qvec", "cvec"), F.col("qnrm"), F.col("cnrm")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        _drop_zero_norm(scored)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _lsh_leg(
    cprep: DataFrame, qprep: DataFrame, k: int, n_bits: int, n_probes: int
) -> DataFrame:
    """Sign-LSH multi-probe top-k over :func:`_ann_prep` frames (or a
    :func:`write_ann_index` scan, which has the prep's schema)."""
    c = cprep.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
        "bucket",
    )
    q = _probe_buckets(
        qprep, n_bits, n_probes, query_id="id", qvec="vec", qnrm="nrm"
    )
    return _score_rank(c.join(F.broadcast(q), "bucket"), k)


def _ivf_leg(
    cprep: DataFrame, qprep: DataFrame, k: int, n_probes: int, by: str
) -> DataFrame:
    """IVF top-k over :func:`_ann_prep` frames; ``cprep`` keeps the
    ``by`` column the coarse quantizer is built from."""
    cents = _centroid_arrays(cprep, by, "vec").select(
        F.col(by).alias("cell"), "centroid"
    )
    # collected once for both assignments
    cents = _local_frame(cprep.sparkSession, cents.collect(), cents.schema)

    def assign(prep: DataFrame, id_alias: str, vec_alias: str, probes: int):
        pre = prep.select(
            F.col("id").alias(id_alias),
            F.col("vec").alias(vec_alias),
            F.col("nrm").alias("__nrm"),
        )
        return _nearest_cells(pre, cents, probes, vec_alias)

    c = assign(cprep, "neighbor_id", "cvec", 1).withColumnRenamed(
        "__nrm", "cnrm"
    )
    q = assign(qprep, "query_id", "qvec", n_probes).withColumnRenamed(
        "__nrm", "qnrm"
    )
    return _score_rank(c.join(F.broadcast(q), "cell"), k)


def _quant_leg(
    cprep: DataFrame,
    qprep: DataFrame,
    k: int,
    n_bits: int,
    n_probes: int,
    rerank: int,
) -> DataFrame:
    """int8-quantized prune + full-precision re-score over
    :func:`_ann_prep` frames: LSH candidates ranked by the integer
    cosine, the top ``k·rerank`` per query re-scored in float."""
    cq = cprep.select(
        F.col("id").alias("neighbor_id"),
        "bucket",
        F.col("q8").alias("qc"),
        F.col("ss").alias("css"),
    )
    qq = _probe_buckets(
        qprep, n_bits, n_probes, query_id="id", qv8="q8", qss="ss"
    )
    cand = cq.join(F.broadcast(qq), "bucket").select(
        "query_id",
        "neighbor_id",
        quantized_cosine(
            int_dot("qv8", "qc"), F.col("qss"), F.col("css")
        ).alias("q_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("q_score").desc(), F.col("neighbor_id")
    )
    survivors = (
        cand.withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= k * rerank)
        .select("query_id", "neighbor_id")
    )
    fullc = cprep.select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnrm"),
    )
    fullq = qprep.select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    return _score_rank(
        fullc.join(F.broadcast(survivors), "neighbor_id").join(
            F.broadcast(fullq), "query_id"
        ),
        k,
    )


def ann_topk_all_methods(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_probes_lsh: int = 5,
    n_probes_ivf: int = 2,
    rerank: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by: str = "label",
    handle_out: list | None = None,
) -> DataFrame:
    """All three ANN families (sign-LSH multi-probe, IVF, int8-quantized
    prune + re-score), method-tagged in one DataFrame — sharing ONE
    corpus-prep subtree instead of three.

    Run standalone, each family derives its per-vector columns from its
    own prep of the raw scan (three corpus passes + three rounds of
    codegen over the same expressions — the dominant cost of a cold
    ``ann_topk`` run).  Here :func:`_ann_prep` runs once
    per side and both preps are eagerly materialized via
    :func:`..checkpoint.stable_checkpoint`, which also prevents the
    three concurrently launched broadcast subtrees from racing to
    recompute the prep (the :func:`~..queries.llm_q.minhash_near_dup`
    pattern), and upgrades to a reliable cluster-FS checkpoint when the
    session has a checkpoint dir.

    The families are the same leg functions (:func:`_lsh_leg`,
    :func:`_ivf_leg`, :func:`_quant_leg`) that :func:`ann_topk_lsh`,
    :func:`ann_topk_ivf` and :func:`ann_topk_quantized` call, so results
    — and the SQL oracles replaying them — match the standalone
    operators bit-for-bit (pinned by tests/test_ann_recall.py).

    Long-lived sessions: pass ``handle_out=[]`` to receive an
    :class:`AnnPrepHandle`; call ``.release()`` when done with the
    result, or the two pinned prep block sets live until session end."""
    cprep = _ann_prep(corpus, id_col, vec_col, n_bits, keep=(by,))
    qprep = _ann_prep(queries, id_col, vec_col, n_bits)
    sc = corpus.sparkSession.sparkContext
    before = persistent_rdd_ids(sc)
    # The two prep materializations are independent jobs over disjoint
    # inputs; overlapping them on driver threads
    # removes one sequential job wall from every cold call, and each leg
    # is the identical job it was sequentially, so results are unchanged.
    try:
        cprep, (qprep,) = overlap(
            [lambda q=qprep: stable_checkpoint(q)],
            main=lambda c=cprep: stable_checkpoint(c),
        )
    except BaseException:
        # a leg that raises after another leg checkpointed would
        # otherwise leak that leg's pinned prep blocks until session end:
        # release everything this call pinned before propagating.
        release_rdds(sc, persistent_rdd_ids(sc) - before)
        raise
    if handle_out is not None:
        # Pass a list to receive an AnnPrepHandle whose release() frees
        # the two pinned prep block sets — required hygiene in long-lived
        # sessions (bench.py releases via its registry snapshot instead,
        # so it does not use this).
        handle_out.append(AnnPrepHandle(sc, persistent_rdd_ids(sc) - before))

    def tag(method: str, leg: DataFrame) -> DataFrame:
        return leg.select(
            F.lit(method).alias("method"), "query_id", "neighbor_id", "score", "rank"
        )

    return (
        tag("lsh", _lsh_leg(cprep, qprep, k, n_bits, n_probes_lsh))
        .unionByName(tag("ivf", _ivf_leg(cprep, qprep, k, n_probes_ivf, by)))
        .unionByName(
            tag("quant", _quant_leg(cprep, qprep, k, n_bits, n_probes_lsh, rerank))
        )
    )


def write_ann_index(
    corpus: DataFrame,
    path: str,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the shared ANN prep as a PARTITIONED parquet index:
    one hive partition per sign-LSH bucket, columns (id, vec, nrm,
    int8 q8, integer self-dot ss).

    This turns the build-once/probe-many shape into storage layout: a
    100 TB embedding corpus pays the norm+bucket+quantize pass ONCE at
    index-build time, and every later query batch reads only the
    partitions its probe set touches (:func:`ann_index_topk` prunes
    ``2^n_bits - |probed|`` of the index at PLANNING time — the scan
    never opens the other directories).  The int8 column means the
    candidate stage can also skip the float vectors' bytes entirely
    when column-pruned.

    The bucket space is 2**n_bits directories — deliberately coarse so
    per-partition file counts stay healthy at scale (raise n_bits with
    corpus size; 8 bits = 256 partitions is still trivially listable)."""
    prep = _ann_prep(corpus, id_col, vec_col, n_bits)
    prep.write.mode(mode).partitionBy("bucket").parquet(path)


def ann_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    n_probes: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_collect_buckets: int = 4096,
) -> DataFrame:
    """Multi-probe top-k against a persisted :func:`write_ann_index`
    store, reading ONLY the probed bucket partitions.

    The probe set is ≤ 2**n_bits values BY CONSTRUCTION (bucket ids
    live in [0, 2^n_bits)), so for the usual coarse bucket spaces
    collecting it to the driver is bounded regardless of query-set
    size, and the resulting ``isin`` filter is a planning-time
    partition prune on the index scan — the unprobed directories are
    never opened.  Past ``max_collect_buckets`` (an index built with
    n_bits ≥ 13 by default) the driver collect stops being "bounded"
    in any honest sense, so the literal prune is skipped and pruning
    happens through Spark's dynamic partition pruning instead: the
    scoring join below broadcasts the query side and joins on the
    partition column, so the scan receives a runtime bucket filter —
    same partitions skipped, zero driver materialization (pinned in
    tests/test_ann_index.py).  The pruned scan feeds :func:`_lsh_leg`,
    the leg :func:`ann_topk_lsh` runs, so against the same corpus the
    results match the in-memory operator row-for-row (pinned in
    tests/test_ann_index.py)."""
    qprep = _ann_prep(queries, id_col, vec_col, n_bits)
    scan = spark.read.parquet(path)
    if 2**n_bits <= max_collect_buckets:
        # bounded driver collect: at most 2^n_bits distinct bucket ids,
        # pruned at PLANNING time via literal isin
        probed = _probe_buckets(qprep, n_bits, n_probes).select("bucket")
        scan = scan.where(
            F.col("bucket").isin([r["bucket"] for r in probed.distinct().collect()])
        )
    # else: no driver collect — the broadcast equi-join on the partition
    # column in _lsh_leg hands the scan a runtime filter via dynamic
    # partition pruning (spark.sql.dynamicPartitionPruning, on by default)
    return _lsh_leg(scan, qprep, k, n_bits, n_probes)


def quantize_embeddings(
    vectors: DataFrame, vec_col: str = "embedding", q_col: str = "qvec"
) -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max|x| / 127,
    element = round(x / scale) — 4× smaller storage/shuffle than float32.

    At 100 TB of embeddings the vector column IS the table; int8 cuts
    scan and shuffle bytes 4× while keeping cosine rank order nearly
    intact (≤ ~0.4% per-element error).  The standard recipe: quantized
    columns for the coarse/candidate stages (ANN bucketing, threshold
    pre-filter), full-precision re-score only for the final
    candidates — mirroring the IVF/LSH two-stage pattern above.
    All JVM-side (transform / aggregate); a zero vector keeps scale 0
    and quantizes to zeros.

    The per-element lambda references the max-abs via a BOUND lambda
    variable (transform over a one-element array), not directly:
    higher-order-function lambdas are interpreted with no
    common-subexpression elimination, so a direct reference re-runs the
    O(d) array_max for every element — O(d²) per row (the same round-8
    finding as ``_unit``; values are bit-identical either way)."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (mx / F.lit(127.0)).alias("q_scale")
    q = F.element_at(
        F.transform(
            F.array(mx),
            lambda m: F.when(
                m == 0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
            ).otherwise(
                F.transform(
                    v,
                    lambda x: F.round(
                        x.cast("double") / (m / F.lit(127.0))
                    ).cast("tinyint"),
                )
            ),
        ),
        1,
    )
    return vectors.withColumn("q_scale", scale).withColumn(q_col, q)


def dequantize(q_col: str = "qvec", scale_col: str = "q_scale") -> Column:
    """Reconstruct an approximate float vector from int8 + scale."""
    return F.transform(
        F.col(q_col), lambda x: (x.cast("double") * F.col(scale_col)).cast("float")
    )


# DuckDB SQL fragment mirroring dot()/cosine() — kept next to the Spark
# implementation so the fold orders never drift apart.
def sql_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def sql_cosine(a: str, b: str, dim: int = 64) -> str:
    return (
        f"({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})))"
    )


def sql_int_dot(a: str, b: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`int_dot` — BIGINT products, exact."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def sql_abs_max(vec: str) -> str:
    """DuckDB twin of the per-vector max|x| used by quantization."""
    return f"list_max(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))))"


def sql_quantize(vec: str, mx: str, dim: int = 64) -> str:
    """DuckDB twin of :func:`quantize_embeddings`'s element rule —
    ``mx`` must be the :func:`sql_abs_max` of the same vector (hoist it
    into the surrounding SELECT so the division order matches Spark's
    ``x / (mx / 127.0)`` exactly)."""
    return (
        f"CASE WHEN {mx} = 0 THEN "
        f"list_transform(range(1, {dim + 1}), i -> CAST(0 AS BIGINT)) "
        f"ELSE list_transform(range(1, {dim + 1}), "
        f"i -> CAST(round(CAST({vec}[i] AS DOUBLE) / ({mx} / 127.0)) AS BIGINT)) END"
    )


def sql_quantized_cosine(dot_ab: str, self_a: str, self_b: str) -> str:
    """DuckDB twin of :func:`quantized_cosine` (sentinel −2.0 on zero)."""
    return (
        f"CASE WHEN {self_a} > 0 AND {self_b} > 0 THEN "
        f"CAST({dot_ab} AS DOUBLE) / "
        f"(sqrt(CAST({self_a} AS DOUBLE)) * sqrt(CAST({self_b} AS DOUBLE))) "
        f"ELSE -2.0 END"
    )


def sq_dist(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance of two array columns, left-fold in double."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_lloyd(
    vectors: DataFrame,
    max_iterations: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """Lloyd's k-means — the iterative-algorithm shape on Spark: per
    round ONE Spark job (assignment scan + model-grain mean exchange),
    with the k·d centroid MODEL held driver-side between rounds (it is
    the same bounded grain the assignment ships anyway, so no per-round
    checkpoint or separate shift-scalar job — no lineage growth to
    stop).

    Returns ``(assignments(id, cell, dist), centroids(cell, centroid),
    n_iterations)``.

    - **Init is deterministic**: by default the per-``label`` fixed-point
      centroids (:func:`label_centroids` — k = distinct labels); pass
      ``init`` as a ``(cell, centroid array<double>)`` frame to seed
      differently.  No RNG anywhere, so runs are bit-reproducible.
    - **Round**: :func:`_cell_partial_means_np` — one Arrow-batched
      numpy pass runs the :func:`_nearest_cell` argmin (min-distance
      cell, total-order (dist, cell) ties) AND accumulates per-(cell,
      pos) fixed-point int64 partial sums, so the corpus never
      explodes; the round's one exchange is k·d·P model cells,
      corpus-independent.  Means are order-independent (the
      :func:`label_centroids` determinism contract).  An emptied
      cluster keeps its previous centroid instead of vanishing; merge
      + max-shift convergence are k-row driver loops over the
      identical IEEE doubles.
    - **Final assignment**: one zero-shuffle :func:`_nearest_cell` scan
      against the returned centroids.

    At 100 TB: per-round cost = one corpus scan + one model-grain
    exchange; rounds are the only serial dimension.  This is exactly
    why k-means suits Spark and why each round must stay one job.
    """
    if init is None and "label" not in vectors.columns:
        raise ValueError(
            "kmeans_lloyd default init seeds from per-'label' centroids; "
            "this frame has no 'label' column — pass init=(cell, "
            "centroid) explicitly"
        )
    v = vectors.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    init_df = (
        init
        if init is not None
        else _centroid_arrays(vectors, "label", vec_col).select(
            F.col("label").cast("int").alias("cell"), "centroid"
        )
    )
    # The centroid MODEL lives on the driver between rounds: it is k·d
    # doubles, merge/coalesce-empties/shift are k-row Python loops on
    # the identical IEEE values, and round-to-round state is a literal
    # re-embed (Python float IS the double), so nothing drifts.
    spark = vectors.sparkSession
    cell_dt = init_df.schema["cell"].dataType
    cent_schema = T.StructType(
        [
            T.StructField("cell", cell_dt, True),
            T.StructField(
                "centroid", T.ArrayType(T.DoubleType(), True), True
            ),
        ]
    )
    cents_rows = _collect_cells(init_df)  # [(cell, [double...])], sorted
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        if not cents_rows:
            break  # nothing to iterate on; empty model stays empty
        new_map = {
            cents_rows[r["cell_ix"]][0]: list(r["centroid"])
            for r in _cell_partial_means_np(v, cents_rows).collect()
        }  # <= k rows
        # emptied clusters keep their previous centroid; convergence
        # is the max element shift — both k-grain, both driver-side
        shift = 0.0
        nxt = []
        for cell, old in cents_rows:
            cen = new_map.get(cell, old)
            if cen is not old:
                shift = max(
                    shift,
                    max(
                        (abs(a - b) for a, b in zip(cen, old)),
                        default=0.0,
                    ),
                )
            nxt.append((cell, cen))
        cents_rows = nxt
        if shift < tol:
            break
    # assignments are scored against the FINAL centroid set so
    # (assignments, centroids) are mutually consistent: every point's
    # cell IS its nearest returned centroid.  One zero-shuffle pass.
    cents = _local_frame(spark, cents_rows, cent_schema)
    assigned = _nearest_cell(v, cents)
    out = assigned.select(F.col("id").alias(id_col), "cell", "dist")
    return out, cents, iterations


def _nearest_cell(v: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, vec, cell, dist): the L2 nearest centroid per row — the
    Lloyd and IVF-PQ encode assignment — as a zero-shuffle Arrow-batched
    numpy scan; the centroid set is collected once (k·d doubles) and
    rides the task closure.

    ``dist`` is the :func:`sq_dist` left fold in float64 — subtract,
    multiply, add per dimension in ascending order, never ``np.sum`` or
    the matmul identity — so it is the same double the DuckDB oracles
    compute.  Centroids are laid out cell-ascending, so the
    first-minimum argmin breaks ties to the LOWER cell; NaN distances
    are masked to +inf, so an all-NaN row (a NaN element) lands on the
    lowest cell with a NaN dist.  A NULL or wrong-length vector also
    lands on the lowest cell, with a NULL dist.  Zero centroids → zero
    rows."""
    import numpy as np

    rows = _collect_cells(cents)
    cell_dt = cents.schema["cell"].dataType
    out_schema = T.StructType(
        [
            v.schema["id"],
            v.schema["vec"],
            T.StructField("cell", cell_dt, False),
            T.StructField("dist", T.DoubleType(), True),
        ]
    )
    if not rows:
        return v.select(
            "id",
            "vec",
            F.lit(0).cast(cell_dt).alias("cell"),
            F.lit(0.0).alias("dist"),
        ).where(F.lit(False))
    cells_np = np.array([c for c, _ in rows])
    C = np.array([cen for _, cen in rows], dtype=np.float64)
    d = C.shape[1]

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X, degenerate = _stack_padded(np, pdf["vec"].to_numpy(), d)
            n = X.shape[0]
            acc = _sq_dists(np, X, C)
            idx = np.where(np.isnan(acc), np.inf, acc).argmin(axis=1)
            # NULL (degenerate row) and NaN (NaN element) must stay
            # distinct through Arrow: an explicit-mask FloatingArray
            # nulls ONLY the degenerate rows (an object column would
            # fold NaN into null)
            dist = pd.arrays.FloatingArray(
                acc[np.arange(n), idx], degenerate.copy()
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].reset_index(drop=True),
                    "vec": pdf["vec"].reset_index(drop=True),
                    "cell": cells_np[idx],
                    "dist": dist,
                }
            )

    return v.select("id", "vec").mapInPandas(assign, out_schema)


def _cell_partial_means_np(
    v: DataFrame, cents_rows: "list[tuple]"
) -> DataFrame:
    """One kmeans Lloyd round — the :func:`_pq_partial_means_np` twin
    at whole-vector grain: one ``mapInPandas`` pass runs the
    :func:`_nearest_cell` argmin AND accumulates per-(cell, pos) int64
    fixed-point partial sums, so the one exchange is k·d·P model cells,
    never the N·d exploded corpus.  The means are the
    :func:`label_centroids` arithmetic: HALF_UP rounding via
    :func:`_round_scaled_fixed`, order-independent int64 totals,
    per-pos counts (a short row contributes only its real positions),
    and the shared :func:`_fixed_point_mean` division.  Returns
    ``(cell_ix, centroid)`` — the index into ``cents_rows``.  Per-task
    state is 2·k·d int64."""
    import numpy as np

    C = np.array([cen for _, cen in cents_rows], dtype=np.float64)
    k, d = C.shape
    part_schema = T.StructType(
        [
            T.StructField("cell_ix", T.IntegerType(), False),
            T.StructField("sums", T.ArrayType(T.LongType(), False), False),
            T.StructField("cnts", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def partials(batches):
        import pandas as pd

        sums = np.zeros((k, d), dtype=np.int64)
        cnts = np.zeros((k, d), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf["vec"].to_numpy()
            X, _ = _stack_padded(np, raw, d)
            n = X.shape[0]
            idx = _argmin_l2(np, X, C)
            clean = np.fromiter(
                (x is not None and len(x) == d for x in raw),
                dtype=bool,
                count=n,
            )
            if clean.any():
                all_clean = bool(clean.all())
                Xc = X if all_clean else X[clean]
                ic = idx if all_clean else idx[clean]
                # chunked: bandwidth-bound, not FLOP-bound (r12 probe)
                for s0 in range(0, Xc.shape[0], 2048):
                    xr = _round_scaled_fixed(np, Xc[s0 : s0 + 2048])
                    np.add.at(sums, ic[s0 : s0 + 2048], xr)
                    np.add.at(cnts, ic[s0 : s0 + 2048], 1)
            for i in np.flatnonzero(~clean):
                # posexplode of the RAW vector: a wrong-length row
                # still contributes its real positions to its (NaN ->
                # lowest-cell) assignment; nulls explode to nothing
                x = raw[i]
                if x is None:
                    continue
                if len(x) > d:
                    # the exploded form would carry positions past the
                    # model dim into collect_list (a silently LONGER
                    # centroid) — out of the fixed-d model, refuse
                    # loudly rather than replicate the corruption
                    raise ValueError(
                        f"kmeans vector longer ({len(x)}) than the "
                        f"centroid dim ({d})"
                    )
                xr = _round_scaled_fixed(
                    np, np.asarray(x, dtype=np.float64)
                )
                if xr.size:
                    sums[idx[i], : xr.size] += xr
                    cnts[idx[i], : xr.size] += 1
        rows = [
            (i, sums[i].tolist(), cnts[i].tolist())
            for i in range(k)
            if cnts[i].any()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["cell_ix", "sums", "cnts"])

    pz = (
        v.select("vec")
        .mapInPandas(partials, part_schema)
        .select(
            "cell_ix",
            F.posexplode(F.arrays_zip("sums", "cnts")).alias("pos", "sc"),
        )
    )
    per_pos = pz.groupBy("cell_ix", "pos").agg(
        F.sum("sc.sums").alias("s"), F.sum("sc.cnts").alias("c")
    )
    # (cell_ix, centroid): the caller maps ix -> cell id driver-side
    # (it holds cents_rows anyway), keeping the cell dtype exact
    return _fixed_point_mean(per_pos, ["cell_ix"])


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    max_iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clusters: DataFrame | None = None,
    mode: str = "drop",
) -> DataFrame:
    """Embedding-space near-dedup with cluster blocking (the SemDeDup
    recipe, Abbas et al. 2023): k-means the corpus, form cosine pairs
    only WITHIN each cluster, and drop every vector that has a
    >= threshold neighbor with a smaller id (deterministic keep-lowest,
    the same survivor rule as exact dedup in llm/dedup.py).

    Blocking is the whole scale story: pairwise cosine over N vectors is
    N^2, but within k balanced clusters it is k * (N/k)^2 = N^2 / k — and
    the pair join is an equi-shuffle on the cell id
    (:func:`cosine_self_join` with ``partition_col``), never a cross
    join.  Cross-cluster near-dups are deliberately out of recall, the
    paper's own tradeoff; raise k for finer blocking or pass explicit
    ``clusters`` (e.g. 2-nearest-cell assignments for boundary overlap).

    ``clusters`` overrides the k-means pass with a ready
    ``(id_col, cell)`` frame; :func:`kmeans_lloyd` is deterministic, so
    either way the output is bit-stable.  ``mode='flag'`` keeps every
    row and adds a boolean ``semdup`` column instead of dropping.

    The transitive variant (dup GROUPS rather than pairwise drops) is
    :func:`~.dedup.connected_components` over the pair list; the greedy
    rule here is one pass and is what the dedup family's declared
    queries use.
    """
    if clusters is None:
        assigned, _, _ = kmeans_lloyd(
            vectors,
            max_iterations=max_iterations,
            id_col=id_col,
            vec_col=vec_col,
        )
        clusters = assigned.select(id_col, "cell")
    v = vectors.join(clusters.select(id_col, "cell"), id_col)
    pairs = cosine_self_join(
        v, threshold, partition_col="cell", id_col=id_col, vec_col=vec_col
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    if mode == "drop":
        return v.join(drops, id_col, "left_anti")
    if mode == "flag":
        return v.join(
            drops.withColumn("semdup", F.lit(True)), id_col, "left"
        ).withColumn("semdup", F.coalesce(F.col("semdup"), F.lit(False)))
    raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")


# ------------------------------------------------- product quantization ----


def _nonzero_vec(vec_col: Column | str) -> Column:
    """Predicate: the vector has a nonzero element (norm > 0).

    A short-circuit ``exists`` over the RAW array — O(d) worst case,
    usually one element deep — not a norm fold.  Every PQ entry point
    filters both sides through this so the zero-norm contract matches
    the float families (sentinel-drop there, pre-filter here): a
    zero-norm query returns NO rows in every ANN family, instead of
    the PQ paths ranking it 0.0 against everything (driver ADVICE r8
    finding — a consumer switching families saw different row counts
    for the same degenerate input)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.exists(v, lambda x: x != F.lit(0.0))


def _unit(vec_col: Column | str) -> Column:
    """Normalize an array column to unit L2 length (doubles).

    An all-zero vector maps to all-zero (not NaN): dividing by a zero
    norm would poison every downstream fixed-point centroid cast under
    ANSI mode, and a zero vector's cosine against anything is 0 anyway."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    # Bind the norm as a lambda variable (transform over a one-element
    # array): higher-order-function lambdas are interpreted with no
    # common-subexpression elimination, so referencing `n` directly in
    # the per-element lambda re-runs the whole O(d) norm fold for EVERY
    # element — O(d²) per row (the round-7 HOF lesson; measured as the
    # dominant cost of the 128k-vector PQ encode before this fix).
    return F.element_at(
        F.transform(
            F.array(n),
            lambda nn: F.transform(
                v,
                lambda x: F.when(nn > 0, x.cast("double") / nn).otherwise(
                    F.lit(0.0)
                ),
            ),
        ),
        1,
    )


def _unit_frame(
    df: DataFrame, id_col: str, vec_col: str, a: str = "cid", b: str = "cvec"
) -> DataFrame:
    """``(a, b)`` = (id, :func:`_unit` vector) for the rows of ``df``
    with a nonzero vector — the PQ families' input, zero-norm rows
    dropped up front (:func:`_nonzero_vec`)."""
    return df.where(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias(a), _unit(vec_col).alias(b)
    )


def _subvectors(
    df: DataFrame, m: int, d: int, id_col: str, vec_col: str
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous sub-vectors of
    length ``d`` → rows (id, subspace, subvec)."""
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(F.col(vec_col), j * d + 1, d).alias("subvec"),
            )
            for j in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(parts).alias("p")
    ).select("id", "p.subspace", "p.subvec")


def _round_scaled_fixed(np, x):
    """int64 fixed-point of ``round(x * CENTROID_SCALE)`` with SPARK's
    Round semantics — HALF_UP away from zero on the double value.

    Parity argument (this must be bit-identical to
    ``F.round(col * CENTROID_SCALE).cast('long')``): Spark rounds a
    double via ``BigDecimal.valueOf(d).setScale(0, HALF_UP)`` — i.e. on
    the SHORTEST-decimal representation.  The n±0.5 boundaries are
    exactly representable doubles, and a shortest repr round-trips to
    its double, so decimal-vs-boundary ordering EQUALS binary ordering
    — the binary comparisons below decide every case exactly.  The
    naive ``floor(s + 0.5)`` is NOT equivalent (``s + 0.5`` can round
    up across the boundary: s = 0.49999999999999994 → floor gives 1,
    Spark gives 0 — verified against Spark in
    tests/test_ann_recall.py).  |s| ≥ 2^52 is already integral.
    Non-finite values are refused (Spark's cast raises under ANSI when
    casting NaN to long)."""
    # Few-pass form (r12: these ops are memory-bandwidth-bound across
    # 32 parallel workers, so every avoided temporary matters):
    # frac = s - floor(s) is computed EXACTLY for |s| < 2^52 (both
    # operands representable, difference < 1 with bits drawn from s's
    # own low-order bits), so comparing frac against the exact 0.5
    # decides the boundary identically to comparing s >= floor(s)+0.5
    # — without materializing floor(s)+0.5.  HALF_UP away from zero:
    # positives round up at frac >= 0.5, negatives (floor is the
    # away-from-zero side... floor(-2.5) = -3) only PAST it, frac >
    # 0.5.  signbit keeps -0.0 on the negative rule (result -0.0 ->
    # 0, same as Spark).
    s = x * float(CENTROID_SCALE)
    if not np.isfinite(s).all():
        # fail-LOUD: astype(int64) on a non-finite is platform-defined
        # (INT64_MIN on x86) and would silently poison the fixed-point
        # sums (r12 review finding).  Spark's own cast raises under
        # ANSI for a NaN/Inf element; a NULL element is
        # INDISTINGUISHABLE from NaN after the Arrow float64 boundary,
        # so the kernels refuse both rather than guess.
        raise ValueError(
            "fixed-point centroid mean: non-finite vector element "
            "(null and NaN elements are indistinguishable after Arrow; "
            "the kernel refuses both — clean the vectors)"
        )
    f = np.floor(s)
    frac = s - f
    f += np.where(np.signbit(s), frac > 0.5, frac >= 0.5)
    big = np.abs(s) >= 2.0**52  # already integral; floor(s) == s there
    if big.any():
        f[big] = s[big]
    return f.astype(np.int64)


def _fixed_point_mean(per_pos_src: DataFrame, keys: "list[str]") -> DataFrame:
    """(keys..., pos, s, c) partial totals -> (keys..., centroid): the
    ONE division shared by the numpy Lloyd updates —
    ``cv = s.cast(double) / (SCALE * c)``, the :func:`label_centroids`
    expression, then pos-sorted array assembly."""
    per_pos = per_pos_src.where(F.col("c") > 0).select(
        *keys,
        "pos",
        (
            F.col("s").cast("double")
            / (F.lit(float(CENTROID_SCALE)) * F.col("c"))
        ).alias("cv"),
    )
    return per_pos.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda st: st["cv"],
        ).alias("centroid")
    )


def _pq_partial_means_np(
    base: DataFrame,
    cmap: "dict | None",
    m: int,
    d: int,
    n_codes: int,
    codes_col: str | None = None,
) -> DataFrame:
    """One PQ Lloyd round (or, with ``codes_col``, the init means): ONE
    ``mapInPandas`` pass computes the :func:`_pq_codes_np` argmin AND
    accumulates per-(subspace, code, pos) int64 fixed-point partial
    sums in C, so the corpus never explodes into an N·m·d-row hash
    aggregate (BASELINE.md r11: that aggregate stepped the 1M×d512
    train 2.6× for 2× corpus).

    Per-partition output is the bounded MODEL grain — ≤ m·codes rows
    of two d-long arrays — so the one exchange is m·codes·d·P cells,
    corpus-independent.  The arithmetic:

    - assignment: the :func:`_pq_codes_np` left-fold argmin (same
      association, tie-to-lower-code, NaN→+inf);
    - per-element rounding: :func:`_round_scaled_fixed` reproduces
      ``F.round(val·SCALE).cast(long)`` exactly (HALF_UP on the
      double, boundary-exact — see its docstring);
    - totals: int64 sums are associative/commutative, so partition
      grouping cannot change them; counts ride per-pos so a SHORT row
      contributes exactly the positions of its ``slice`` (missing
      (code, pos) cells stay absent);
    - division: :func:`_fixed_point_mean`.

    Returns ``(subspace, code, centroid)``.

    ``codes_col``: a pre-computed ``array<int>`` column of m
    per-subspace codes — the partial sums then skip the argmin
    entirely.  This is how pq_train's INIT pass runs: the hash codes
    (``pmod(xxhash64(id, j), codes)``) stay a JVM expression — never
    re-implemented Python-side."""
    import numpy as np

    model = None if codes_col is not None else _pq_model(np, cmap, m, n_codes)
    part_schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType(), False),
            T.StructField("code", T.IntegerType(), False),
            T.StructField("sums", T.ArrayType(T.LongType(), False), False),
            T.StructField("cnts", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def partials(batches):
        import pandas as pd

        sums = np.zeros((m, n_codes, d), dtype=np.int64)
        cnts = np.zeros((m, n_codes, d), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf["__v"].to_numpy()
            vs, _ = _stack_padded(np, raw, m * d, mode="slice")
            n = vs.shape[0]
            if codes_col is not None:
                codes = np.array(
                    [list(c) for c in pdf[codes_col]], dtype=np.int64
                )
            else:
                codes = _pq_argmin(np, vs, model)
            # rows with >= m·d elements contribute full slices —
            # vectorized; SHORT rows replicate slice/posexplode
            # semantics (only their real positions) row-by-row
            clean = np.fromiter(
                (x is not None and len(x) >= m * d for x in raw),
                dtype=bool,
                count=n,
            )
            if clean.any():
                all_clean = bool(clean.all())
                vc = vs if all_clean else vs[clean]
                cc = codes if all_clean else codes[clean]
                # row chunks keep the rounding temporaries ~L2-sized:
                # these passes are memory-bandwidth-bound across 32
                # parallel workers (r12 probe), not FLOP-bound
                for s0 in range(0, vc.shape[0], 2048):
                    xr = _round_scaled_fixed(np, vc[s0 : s0 + 2048])
                    cs = cc[s0 : s0 + 2048]
                    for j in range(m):
                        np.add.at(
                            sums[j], cs[:, j], xr[:, j * d : (j + 1) * d]
                        )
                        np.add.at(cnts[j], cs[:, j], 1)
            for i in np.flatnonzero(~clean):
                x = raw[i]
                if x is None:
                    continue  # _pq_barrier drops null vectors anyway
                xr = _round_scaled_fixed(
                    np, np.asarray(x, dtype=np.float64)
                )
                for j in range(m):
                    seg = xr[j * d : j * d + d]
                    if seg.size:
                        c0 = codes[i, j]
                        sums[j, c0, : seg.size] += seg
                        cnts[j, c0, : seg.size] += 1
        rows = []
        for j in range(m):
            for c in range(n_codes):
                if cnts[j, c].any():
                    rows.append(
                        (j, c, sums[j, c].tolist(), cnts[j, c].tolist())
                    )
        if rows:
            yield pd.DataFrame(
                rows, columns=["subspace", "code", "sums", "cnts"]
            )

    in_cols = ["id", "__v"] + ([codes_col] if codes_col else [])
    pz = (
        base.select(*in_cols)
        .mapInPandas(partials, part_schema)
        .select(
            "subspace",
            "code",
            F.posexplode(F.arrays_zip("sums", "cnts")).alias("pos", "sc"),
        )
    )
    per_pos = pz.groupBy("subspace", "code", "pos").agg(
        F.sum("sc.sums").alias("s"), F.sum("sc.cnts").alias("c")
    )
    return _fixed_point_mean(per_pos, ["subspace", "code"])


def _pq_barrier(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __v): the PQ kernels' input projection.  Null vectors drop
    (no codes can be assigned)."""
    v = F.col(vec_col)
    return vectors.where(v.isNotNull()).select(
        F.col(id_col).alias("id"), v.alias("__v")
    )


def _pq_codes_np(
    base: DataFrame, cmap: dict, m: int, d: int, n_codes: int
) -> DataFrame:
    """(id, codes) over a :func:`_pq_barrier` frame — the PQ argmin as
    a zero-shuffle Arrow-batched numpy scan.  The model (m·codes·d
    doubles) rides the task closure (PySpark ships large closures via
    its own broadcast); rows are never grouped, so duplicate ids and
    exact-duplicate rows pass through as they are.

    The arithmetic is pinned against the DuckDB twin in
    tests/test_equivalence.py:

    - the distance is the :func:`sq_dist` left fold — ``acc += diff *
      diff`` per dimension in ascending order over float64 operands
      (one subtract, one multiply, one add per term), never ``np.sum``
      (pairwise association) or the matmul identity (different
      rounding);
    - inputs are widened float->double BEFORE arithmetic;
    - ties go to the LOWER code: ``np.argmin`` returns the first
      minimum and codes are laid out ascending;
    - NaN distances are masked to +inf before the argmin, so an
      all-NaN subspace (a NaN element, or the missing tail of a SHORT
      row) yields code 0; a LONGER row's extra elements are ignored."""
    import numpy as np

    model = _pq_model(np, cmap, m, n_codes)
    out_schema = T.StructType(
        [
            base.schema["id"],
            T.StructField(
                "codes", T.ArrayType(T.IntegerType(), False), False
            ),
        ]
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vs, _ = _stack_padded(
                np, pdf["__v"].to_numpy(), m * d, mode="slice"
            )
            codes = _pq_argmin(np, vs, model).astype(np.int32)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return base.select("id", "__v").mapInPandas(assign, out_schema)


def _pq_codebook_shape(codebooks: DataFrame) -> "tuple[int, int, int]":
    """(m, codes, dim) as defined BY a codebooks frame — one bounded agg
    over its m·codes rows.  The single source of truth shared by
    :func:`ann_topk_ivfpq` and the persisted-index entry points, whose
    row-for-row equivalence pin depends on all inferring identically."""
    shape = codebooks.agg(
        (F.max("subspace") + 1).alias("m"),
        (F.max("code") + 1).alias("codes"),
        F.max(F.size("centroid")).alias("d"),
    ).collect()[0]
    m, codes = int(shape["m"]), int(shape["codes"])
    return m, codes, m * int(shape["d"])


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    codes: int = 16,
    max_iterations: int = 8,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Train product-quantization codebooks: per-subspace k-means, ALL
    ``m`` subspaces in ONE iterative job.

    The vector is split into ``m`` contiguous sub-vectors of ``dim/m``
    dims; subspace ``j`` gets its own ``codes``-entry codebook.  The
    codebooks are a BOUNDED model (``m × codes`` rows), so each Lloyd
    round collects them to the driver and runs
    :func:`_pq_partial_means_np`: one Arrow-batched numpy pass does the
    argmin AND the fixed-point partial sums, so per round there is
    exactly one corpus scan and one (subspace, code, pos)-grain
    exchange — no join, no window, no exploded corpus.

    Deterministic throughout: init assigns ``pmod(xxhash64(id,
    subspace), codes)`` (no RNG), means are order-independent int64
    fixed-point sums, ties break on code, and the driver round-trips
    centroid doubles losslessly (Python float IS an IEEE double).  At
    100 TB, train on a :func:`~..operators.hash_sample` of the corpus —
    codebook quality saturates long before the full pass — then encode
    everything with :func:`pq_encode` (one linear pass).

    Returns ``(subspace int, code int, centroid array<double>)``.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d = dim // m
    base = _pq_barrier(vectors, id_col, vec_col)
    # INIT: the hash codes stay a JVM expression (`pmod(xxhash64(id,
    # j), codes)`, j an int32 literal); the same partial-sum pass as
    # the Lloyd rounds takes the means.  Null vectors contribute
    # nothing (_pq_barrier drops them).
    coded = base.withColumn(
        "__codes0",
        F.array(
            *[
                F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(codes)).cast(
                    "int"
                )
                for j in range(m)
            ]
        ),
    )
    init = _pq_partial_means_np(coded, None, m, d, codes, codes_col="__codes0")
    # Densify: every (subspace, code) cell must exist even when the
    # hash init left it memberless (small corpora / unlucky hashes).
    # The ADC lookup table is POSITIONAL (index j*codes+code over the
    # sorted cells), so one missing cell would shift every later
    # distance and break the scan.  Empty cells start at the origin; a
    # later Lloyd round may revive them, ties lose to the lower code.
    cmap = {(j, c): [0.0] * d for j in range(m) for c in range(codes)}
    for r in init.collect():  # bounded: <= m·codes rows
        cmap[(r["subspace"], r["code"])] = list(r["centroid"])
    for _ in range(max_iterations):
        shift = 0.0
        means = _pq_partial_means_np(base, cmap, m, d, codes)
        for r in means.collect():  # <= m·codes rows
            key = (r["subspace"], r["code"])
            new_cent = list(r["centroid"])
            shift = max(
                shift,
                max(abs(a - b) for a, b in zip(new_cent, cmap[key])),
            )
            cmap[key] = new_cent
        if shift < tol:
            break
    return _local_frame(
        vectors.sparkSession,
        [(j, c, cmap[(j, c)]) for j in range(m) for c in range(codes)],
        T.StructType(
            [
                T.StructField("subspace", T.IntegerType()),
                T.StructField("code", T.IntegerType()),
                T.StructField("centroid", T.ArrayType(T.DoubleType())),
            ]
        ),
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Encode vectors to their PQ codes: ``(id, codes array<int>)``.

    ZERO-shuffle: the codebooks (``m × codes`` rows — the same collect
    discipline as every model here) are collected once and the
    per-subspace argmin (min distance, ties to the lower code) runs as
    the Arrow-batched numpy scan :func:`_pq_codes_np` — no exchange, no
    aggregate, no join.  Encode is the one pass that must touch EVERY
    corpus vector at 100 TB, and it stays a map at any model size.
    ``dim``-dim floats become ``m`` small ints (64 doubles → 8 bytes at
    m=8), the 64× footprint drop that lets a 100 TB corpus's index fit
    hot.  Null vectors are dropped (no codes can be assigned).  ``m``
    is read from the codebooks: they define the subspace
    decomposition."""
    cb_rows = codebooks.collect()  # bounded: m·codes tiny rows
    cb = {(r["subspace"], r["code"]): r["centroid"] for r in cb_rows}
    m = max(r["subspace"] for r in cb_rows) + 1
    if dim % m:
        # same contract as pq_train: silently flooring d would encode
        # over a truncated subspace decomposition and bias every ADC
        # distance (trailing dims dropped without a trace)
        raise ValueError(f"dim={dim} not divisible by codebook m={m}")
    d = dim // m
    n_codes = max(r["code"] for r in cb_rows) + 1
    bad_len = [k for k, cent in cb.items() if len(cent) != d]
    if bad_len:
        raise ValueError(
            f"codebook centroids at {bad_len[:4]} have length != dim/m={d}"
        )
    missing = [
        (j, c) for j in range(m) for c in range(n_codes) if (j, c) not in cb
    ]
    if missing:
        raise ValueError(
            f"codebooks are not a dense (subspace, code) grid; missing "
            f"{missing[:4]}{'...' if len(missing) > 4 else ''}"
        )
    return _pq_codes_np(_pq_barrier(vectors, id_col, vec_col), cb, m, d, n_codes)


def _adc_sum(m: int, codes: int) -> Column:
    """ADC distance over a row carrying ``lut`` and ``codes`` columns,
    as an UNROLLED scalar sum (m is a small constant): the
    F.aggregate/sequence fold form is an interpreted higher-order
    function — no codegen, no CSE (the round-7 HOF lesson) — and it
    sat on the per-(corpus-row × query) hot path; the unrolled form
    whole-stage-codegens.  Left-to-right + matches the fold's
    association, so the doubles are bit-identical."""
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col("lut"),
            (
                F.lit(j * codes) + F.element_at(F.col("codes"), j + 1) + 1
            ).cast("int"),
        )
        adc = term if adc is None else adc + term
    return adc


def _adc_topk_tail(
    scored: DataFrame,
    c_unit: DataFrame,
    q_unit: DataFrame,
    k: int,
    kk: int,
) -> DataFrame:
    """Two-stage ADC candidate selection + exact re-rank, over a
    ``scored`` frame of (pid, query_id, neighbor_id, adist): per-
    (query, partition) top-``kk``, global top-``kk``, then exact cosine
    on the original vectors and the final rank ≤ k."""
    local_w = Window.partitionBy("query_id", "pid").orderBy(
        "adist", "neighbor_id"
    )
    global_w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    cands = (
        scored.withColumn("lr", F.row_number().over(local_w))
        .where(F.col("lr") <= kk)
        .drop("lr", "pid")
        .withColumn("gr", F.row_number().over(global_w))
        .where(F.col("gr") <= kk)
        .drop("gr", "adist")
    )
    # exact re-rank on the bounded candidate set (unit vecs ⇒ dot = cos)
    exact = (
        F.broadcast(cands)
        .join(c_unit, cands.neighbor_id == c_unit.cid)
        .join(F.broadcast(q_unit), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot("qvec", "cvec").alias("score"),
        )
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    return (
        exact.withColumn("rank", F.row_number().over(final_w))
        .where(F.col("rank") <= k)
    )


def _validate_index_write_mode(mode: str, append_fn: str) -> str:
    """Model writes accept overwrite/error only: mode='append' would
    stack a SECOND model into the same centroids/codebooks directories
    — the dict builds silently keep one arbitrary duplicate per key
    and a later probe scores against a MIXED model with no error
    (ADVICE r12).  'ignore' is rejected too: with several directories
    per index it could skip SOME writes and leave a torn store.
    Appending vectors to an existing index is the dedicated append
    entry point, which encodes against the STORED model.  Returns the
    LOWERCASED mode — DataFrameWriter.mode is case-insensitive
    ('Overwrite' is legal Spark), so callers must branch on the
    normalized form (r13 review finding)."""
    normalized = mode.lower()
    if normalized not in ("overwrite", "error", "errorifexists"):
        raise ValueError(
            f"mode must be 'overwrite' or 'error'/'errorifexists', got "
            f"{mode!r} — to add vectors to an existing index use "
            f"{append_fn}"
        )
    return normalized


# ---------------------------------------------------------------------------
# IVF-PQ composite (IVFADC): coarse cells + PQ on residuals
# ---------------------------------------------------------------------------
#
# The canonical billion-scale ANN layout (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", §IV — the faiss IVFPQ
# architecture): a coarse k-means partitions the corpus into cells so a
# query scores only its probed cells' inverted lists, and the PQ
# codebooks quantize the RESIDUAL x − c(x) instead of x itself —
# residuals concentrate near the origin, so the same code budget spends
# its resolution where the vectors actually are, and the two recall
# knobs (n_probes for coverage, rerank for precision) compose.  Every
# stage reuses this module's deterministic primitives: kmeans_lloyd for
# the coarse model, pq_train/pq_encode on residuals, the _nearest_cells
# scan for both assignments, and the two-stage ADC tail.


def hash_seed_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic label-free k-means seeding: hash-bucket vectors
    into ``k`` pseudo-groups (``pmod(xxhash64(id), k)``) and take each
    group's fixed-point centroid — a ``(cell, centroid)`` init frame
    for :func:`kmeans_lloyd` when no ``label`` column exists.  No RNG,
    so the whole Lloyd run stays bit-reproducible; buckets that catch
    no vectors (possible for tiny corpora) simply yield fewer than
    ``k`` initial cells, which Lloyd then carries as-is.  The seeding
    job is one model-grain aggregate over a single corpus scan."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seeded = vectors.withColumn(
        "__seed", F.pmod(F.xxhash64(F.col(id_col)), F.lit(k)).cast("int")
    )
    return _centroid_arrays(seeded, "__seed", vec_col).select(
        F.col("__seed").cast("int").alias("cell"), "centroid"
    )


def ivfpq_train(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 8,
    codes: int = 16,
    coarse_iterations: int = 6,
    pq_iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: DataFrame | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """Train the two bounded IVF-PQ models: coarse centroids ``(cell,
    centroid)`` via :func:`kmeans_lloyd` (deterministic hash-bucket
    seeding — no RNG, no label dependence) and residual PQ codebooks
    ``(subspace, code, centroid)`` via :func:`pq_train` over
    ``x − c(x)``.

    ``centroids`` (r13): bring-your-own coarse quantizer — a
    ``(cell, centroid)`` frame in the UNIT space (e.g.
    :func:`_centroid_arrays` over unit vectors, the SQL-replayable
    label construction the declared ``ivfpq_index_probe`` gate query
    uses) skips the Lloyd stage; only the residual codebooks train.
    ``n_cells``/``coarse_iterations`` are ignored in that case.

    Vectors are unit-normalized first (the PQ family's metric contract:
    L2 order on the unit sphere ≡ cosine order).  Both models are
    model-grain (n_cells·d + m·codes·(d/m) doubles); at 100 TB train on
    a :func:`~..operators.hash_sample` — coarse cells and codebooks
    saturate long before a full pass — then :func:`ivfpq_encode`
    everything in one linear scan."""
    c_unit = _unit_frame(corpus, id_col, vec_col)
    if centroids is None:
        init = hash_seed_centroids(c_unit, n_cells, id_col="cid", vec_col="cvec")
        assigned, centroids, _ = kmeans_lloyd(
            c_unit,
            max_iterations=coarse_iterations,
            id_col="cid",
            vec_col="cvec",
            init=init,
        )
        del assigned  # documented-identical to the scan below
    # Residuals via the SAME zero-shuffle assignment scan the encode
    # path uses: kmeans_lloyd's returned assignments ARE
    # _nearest_cell(v, final centroids), so re-running that scan with
    # the vector carried along is bit-identical — and it deletes the
    # corpus-grain vector re-join (c_unit ⋈ assigned by id) the first
    # build paid, which shuffled every training vector for nothing
    # (r12 review finding).
    named = c_unit.select(F.col("cid").alias("id"), F.col("cvec").alias("vec"))
    residuals = (
        _nearest_cell(named, centroids.select("cell", "centroid"))
        .join(F.broadcast(centroids), "cell")
        .select(
            F.col("id").alias("cid"),
            F.zip_with("vec", "centroid", lambda a, b: a - b).alias("rvec"),
        )
    )
    # Materialize the residual frame ONCE: every pq_train Lloyd round
    # (and its init) otherwise re-executes the whole residual lineage —
    # parquet scan, interpreted _unit fold, centroid aggregate,
    # nearest-cell argmin, zip_with — per round.  On the r13 gate probe
    # this was 26.8 s of redundant recompute at sf0.1 (2k vectors);
    # checkpointed, the rounds scan bare (cid, rvec) rows.  Model-grain
    # consumers only, released with the session (stable_checkpoint
    # upgrades to a reliable checkpoint on clusters; at 100 TB the
    # train input is a hash_sample, so the materialization is bounded
    # by design).
    residuals = stable_checkpoint(residuals)
    codebooks = pq_train(
        residuals,
        m=m,
        codes=codes,
        max_iterations=pq_iterations,
        id_col="cid",
        vec_col="rvec",
        dim=dim,
    )
    return centroids, codebooks


def ivfpq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Encode the corpus against trained IVF-PQ models: ``(id, cell,
    codes array<int>)`` — the inverted-list entry.  One linear pass:
    the cell assignment is the zero-shuffle :func:`_nearest_cell`
    scan, the residual is an element-wise ``zip_with``, and
    :func:`pq_encode` is itself a scan.  dim-dim
    floats become one small int + m codes."""
    c_unit = _unit_frame(corpus, id_col, vec_col, "id", "vec")
    # L2 assignment (the Lloyd metric — NOT the cosine probe of
    # ann_topk_ivf): the inverted-list cell must be the vector's
    # nearest centroid under the same metric the residual ADC
    # approximates, or probes and lists disagree.
    assigned = _nearest_cell(c_unit, centroids.select("cell", "centroid")).select(F.col("id").alias("cid"), F.col("vec").alias("cvec"), "cell")
    residuals = assigned.join(F.broadcast(centroids), "cell").select(
        "cid",
        "cell",
        F.zip_with("cvec", "centroid", lambda a, b: a - b).alias("rvec"),
    )
    coded = pq_encode(
        residuals, codebooks, id_col="cid", vec_col="rvec", dim=dim
    )
    # re-attach the cell with one CODE-GRAIN equi-join: both sides are
    # (id, small-int) rows — bytes per row, never vectors — so the
    # exchange is a rounding error next to the encode scan itself.
    # (Fusing the cell through the encode would mean packing it into
    # the id and coupling this function to the argmin kernels' id
    # handling; not worth it for a bytes-grain shuffle.)
    return residuals.select("cid", "cell").join(
        coded.select(F.col("id").alias("cid"), "codes"), "cid"
    ).select(F.col("cid").alias("id"), "cell", "codes")


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probes: int = 2,
    m: int = 8,
    codes: int = 16,
    rerank: int = 16,
    coarse_iterations: int = 6,
    pq_iterations: int = 8,
    models: "tuple[DataFrame, DataFrame] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    handle_out: list | None = None,
) -> DataFrame:
    """ANN family #5 — IVF-PQ with asymmetric distance (IVFADC).

    A query probes its ``n_probes`` nearest coarse cells and scores
    ONLY those cells' code lists: per probed cell it builds one
    ``m × codes`` LUT of sub-distances between the query's residual
    (``q − c_cell``) and the residual codebooks, then each candidate
    costs ``m`` lookups.  Versus :func:`ann_topk_ivf` (which
    exact-scores probed cells), the per-candidate cost drops from
    ``dim`` multiplies to ``m`` lookups and the corpus rides as codes
    (64× smaller).  That double saving is the billion-scale
    architecture.  Exact cosine re-rank of the top ``k·rerank`` ADC
    candidates restores precision.  Plain full-scan product
    quantization is this operator with ``models`` built on ONE all-zero
    coarse cell (``ivfpq_train(corpus, centroids=zero_cell)``) and
    ``n_probes=1``: the residual ``x − 0`` is ``x`` itself.

    Deterministic end-to-end (hash seeding, fixed-point means, total-
    order ties); output schema matches every other family: (query_id,
    neighbor_id, score=exact cosine, rank ≤ k).  Zero-norm vectors are
    dropped up front (uniform family contract).  Recall floors are
    pinned in tests/test_ann_recall.py.

    Long-lived sessions: pass ``handle_out=[]`` to receive an
    :class:`AnnPrepHandle` covering the checkpoint blocks the training
    loops and model pins hold; call ``.release()`` when done (the
    :func:`ann_topk_all_methods` hygiene contract)."""
    sc = corpus.sparkSession.sparkContext
    before = persistent_rdd_ids(sc) if handle_out is not None else set()
    if models is None:
        centroids, codebooks = ivfpq_train(
            corpus,
            n_cells=n_cells,
            m=m,
            codes=codes,
            coarse_iterations=coarse_iterations,
            pq_iterations=pq_iterations,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    else:
        centroids, codebooks = models
    centroids = stable_checkpoint(centroids)
    codebooks = stable_checkpoint(codebooks)
    if handle_out is not None:
        handle_out.append(AnnPrepHandle(sc, persistent_rdd_ids(sc) - before))
    m, codes, dim = _pq_codebook_shape(codebooks)
    encoded = ivfpq_encode(
        corpus, centroids, codebooks, id_col=id_col, vec_col=vec_col, dim=dim
    )
    c_unit = _unit_frame(corpus, id_col, vec_col)
    q_unit = _unit_frame(queries, id_col, vec_col, "query_id", "qvec")
    return _ivfpq_adc_topk(
        encoded, centroids, codebooks, c_unit, q_unit, k, m, codes,
        n_probes, rerank, dim,
    )


def _ivfpq_adc_topk(
    encoded: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    c_unit: DataFrame,
    q_unit: DataFrame,
    k: int,
    m: int,
    codes: int,
    n_probes: int,
    rerank: int,
    dim: int,
    probed: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ADC scoring shared by :func:`ann_topk_ivfpq` and
    :func:`ivfpq_index_topk`: the LUT is per (query, probed cell) over
    the QUERY RESIDUAL, candidates join on the cell, and
    :func:`_adc_sum` / :func:`_adc_topk_tail` score and re-rank them —
    the persisted probe matches the in-memory operator by
    construction."""
    if probed is None:
        probed = _nearest_cells_l2(
            q_unit, centroids.select("cell", "centroid"), n_probes, "qvec"
        )
    # callers that already probed (ivfpq_index_topk collects the cell
    # set for partition pruning) pass their frame in — one probe
    # evaluation per call, not two (r12 review finding)
    q_res = probed.join(F.broadcast(centroids), "cell").select(
        "query_id",
        "cell",
        F.zip_with("qvec", "centroid", lambda a, b: a - b).alias("rvec"),
    )
    # the LUT key is the (query, probed-cell) PAIR — a struct id keeps
    # both columns' types intact through the subvector explode (a
    # string-concat key would force casts back and couple this to the
    # caller's id type)
    luts = (
        _subvectors(
            q_res.select(F.struct("query_id", "cell").alias("qc"), "rvec"),
            m,
            dim // m,
            "qc",
            "rvec",
        )
        .join(F.broadcast(codebooks), "subspace")
        .select(
            "id",
            "subspace",
            "code",
            sq_dist("subvec", "centroid").alias("dist"),
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code", "dist"))),
                lambda s: s["dist"],
            ).alias("lut")
        )
        .select(
            F.col("id.query_id").alias("query_id"),
            F.col("id.cell").alias("cell"),
            "lut",
        )
    )
    scored = (
        encoded.withColumn("pid", F.spark_partition_id())
        .join(F.broadcast(luts), "cell")
        .select(
            "pid",
            "query_id",
            F.col("id").alias("neighbor_id"),
            _adc_sum(m, codes).alias("adist"),
        )
    )
    return _adc_topk_tail(scored, c_unit, q_unit, k, k * rerank)


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index (build once, probe many, prune at planning time)
# ---------------------------------------------------------------------------


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    codes: int = 16,
    coarse_iterations: int = 6,
    pq_iterations: int = 8,
    mode: str = "overwrite",
    models: "tuple[DataFrame, DataFrame] | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Persist an IVF-PQ index: ``<path>/centroids`` (n_cells tiny
    rows), ``<path>/codebooks`` (m·codes tiny rows) and
    ``<path>/codes`` hive-partitioned BY CELL — one directory per
    inverted list, so a probe opens only its cells' files.

    Both models are written FIRST and re-read for the encode pass: the
    stored codes are bit-consistent with the stored models — the float
    values that reach parquet are the ones encoding used — which is
    what makes :func:`append_ivfpq_index`'s append == rebuild an
    identity."""
    mode = _validate_index_write_mode(mode, "append_ivfpq_index")
    spark = corpus.sparkSession
    if models is None:
        models = ivfpq_train(
            corpus,
            n_cells=n_cells,
            m=m,
            codes=codes,
            coarse_iterations=coarse_iterations,
            pq_iterations=pq_iterations,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
        )
    centroids, codebooks = models
    centroids.write.mode(mode).parquet(f"{path}/centroids")
    codebooks.write.mode(mode).parquet(f"{path}/codebooks")
    stored_c = spark.read.parquet(f"{path}/centroids")
    stored_b = spark.read.parquet(f"{path}/codebooks")
    if mode == "overwrite":
        # a rebuild must replace the WHOLE codes table: under
        # spark.sql.sources.partitionOverwriteMode=dynamic a
        # partitioned overwrite only replaces the cells the new encode
        # emits, so a cell emptied by the retrained model would keep
        # its OLD codes (encoded against the old codebooks) and a
        # probe would score garbage with no error (r12 review
        # finding).  Delete the directory first — static replace
        # regardless of session conf.
        jvm = spark.sparkContext._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/codes")
        fs = hpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        fs.delete(hpath, True)
    # dim comes from the STORED codebooks, never the caller (the
    # ivfpq_index_topk discipline): a stale argument would mis-slice
    # the encode and degrade silently.
    _, _, dim = _pq_codebook_shape(stored_b)
    ivfpq_encode(
        corpus, stored_c, stored_b, id_col=id_col, vec_col=vec_col, dim=dim
    ).write.mode(mode).partitionBy("cell").parquet(f"{path}/codes")


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance: encode the delta against the STORED
    models and append into the per-cell directories.  IVF-PQ codes are
    a per-vector pure function of (vector, centroids, codebooks), so
    append is exactly a rebuild restricted to the new rows — one linear
    encode job, no retraining, no touch of existing lists.  (Retrain
    and rewrite when the vector distribution drifts.)"""
    spark = new_vectors.sparkSession
    stored_c = spark.read.parquet(f"{path}/centroids")
    stored_b = spark.read.parquet(f"{path}/codebooks")
    # dim from the STORE: the codebooks define the decomposition
    _, _, dim = _pq_codebook_shape(stored_b)
    ivfpq_encode(
        new_vectors, stored_c, stored_b, id_col=id_col, vec_col=vec_col, dim=dim
    ).write.mode("append").partitionBy("cell").parquet(f"{path}/codes")


def ivfpq_index_topk(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    rerank: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_unit: DataFrame | None = None,
) -> DataFrame:
    """Top-k against a persisted :func:`write_ivfpq_index` store,
    reading ONLY the probed cells' partitions.

    The probe set is ≤ n_cells values by construction (and n_cells is
    model-bounded), so collecting the distinct probed cells to the
    driver is bounded regardless of query-set size and the ``isin``
    becomes a PLANNING-TIME partition prune — unprobed inverted lists
    are never opened, the ann_index_topk recipe applied to the IVF
    layout.  ``m``/``codes``/``dim`` are inferred from the stored
    codebooks (a stale caller argument would mis-slice the LUT and
    degrade silently); scoring is the shared :func:`_adc_sum` /
    :func:`_adc_topk_tail`, so results match the in-memory
    :func:`ann_topk_ivfpq` row-for-row given the same models (pinned
    in tests/test_ann_index.py).  The exact re-rank joins the bounded
    candidate set back to the live corpus for full-precision cosine.

    ``corpus_unit`` lets repeat callers (the streaming writer) hand in
    the already-normalized re-rank side as a ``(cid, cvec)`` frame
    (e.g. persisted across triggers) instead of paying the
    unit-normalization of the full corpus per call; when given,
    ``corpus``/``id_col``/``vec_col`` are ignored for the corpus side.
    A caller-built ``corpus_unit`` should drop zero-norm rows first
    (:func:`_nonzero_vec`) to keep the uniform zero-norm contract;
    the default path and the streaming writer do."""
    from ..concurrency import overlap

    # The codebooks footer-read + shape agg and the centroids-side
    # probe below are INDEPENDENT driver jobs (disjoint store files,
    # disjoint outputs), so the shape leg runs from a driver thread and
    # overlaps the probe leg (guide §2.6 — sequential calls just
    # serialize per-job fixed costs).  Results are unaffected: both
    # legs compute exactly what the sequential order did; the shared
    # helper guarantees the thread is joined even when the probe leg
    # raises, and re-raises any shape-leg failure.
    def _shape_leg():
        cb = spark.read.parquet(f"{path}/codebooks")
        return cb, _pq_codebook_shape(cb)

    def _probe_leg():
        centroids = spark.read.parquet(f"{path}/centroids")
        c_unit = corpus_unit
        if c_unit is None:
            c_unit = _unit_frame(corpus, id_col, vec_col)
        q_unit = _unit_frame(queries, id_col, vec_col, "query_id", "qvec")
        probed = _nearest_cells_l2(
            q_unit, centroids.select("cell", "centroid"), n_probes, "qvec"
        )
        cells = [
            r["cell"] for r in probed.select("cell").distinct().collect()
        ]
        return centroids, c_unit, q_unit, probed, cells

    (centroids, c_unit, q_unit, probed, cells), ((codebooks, shape),) = (
        overlap([_shape_leg], _probe_leg)
    )
    m, codes, dim = shape
    encoded = (
        spark.read.parquet(f"{path}/codes")
        # the isin runs on the RAW partition column so it pushes down
        # as a planning-time PartitionFilter; the cast back to the
        # model's cell type happens after the prune
        .where(F.col("cell").isin(cells))
        .select(
            "id",
            F.col("cell").cast(centroids.schema["cell"].dataType).alias("cell"),
            "codes",
        )
    )
    return _ivfpq_adc_topk(
        encoded, centroids, codebooks, c_unit, q_unit, k, m, codes,
        n_probes, rerank, dim, probed=probed,
    )


# ---------------------------------------------------------------------------
# Variance-balanced subspace permutation (deterministic OPQ-lite)
# ---------------------------------------------------------------------------


def pq_balanced_permutation(
    vectors: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    dim: int | None = None,
    normalize: bool = True,
) -> "list[int]":
    """Dimension permutation that balances per-subspace variance for
    PQ — the deterministic cousin of OPQ's learned rotation.

    Contiguous slicing (:func:`_subvectors`) is blind to anisotropy: if
    the signal concentrates in a few leading dimensions, one subspace
    eats all the variance and its ``codes`` centroids under-resolve it
    while the flat subspaces waste theirs.  Sorting dimensions by
    variance and greedy-assigning each to the least-loaded non-full
    subspace spreads the budget; a permutation is norm- and
    cosine-preserving, so the permuted pipeline composes with every PQ
    entry point unchanged (permute corpus and queries with
    :func:`apply_permutation`, then train/encode/probe as usual — the
    exact re-rank is permutation-invariant).  Unlike OPQ's SVD this is
    bit-deterministic: variances come from fixed-point int64 sums
    (order-independent), ties break on (variance desc, position asc,
    subspace asc).

    ``normalize`` (default) measures the variances over UNIT vectors —
    the space a zero-cell :func:`ann_topk_ivfpq` quantizes (its
    codebooks train on unit vectors; raw-space variances would let a
    few long vectors rank near-flat-after-normalization dimensions high
    and unbalance the result in the space that matters).  For IVF-PQ
    over trained cells, whose codebooks quantize residuals, train the
    permutation on the residual frame with ``normalize=False``.

    The scaled sums hold exactly while ``n · (4·max|x|)² · 2^20``
    stays inside int64 — fine for the sampled training sets PQ
    trains on (train the permutation on the SAME hash_sample as the
    codebooks).  Zero-norm vectors are dropped under ``normalize``
    (the family's uniform contract).  Returns ``perm`` with
    ``perm[new_pos] = old_pos``, grouped by subspace, ascending old
    position within each subspace."""
    base = vectors.where(F.col(vec_col).isNotNull())
    if normalize:
        v = base.where(_nonzero_vec(vec_col)).select(
            _unit(vec_col).alias("vec")
        )
    else:
        v = base.select(F.col(vec_col).alias("vec"))
    if dim is None:
        dim = _first_dim(v, "vec")
    if dim == 0 or dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    scale = float(1 << 20)
    stats = (
        v.select(F.posexplode("vec").alias("pos", "val"))
        .select(
            "pos",
            F.round(F.col("val") * scale).cast("long").alias("sv"),
            F.round(F.col("val") * F.col("val") * scale).cast("long").alias("svv"),
        )
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sv").alias("s"),
            F.sum("svv").alias("ss"),
        )
        .collect()
    )
    variances = {}
    for r in stats:
        n, s, ss = r["n"], r["s"] / scale, r["ss"] / scale
        variances[r["pos"]] = ss / n - (s / n) ** 2
    if len(variances) != dim:
        raise ValueError(
            f"saw {len(variances)} positions, expected dim={dim} — ragged "
            "vector column"
        )
    d = dim // m
    order = sorted(variances, key=lambda p: (-variances[p], p))
    loads = [0.0] * m
    counts = [0] * m
    assign: "dict[int, list[int]]" = {j: [] for j in range(m)}
    for pos in order:
        j = min(
            (j for j in range(m) if counts[j] < d),
            key=lambda j: (loads[j], j),
        )
        assign[j].append(pos)
        loads[j] += variances[pos]
        counts[j] += 1
    perm: "list[int]" = []
    for j in range(m):
        perm.extend(sorted(assign[j]))
    return perm


def apply_permutation(
    df: DataFrame, perm: "list[int]", vec_col: str, out_col: str | None = None
) -> Column | DataFrame:
    """Reorder a vector column by ``perm`` (``out[new] = vec[perm[new]]``)
    — a pure JVM projection (``array`` of ``try_element_at``), zero
    shuffle, codegen-friendly.  A NULL vector or one whose length
    differs from ``len(perm)`` maps to NULL (not an ANSI
    INVALID_ARRAY_INDEX mid-job, and not a non-null array of nulls
    that would slip past the PQ family's null-vector drop — r12
    review finding).  Cosine/norm/top-k are MATHEMATICALLY invariant
    under the reorder; bit-level, the permuted dot/norm folds sum in
    a different order, so scores may move in the last ulp and an
    exactly-tied pair can swap ranks — compare neighbor SETS, not
    score bits, across permuted runs.  With ``out_col`` returns the
    DataFrame with the column replaced/added; without, the Column."""
    vec = F.col(vec_col)
    expr = F.when(
        vec.isNotNull() & (F.size(vec) == len(perm)),
        F.array(*[F.try_element_at(vec, F.lit(p + 1)) for p in perm]),
    )
    if out_col is None:
        return expr
    return df.withColumn(out_col, expr)
