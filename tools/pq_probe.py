"""PQ ANN + exactly-once sink scale probe (round 7 additions).

Two measurements, one JSON line each, recorded in BASELINE.md:

1. **PQ family scaling** — train / encode / query wall-clock as the
   corpus grows.  Base corpora are the driver's embeddings tables; the
   multiplier replicates sf0.1 with a per-copy CIRCULAR ROTATION of the
   embedding array (``slice||slice`` — length- and norm-preserving, so
   the copies are distinct yet identically distributed vectors and the
   near-uniform geometry of the base set is retained).  What "passing"
   looks like: train cost is ~linear in corpus (per-round scan +
   (subspace, code, pos)-grain map-side-combined aggregate — the
   fixed-cost side is m·codes rows, independent of N), encode is one
   linear pass, and ADC query wall tracks corpus size (it is a scan at
   m lookups/vector), all with NO super-linear shuffle.

2. **Exactly-once sink overhead** — ExactlyOnceJdbcSink.write_batch
   (stage + atomic publish + ledger) vs plain JdbcSink.write append of
   the same rows into embedded Derby.  The delta is the price of the
   exactly-once guarantee: one extra server-side INSERT..SELECT pass
   over the batch plus two ledger statements.

Usage:  python tools/pq_probe.py
Env:    PQ_PROBE_MULTIPLIERS  comma ints over sf0.1, default "1,8,64,512"
        (512 × the 2k-row sf0.1 table ≈ 1.02M vectors)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parquet_to_postgres_spark.etl import ExactlyOnceJdbcSink, JdbcSink  # noqa: E402
from parquet_to_postgres_spark.llm import similarity as S  # noqa: E402
from parquet_to_postgres_spark.queries.etl_q import DERBY_DRIVER, derby_url  # noqa: E402
from parquet_to_postgres_spark.session import get_spark  # noqa: E402
from parquet_to_postgres_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(emb, mult: int, dim: int = 64):
    """mult copies; copy k rotates the embedding left by k (mod dim) and
    offsets vec_id — distinct, identically distributed vectors.

    For mult > dim (the >=100k-vector regime, VERDICT r7 item 2) the
    rotation family alone would alias (k % dim repeats), so copies
    beyond the first `dim` additionally apply a deterministic per-copy
    sign pattern: element i is multiplied by ±1 from
    xxhash64(k // dim, i).  Sign flips are an isometry — length, norms,
    and every within-copy distance are preserved exactly, so each copy
    is the same point cloud under a different orthogonal map; copies
    k < dim are bit-identical to the previous generation's."""
    if mult == 1:
        return emb
    n = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    # ONE broadcast crossJoin against the copy-index table (a per-copy
    # union would build a mult-branch plan — analysis alone goes
    # quadratic by ~x512), with the rotation expressed as column-arg
    # slices: for r = k % dim, slice(v, r+1, dim-r) || slice(v, 1, r)
    # (the r = 0 tail slice is the empty array, so copy 0 is v itself).
    ks = emb.sparkSession.range(mult).select(
        F.col("id").alias("__k"),
        F.pmod(F.col("id"), F.lit(dim)).cast("int").alias("__r"),
        (F.col("id") / F.lit(dim)).cast("long").alias("__q"),
    )
    rotated = F.concat(
        F.slice(F.col("embedding"), F.col("__r") + 1, F.lit(dim) - F.col("__r")),
        F.slice(F.col("embedding"), F.lit(1), F.col("__r")),
    )
    # the ±1 factor is cast to FLOAT so float × float stays float — a
    # double factor would silently widen every copy's embedding column
    # to array<double>, changing the schema (and doubling bytes) vs the
    # mult == 1 passthrough (round-8 review finding)
    vec = F.transform(
        rotated,
        lambda x, i: x
        * F.when(F.col("__q") == 0, F.lit(1.0))
        .otherwise(
            F.lit(1)
            - F.lit(2) * F.pmod(F.xxhash64(F.col("__q"), i), F.lit(2))
        )
        .cast("float"),
    )
    return emb.crossJoin(F.broadcast(ks)).select(
        (F.col("vec_id") + F.col("__k") * F.lit(n)).alias("vec_id"),
        vec.alias("embedding"),
    )


def pq_probe(spark) -> list[dict]:
    """Train / encode+write / ADC-query walls AND per-phase shuffle-write
    bytes as the corpus grows (VERDICT r7 item 2: make the m·codes·d
    reduce-side claim measured, not argued).  The query phase is the
    PRODUCTION path — pq_index_topk against the just-written index: LUT
    build + ADC scan of the codes table + bounded exact re-rank; no
    training or encoding inside the timed span."""
    import tempfile

    from dedup_scale_probe import _shuffle_write_bytes

    base = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    mults = [
        int(x)
        for x in os.environ.get("PQ_PROBE_MULTIPLIERS", "1,8,64,512").split(",")
    ]
    rows = []
    for mult in mults:
        emb = replicate(base, mult).localCheckpoint(eager=True)
        n = emb.count()
        corpus = emb.where(F.col("vec_id") >= 5)
        queries = emb.where(F.col("vec_id") < 5)
        with tempfile.TemporaryDirectory() as index_path:
            sb0 = _shuffle_write_bytes()
            t0 = time.time()
            cb = S.pq_train(corpus, max_iterations=4).localCheckpoint(
                eager=True
            )
            cb.count()
            t_train = time.time() - t0
            sb1 = _shuffle_write_bytes()
            t0 = time.time()
            S.write_pq_index(corpus, index_path, codebooks=cb)
            t_encode = time.time() - t0
            sb2 = _shuffle_write_bytes()
            t0 = time.time()
            got = S.pq_index_topk(spark, index_path, corpus, queries, k=10)
            n_out = got.count()
            t_query = time.time() - t0
            sb3 = _shuffle_write_bytes()
        mb = lambda a, b: round((b - a) / 1e6, 1) if a >= 0 and b >= 0 else None  # noqa: E731
        rows.append(
            {
                "mult": mult,
                "n_vectors": n,
                "train_s": round(t_train, 2),
                "encode_s": round(t_encode, 2),
                "query_s": round(t_query, 2),
                "train_shuffle_mb": mb(sb0, sb1),
                "encode_shuffle_mb": mb(sb1, sb2),
                "query_shuffle_mb": mb(sb2, sb3),
                "rows_out": n_out,
            }
        )
        print(json.dumps({"pq": rows[-1]}), flush=True)
        emb.unpersist()
    return rows


def widen(emb, dim: int = 64, factor: int = 8):
    """d = dim*factor vectors by concatenating ``factor`` circular
    rotations of the base embedding — deterministic, float-typed, each
    64-dim block the same point cloud at a distinct rotation, so the
    widened corpus keeps the base set's near-uniform geometry in every
    PQ subspace."""
    rots = [
        F.concat(
            F.slice(F.col("embedding"), r + 1, dim - r),
            F.slice(F.col("embedding"), 1, r),
        )
        for r in range(factor)
    ]
    return emb.select("vec_id", F.concat(*rots).alias("embedding"))


def bigmodel_probe(spark) -> list[dict]:
    """VERDICT r9 item 5: probe the BIG-model argmin route.

    m=16, codes=64, d=512 puts the model at m*codes*d = 524,288 floats,
    well past the 1M-vector r8 table's default 8x16x8 model, through
    every assignment (each Lloyd round, the encode pass, and the
    store-side encode in write_pq_index).  The probe's first r10 run
    measured the then-current explode + broadcast-join +
    two-keyed-aggregation form at 773 s train / 737 MB corpus-LINEAR
    shuffle for 16k×d512.  Passing now = train/encode walls grow
    ~linearly with N while train shuffle stays MODEL-bounded (the
    mean-update aggregate's m*codes*(d/m) cells are the only
    exchange) and encode/query shuffle ~0."""
    import tempfile

    from dedup_scale_probe import _shuffle_write_bytes

    base = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    mults = [
        int(x)
        for x in os.environ.get("PQ_BIGMODEL_MULTIPLIERS", "8,64").split(",")
    ]
    rows = []
    for mult in mults:
        # repartition BEFORE the eager checkpoint (and before the first
        # shuffle-bytes snapshot): the sf0.1 parquet is a single file,
        # and the broadcast crossJoin preserves left partitioning — so
        # without this every timed phase would run its scan on ONE
        # task/core, which is neither the cluster shape nor the local
        # box's (first r10 run: the whole 128k x d512 argmin serialized
        # on one thread)
        emb = (
            widen(replicate(base, mult))
            .repartition(64)
            .localCheckpoint(eager=True)
        )
        n = emb.count()
        corpus = emb.where(F.col("vec_id") >= 5)
        queries = emb.where(F.col("vec_id") < 5)
        with tempfile.TemporaryDirectory() as index_path:
            sb0 = _shuffle_write_bytes()
            t0 = time.time()
            cb = S.pq_train(
                corpus, m=16, codes=64, max_iterations=4, dim=512
            ).localCheckpoint(eager=True)
            cb.count()
            t_train = time.time() - t0
            sb1 = _shuffle_write_bytes()
            t0 = time.time()
            S.write_pq_index(
                corpus, index_path, m=16, codebooks=cb, dim=512
            )
            t_encode = time.time() - t0
            sb2 = _shuffle_write_bytes()
            t0 = time.time()
            got = S.pq_index_topk(
                spark, index_path, corpus, queries, k=10, dim=512
            )
            n_out = got.count()
            t_query = time.time() - t0
            sb3 = _shuffle_write_bytes()
        mb = lambda a, b: round((b - a) / 1e6, 1) if a >= 0 and b >= 0 else None  # noqa: E731
        rows.append(
            {
                "mult": mult,
                "n_vectors": n,
                "d": 512,
                "m": 16,
                "codes": 64,
                "train_s": round(t_train, 2),
                "encode_s": round(t_encode, 2),
                "query_s": round(t_query, 2),
                "train_shuffle_mb": mb(sb0, sb1),
                "encode_shuffle_mb": mb(sb1, sb2),
                "query_shuffle_mb": mb(sb2, sb3),
                "rows_out": n_out,
            }
        )
        print(json.dumps({"pq_bigmodel": rows[-1]}), flush=True)
        emb.unpersist()
    return rows


def xonce_probe(spark) -> dict:
    src = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).localCheckpoint(eager=True)
    n = src.count()
    t0 = time.time()
    JdbcSink(
        url=derby_url("probe_plain"),
        table="orders_plain",
        mode="append",
        options={"driver": DERBY_DRIVER},
    ).write(src)
    t_plain = time.time() - t0
    t0 = time.time()
    ExactlyOnceJdbcSink(
        url=derby_url("probe_xonce"),
        table="orders_x",
        options={"driver": DERBY_DRIVER},
    ).write_batch(src, 0)
    t_x = time.time() - t0
    out = {
        "rows": n,
        "plain_append_s": round(t_plain, 2),
        "exactly_once_s": round(t_x, 2),
        "overhead_x": round(t_x / t_plain, 2),
    }
    print(json.dumps({"xonce": out}), flush=True)
    return out


def main() -> int:
    # UI on: the per-phase shuffle-write bytes come from the stage API
    spark = get_spark("pq_probe", extra_conf={"spark.ui.enabled": "true"})
    if os.environ.get("PQ_BIGMODEL"):
        result = {"sf_dir": SF_DIR, "pq_bigmodel": bigmodel_probe(spark)}
    else:
        result = {
            "sf_dir": SF_DIR,
            "pq": pq_probe(spark),
            "xonce": xonce_probe(spark),
        }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
