"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same rows.  Inputs are cached under ``<checkout>/.perfbench/inputs``,
keyed by generator version, workload and seed, so a repeated seed skips
generation.  Generation is never part of a timed or set-up interval.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes, so stale cached inputs are not reused.
GEN_VERSION = 5

ETL_ROWS = 100_000
ETL_FILES = 4
NULL_SHARE = 0.05
# documents of the planted corpus etl_bulk's curation funnel runs over
CURATE_DOCS = 500

# query_mix table sizes, the shapes of the sf0.01 fixtures
MIX_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

# planted shares of the documents corpus (see plant_corpus)
CORPUS_SHARES = {
    "exact_dup": 0.06,
    "short_exact_dup": 0.04,
    "near_dup": 0.06,
    "boilerplate": 0.10,
    "pii": 0.08,
    "low_quality": 0.05,
    "gibberish": 0.04,
    "non_ascii": 0.08,
}

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LONG_VOCAB = (
    "aggregation broadcasting checkpointing compaction deduplication "
    "distributed executor hashpartition materialization normalization "
    "optimization parallelism partitioning persistence projection "
    "repartitioning replication serialization shuffling sketching "
    "streaming tokenization transaction vectorization watermarking"
).split()
NON_ASCII_WORDS = ["café", "naïve", "straße", "ﬁle", "ｆｕｌｌ", "日本語", "данные", "ὕδωρ"]
STRING_PIECES = ['plain', 'say "hi"', "a,b", "line1\nline2", "", "ünïcødé", "中文字", "emoji 🚀", "tab\tsep", "back\\slash"]


def cache_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(
        root, ".perfbench", "inputs", f"v{GEN_VERSION}", f"{workload}-s{seed}"
    )


def ensure(root: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it
    first when it is not cached yet."""
    out = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _nulls(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) < NULL_SHARE


def _arr(values, typ, mask=None) -> pa.Array:
    return pa.array(values, type=typ, mask=mask)


# ------------------------------------------------------------ etl_bulk ----


def etl_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The reference's type map: bool, int16/32/64, float32/64, utf8,
    date, timestamp and decimal, each with about 5 % NULLs.

    Floats are multiples of 1/4 or 1/8 well inside their mantissa, so
    every engine sums them exactly and checksums compare bit for bit."""
    strings = []
    for k in rng.integers(0, 1 << 30, n):
        piece = STRING_PIECES[k % len(STRING_PIECES)]
        strings.append(f"{piece} {k}" if piece else "")
    base_day = dt.date(2000, 1, 1).toordinal()
    days = rng.integers(0, 11_000, n)
    micros = rng.integers(0, 30 * 365 * 86_400 * 10**6, n)
    cents = rng.integers(-10**12, 10**12, n)
    from decimal import Decimal

    cols = {
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "flag": _arr(rng.random(n) < 0.5, pa.bool_(), _nulls(rng, n)),
        "i16": _arr(rng.integers(-32768, 32768, n).astype(np.int16), pa.int16(), _nulls(rng, n)),
        "i32": _arr(rng.integers(-2**31, 2**31, n).astype(np.int32), pa.int32(), _nulls(rng, n)),
        "i64": _arr(rng.integers(-2**40, 2**40, n), pa.int64(), _nulls(rng, n)),
        "f32": _arr((rng.integers(-2**20, 2**20, n) / 4).astype(np.float32), pa.float32(), _nulls(rng, n)),
        "f64": _arr(rng.integers(-2**30, 2**30, n) / 8, pa.float64(), _nulls(rng, n)),
        "s": _arr(strings, pa.string(), _nulls(rng, n)),
        "d": _arr(
            [dt.date.fromordinal(base_day + int(x)) for x in days],
            pa.date32(),
            _nulls(rng, n),
        ),
        "ts": _arr(
            (np.datetime64("2000-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")),
            pa.timestamp("us"),
            _nulls(rng, n),
        ),
        "dec": _arr(
            [Decimal(int(c)).scaleb(-4) for c in cents],
            pa.decimal128(18, 4),
            _nulls(rng, n),
        ),
    }
    return pa.table(cols)


def gen_etl_bulk(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    table = etl_table(rng, ETL_ROWS)
    src = os.path.join(out, "source")
    os.makedirs(src)
    step = -(-ETL_ROWS // ETL_FILES)
    for i in range(ETL_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(src, f"part-{i}.parquet")
        )
    write_documents(out, np.random.default_rng([seed, 3]), CURATE_DOCS)


# ----------------------------------------------------------- query_mix ----


def _ts(days_from: str, day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "D")
    return pa.array(
        (base + day_offsets.astype("timedelta64[D]")).astype("datetime64[us]"),
        pa.timestamp("us"),
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def plant_corpus(rng: np.random.Generator, n: int) -> tuple[list[str], dict]:
    """A documents corpus with stated shares of planted cases, so every
    curation gate has work to do.  Returns the texts and the planted
    doc-id groups the curation check needs."""
    k = {name: int(share * n) for name, share in CORPUS_SHARES.items()}
    # each short exact and each near duplicate plants a pair of new docs
    k["short_exact_dup"] //= 2
    k["near_dup"] //= 2
    n_base = n - sum(k.values()) - k["short_exact_dup"] - k["near_dup"]

    def words(m: int) -> list[str]:
        return [VOCAB[i] for i in rng.integers(0, len(VOCAB), m)]

    texts = [" ".join(words(int(rng.integers(20, 70)))) for _ in range(n_base)]
    boiler = " ".join(words(12))
    exact_groups = []
    for _ in range(k["exact_dup"]):
        src = int(rng.integers(0, n_base))
        # differs only in case and spacing: exact after normalization
        texts.append("  " + texts[src].upper().replace(" ", "   ") + " ")
        exact_groups.append([src, len(texts) - 1])
    for _ in range(k["short_exact_dup"]):
        short = " ".join(words(6))
        texts.append(short)
        texts.append(short.title())
        exact_groups.append([len(texts) - 2, len(texts) - 1])
    near_groups = []
    for _ in range(k["near_dup"]):
        # long words, and every 8th space turned into a hyphen: no
        # 8-token span repeats (span dedup keeps both), while the char
        # 5-gram Jaccard stays near 0.9 (MinHash near-dedup drops one)
        toks = [LONG_VOCAB[i] for i in rng.integers(0, len(LONG_VOCAB), 48)]
        texts.append(" ".join(toks))
        for j in range(7, len(toks) - 1, 8):
            toks[j] = toks[j] + "-" + toks[j + 1]
            toks[j + 1] = ""
        texts.append(" ".join(t for t in toks if t))
        near_groups.append([len(texts) - 2, len(texts) - 1])
    for _ in range(k["boilerplate"]):
        texts.append(" ".join(words(int(rng.integers(15, 40)))) + " " + boiler)
    for i in range(k["pii"]):
        contact = (
            f"mail user{i}@example.com"
            if i % 2
            else f"call +1 555 {int(rng.integers(100, 999))} {int(rng.integers(1000, 9999))}"
        )
        texts.append(" ".join(words(20)) + " " + contact + " " + " ".join(words(10)))
    for i in range(k["low_quality"]):
        texts.append(" ".join(words(3)) if i % 2 else "!!! ??? ... ### " * 4)
    rare = rng.integers(0x4E00, 0x4E00 + 3000, size=(k["gibberish"], 60))
    for row in rare:
        texts.append(
            " ".join(chr(row[j]) + VOCAB[j % len(VOCAB)][0] + chr(row[j + 1]) for j in range(0, 60, 2))
        )
    for _ in range(k["non_ascii"]):
        w = words(30)
        for j in rng.choice(30, 6, replace=False):
            w[j] = NON_ASCII_WORDS[int(rng.integers(0, len(NON_ASCII_WORDS)))]
        texts.append(" ".join(w))
    return texts, {"exact_groups": exact_groups, "near_groups": near_groups}


def documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """The documents table over a planted corpus, and its plan."""
    texts, plan = plant_corpus(rng, n)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, plan


def write_documents(out: str, rng: np.random.Generator, n: int) -> None:
    table, plan = documents(rng, n)
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "corpus_plan.json"), "w") as f:
        json.dump(plan, f)


def gen_query_mix(out: str, seed: int) -> None:
    rng = np.random.default_rng([seed, 2])
    n = MIX_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": _pick(rng, ["small ring", "red widget", "blue bolt", "large gear"], p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "STANDARD", "LARGE"], p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(900 + np.arange(p) / 10),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, 2000, li)),
        "l_suppkey": pa.array(rng.integers(0, 100, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 901, 105000, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2497, li)),
    })
    e = n["events"]
    # sorted by ts: minute-scale gaps from 2024-01-01 over about 30 days
    gaps = rng.integers(1, 520 * 10**6, e)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 150, e)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
        "value": pa.array(_money(rng, 0.01, 490.02, e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    tables["documents"] = documents(np.random.default_rng([seed, 3]), n["documents"])[0]
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


GENERATORS = {"etl_bulk": gen_etl_bulk, "query_mix": gen_query_mix}
