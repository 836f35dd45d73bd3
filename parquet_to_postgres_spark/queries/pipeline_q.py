"""Pipeline-operator queries: the round-2 library operators a real
training-data / warehouse user hits constantly — sessionization, SCD2
history, token-budget packing, TF-IDF, end-to-end near-dedup — each a
registered query with an exact DuckDB oracle (sessionization and TF-IDF
are registered but not declared: they are not in DRIVER_ORDER).

Each builder drives the LIBRARY operator (operators.py / etl.py /
llm/text.py / llm/dedup.py), not a reimplementation, so the oracle row
certifies the operator users actually call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..etl import scd2_apply
from ..llm import dedup as D
from ..llm import text as X
from ..operators import sessionize
from ..tables import Catalog
from . import register
from .llm_q import _minhash_oracle

# ------------------------------------------------------------ sessionize ----


@register(
    "sessionize_events",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('microsecond', LAG(ts) OVER w, ts) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts)
                  AS BIGINT) AS session_id
      FROM o
    )
    SELECT user_id, session_id,
           MIN(ts) AS sess_start, MAX(ts) AS sess_last,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (operators.sessionize): 30-minute-gap
    sessions per user, aggregated to one row per session.

    Registered but not declared (not in DRIVER_ORDER) since round 13,
    when its slot went to the funnel/retention/cube/ivfpq promotion; T3
    stays declared via stream_session_windows, the streaming twin with
    the same boundary rule.  It is the only query that reaches
    operators.sessionize.

    The operator is two stacked windows over the SAME key partitioning
    (one shuffle, parallel across keys, no global window); gaps are
    measured at microsecond resolution.  The oracle is the
    gaps-and-islands SQL twin; the split predicate is ``gap >= 1800s``,
    agreeing with the streaming session_window's end-exclusive
    [start, last+gap) rule at the exact boundary."""
    t = Catalog(spark, sf_dir)
    sess = sessionize(t.events, key="user_id", ts_col="ts", gap_seconds=1800)
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_last"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ------------------------------------------------------- token packing ----


@register(
    "pack_token_budget",
    oracle="""
    SELECT doc_id, n_tokens,
           CAST(floor((csum - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS csum
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents)
    )
    """,
    tags=("ops",),
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (llm/text.pack_by_budget): assign each doc
    to the 512-token pack its starting offset falls in, deterministically
    in doc_id order.

    The assignment is ONE distributed_cumsum (range-repartition +
    per-partition windows + broadcast offsets — no single-partition
    window anywhere) plus a projection; bit-reproducible across cluster
    sizes.  The oracle is the plain running-sum window SQL."""
    t = Catalog(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", X.ws_token_count("text").cast("long").alias("n_tokens")
    )
    packed = X.pack_by_budget(docs, budget=512, token_col="n_tokens",
                              order_col="doc_id")
    return packed.select("doc_id", "n_tokens", "pack_id")


# --------------------------------------------------------------- SCD2 ----


@register(
    "scd2_history",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, MAX(value) AS balance
      FROM events GROUP BY user_id, ts
    ),
    hist AS (
      SELECT DISTINCT user_id, CAST(0.0 AS DOUBLE) AS balance,
             TIMESTAMP '2000-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM events
    ),
    newv AS (
      SELECT user_id, balance, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
      FROM u
    ),
    closed AS (
      SELECT h.user_id, h.balance, h.valid_from, mu.min_ts AS valid_to
      FROM hist h
      JOIN (SELECT user_id, MIN(ts) AS min_ts FROM u GROUP BY user_id) mu
        USING (user_id)
    )
    SELECT user_id, balance, valid_from, valid_to FROM closed
    UNION ALL
    SELECT user_id, balance, valid_from, valid_to FROM newv
    """,
    tags=("ops",),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 apply (etl.scd2_apply): a seeded per-user dimension
    (balance 0 since 2000-01-01, open-ended) receives the events stream
    as timestamped updates; every change becomes a ``[valid_from,
    valid_to)`` interval, NULL valid_to = current.

    Updates are pre-reduced to one row per (user, ts) (MAX(value) —
    deterministic) so interval chaining is total-ordered.  The operator
    does one update-side window + one tiny equi-join against the open
    history slice; closed history rows are untouched pass-through.  The
    oracle is the window/lead SQL over the same seed + updates."""
    t = Catalog(spark, sf_dir)
    updates = (
        t.events.groupBy("user_id", "ts")
        .agg(F.max("value").alias("balance"))
        .select("user_id", "balance", "ts")
    )
    history = (
        t.events.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(0.0).alias("balance"),
            F.lit("2000-01-01 00:00:00").cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    return scd2_apply(history, updates, keys=["user_id"], ts_col="ts")


# -------------------------------------------------------------- TF-IDF ----


@register(
    "tf_idf_top",
    oracle="""
    WITH tc AS (
      SELECT doc_id, token AS term, COUNT(*) AS n_term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ),
    wtf AS (
      SELECT doc_id, term, n_term,
             CAST(n_term AS DOUBLE)
               / CAST(SUM(n_term) OVER (PARTITION BY doc_id) AS DOUBLE) AS tf
      FROM tc
    ),
    docfreq AS (SELECT term, COUNT(*) AS df FROM tc GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT w.doc_id, w.term, w.n_term, w.tf, d.df,
             w.tf * (ln((n.n_docs + 1) / (d.df + 1)) + 1.0) AS tfidf
      FROM wtf w JOIN docfreq d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, n_term, tf, df,
           CAST(round(tfidf, 6) AS DOUBLE) AS tfidf_r,
           rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tf_idf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (llm/text.tf_idf): smoothed
    sklearn-style ``tf·(ln((N+1)/(df+1))+1)``.

    Shuffle budget: one explode→(doc, term) aggregate; doc lengths via a
    window over the same key (no extra exchange); document frequency
    aggregates to term grain (vocabulary-sized); N is a broadcast
    one-row cross join.  The score is rounded to 6 decimals on both
    sides — ``ln`` is the one libm call in the registry, and Java/C
    may disagree in the last ulp; everything else (tf, counts, rank)
    is exact.

    Registered but not declared (not in DRIVER_ORDER) since round 12;
    L5 stays declared via text_metrics and corpus_preprocess.  It is the
    only query that reaches text.tf_idf."""
    t = Catalog(spark, sf_dir)
    scored = X.tf_idf(t.documents, top_k=None)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("n_term").alias("n_term"),
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf_r"),
            "rnk",
        )
    )


# ------------------------------------------------------ corpus dedup ----


@register(
    "near_dedup_corpus",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ),
    comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    ),
    drops AS (SELECT node FROM comp WHERE node <> component)
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM drops)
    """,
    tags=("L2", "L1"),
)
def near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus near-dedup (llm/dedup.near_dedup_corpus):
    MinHash+LSH pairs → connected components (min-label propagation, one
    join+agg per round, driver holds only change counts) → keep one
    representative (min doc_id) per duplicate cluster; docs in no pair
    pass through untouched via a left-anti join on the (tiny) drop set.

    This is the actual "dedup the training set" API, not the pairwise
    report.  The oracle replays the full pipeline: the generated MinHash
    SQL (shared constants with the Spark builder) feeding a recursive-CTE
    transitive closure whose per-node min label is the component."""
    t = Catalog(spark, sf_dir)
    deduped = D.near_dedup_corpus(t.documents, threshold=0.8)
    return deduped.select("doc_id", "lang", "source", "n_chars")


_ORDERS_PROFILE_COLS = (
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "other"),
    ("o_orderpriority", "str"),
)


def _half_profile_sql(parity: int) -> str:
    """Per-column profile of one half of orders — the DuckDB twin of
    operators.profile_columns(exact_distinct=True, decimal_mean=True)
    restricted to the metrics profile_drift consumes."""
    rows = []
    for col, kind in _ORDERS_PROFILE_COLS:
        if kind == "int":
            mean = f"SUM(CAST({col} AS DOUBLE)) / COUNT({col})"
        elif kind == "money":
            # the _util.py determinism strategy: exact decimal sum, one
            # double division — order-independent in both engines
            mean = (
                f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
                f" / COUNT({col})"
            )
        else:
            mean = "CAST(NULL AS DOUBLE)"
        rows.append(
            f"""
      SELECT '{col}' AS "column",
             (COUNT(*) - COUNT({col})) / COUNT(*) AS null_ratio,
             COUNT(DISTINCT {col}) AS n_distinct,
             {mean} AS mean
      FROM orders WHERE o_orderkey % 2 = {parity}"""
        )
    return " UNION ALL ".join(rows)


def _drift_oracle(
    null_tol: float = 0.05, dist_tol: float = 0.5, mean_tol: float = 0.25
) -> str:
    dr = 'CASE WHEN b_d > 0 THEN c_d / b_d END'
    mr = (
        "CASE WHEN b_mean IS NOT NULL AND c_mean IS NOT NULL "
        "AND abs(b_mean) > 0 THEN abs(c_mean - b_mean) / abs(b_mean) END"
    )
    status = (
        "CASE WHEN NOT in_b THEN 'added' "
        "WHEN NOT in_c THEN 'removed' ELSE 'common' END"
    )
    return f"""
    WITH b AS ({_half_profile_sql(0)}),
    c AS ({_half_profile_sql(1)}),
    j AS (
      SELECT COALESCE(b."column", c."column") AS "column",
             b.null_ratio AS b_nr, c.null_ratio AS c_nr,
             b.n_distinct AS b_d, c.n_distinct AS c_d,
             b.mean AS b_mean, c.mean AS c_mean,
             b."column" IS NOT NULL AS in_b,
             c."column" IS NOT NULL AS in_c
      FROM b FULL OUTER JOIN c ON b."column" = c."column"
    )
    SELECT "column",
           {status} AS status,
           abs(c_nr - b_nr) AS null_ratio_delta,
           {dr} AS distinct_ratio,
           {mr} AS mean_rel_delta,
           ({status}) <> 'common'
             OR abs(c_nr - b_nr) > {null_tol}
             OR COALESCE(({dr}) > {1 + dist_tol} OR ({dr}) < {1 - dist_tol},
                         FALSE)
             OR COALESCE(({mr}) > {mean_tol}, FALSE) AS drifted
    FROM j
    """


@register(
    "profile_drift_report",
    oracle=_drift_oracle(),
    tags=("A2", "A7"),
)
def profile_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch data monitoring as a declared query: profile two
    ingest batches (orders split by key parity) with the SINGLE-PASS
    column profiler, then diff the profiles with quality.profile_drift
    (promoting the formerly pytest-only drift operator to the oracle
    gate; VERDICT r3 item 8).

    Gate determinism: the declared run uses exact distinct counts and
    decimal-sum means (profile_columns flags) so the report is
    hash-checkable; the 100 TB default keeps HLL distincts — same plan
    shape, one pass per batch either way, and the diff itself is a
    broadcast join of two column-count-sized frames."""
    from ..operators import profile_columns
    from ..quality import profile_drift

    t = Catalog(spark, sf_dir)
    base = t.orders.where(F.col("o_orderkey") % 2 == 0)
    cur = t.orders.where(F.col("o_orderkey") % 2 == 1)
    # minmax=False (r15): profile_drift never reads min/max, but their
    # string-typed aggregation buffers forced BOTH profile passes into
    # SortAggregate (sorting every expanded row twice per pass — the
    # stack() unpivot blocks Catalyst from pruning the dead aggregates).
    # Dropping them restores HashAggregate; drift output is identical
    # (oracle re-verified hash-green).
    return profile_drift(
        profile_columns(base, exact_distinct=True, decimal_mean=True, minmax=False),
        profile_columns(cur, exact_distinct=True, decimal_mean=True, minmax=False),
    )


@register(
    "cdc_apply_state",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice, o_orderpriority,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice, o_orderpriority
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    tags=("ops", "cdc"),
)
def cdc_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (operators.py `cdc_apply`): collapse an
    upsert/delete stream to current state — the Debezium/OLTP-mirror
    compaction every warehouse ingest runs.  Orders stand in as the
    changelog: key = customer, sequence = (orderdate, orderkey), and a
    final-status order is a tombstone, so the result is each customer's
    latest open order and customers whose latest order is final vanish.

    The Spark plan is ONE map-side-combinable aggregate (a partial
    SortAggregate of max(struct(seq, op, payload)) per key) — the
    exchange carries a row per (task, key), not the changelog history;
    the oracle is the row_number-window formulation DuckDB favors at
    its scale, which at Spark's scale would shuffle the full history
    (that contrast is the point of the operator)."""
    from ..operators import cdc_apply

    t = Catalog(spark, sf_dir)
    changelog = t.orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "o_totalprice",
        "o_orderpriority",
    )
    return cdc_apply(
        changelog,
        key_cols=["o_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        op_col="op",
    )
