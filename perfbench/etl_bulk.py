"""etl_bulk: the reference's own path, Parquet -> Postgres COPY and back.

Each cycle loads the seeded Parquet table into a fresh table with
``etl.etl`` through ``pg.PostgresCopySink``, checks the table in SQL,
then reads it back with ``pg.read_back`` and an aggregate that touches
every column.  Row count and per-column checksums must equal DuckDB's
over the source files on both sides.

A traced pass also runs one checked ``curate_corpus`` over the seeded
planted corpus and probes each curation layer function (see curate.py).
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
from decimal import Decimal

from curate import Curation
from measure import TreeMemorySampler, pg_stats

# cycles per run.  The first cycle in a process is the slowest (JIT,
# codegen, Python workers start): a run reports times summed over its
# cycles, which varied less between runs than the median cycle did,
# since the second cycle is still warming up.
CYCLES = 3

# (column, kind) of the generated table; see inputs.etl_table
COLUMNS = [
    ("flag", "bool"),
    ("i16", "int"),
    ("i32", "int"),
    ("i64", "int"),
    ("f32", "float"),
    ("f64", "float"),
    ("s", "str"),
    ("d", "date"),
    ("ts", "ts"),
    ("dec", "dec"),
]


def sql_checksums(dialect: str) -> str:
    """Order-independent per-column checksums as one SELECT list: the
    non-NULL count plus sums that see every value.  Strings contribute
    their length and the first 32 bits of their md5."""
    pg = dialect == "postgres"
    parts = ["count(*)"]
    for c, kind in COLUMNS:
        parts.append(f"count({c})")
        if kind == "bool":
            parts.append(f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)")
        elif kind in ("int", "dec"):
            parts.append(f"sum({c})")
        elif kind == "float":
            parts.append(f"sum(CAST({c} AS DOUBLE PRECISION))" if pg else f"sum(CAST({c} AS DOUBLE))")
        elif kind == "str":
            parts.append(f"sum(length({c}))")
            parts.append(
                f"sum(('x' || lpad(substr(md5({c}), 1, 8), 16, '0'))::bit(64)::bigint)"
                if pg
                else f"sum(CAST(('0x' || substr(md5({c}), 1, 8)) AS BIGINT))"
            )
        elif kind == "date":
            parts.append(f"sum({c} - DATE '1970-01-01')")
        elif kind == "ts":
            us = (
                f"CAST(extract(epoch FROM {c}) * 1000000 AS BIGINT)"
                if pg
                else f"epoch_us({c})"
            )
            parts.append(f"sum({us} / 1000000)" if pg else f"sum({us} // 1000000)")
            parts.append(f"sum({us} % 1000000)")
    return ", ".join(parts)


def spark_checksums():
    """The same checksums as Spark aggregate columns."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1))]
    for c, kind in COLUMNS:
        col = F.col(c)
        aggs.append(F.count(col))
        if kind == "bool":
            aggs.append(F.sum(F.when(col, 1).otherwise(0)))
        elif kind in ("int", "dec"):
            aggs.append(F.sum(col))
        elif kind == "float":
            aggs.append(F.sum(col.cast("double")))
        elif kind == "str":
            aggs.append(F.sum(F.length(col)))
            aggs.append(F.sum(F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")))
        elif kind == "date":
            aggs.append(F.sum(F.datediff(col, F.lit("1970-01-01"))))
        elif kind == "ts":
            us = F.unix_micros(col.cast("timestamp"))
            aggs.append(F.sum(F.floor(us / 1000000)))
            aggs.append(F.sum(us % 1000000))
    return aggs


def normalize(values) -> list:
    """Checksum values from any engine as exact Decimals (the float
    columns hold dyadic values, so their sums are exact)."""
    out = []
    for v in values:
        if v is None or v == "":
            out.append(None)
        elif isinstance(v, float):
            out.append(Decimal(v))
        else:
            out.append(Decimal(str(v)))
    return out


class EtlBulk:
    def __init__(self, bench, input_dir: str):
        self.bench = bench
        self.source = os.path.join(input_dir, "source")
        self.files = sorted(glob.glob(os.path.join(self.source, "*.parquet")))
        self.pg = None
        self.pg_dir = os.path.join(bench.workdir, "pg", str(os.getpid()))
        self.pg_start_s = 0.0
        self.expected: list = []
        self.curation = Curation(bench, input_dir)
        self.pass_cycles: list[list] = []

    # ---------------------------------------------------------- set-up ----

    def setup(self) -> None:
        import duckdb

        from parquet_to_postgres_spark.pg import EmbeddedPostgres

        self.bench.start_spark()
        shutil.rmtree(self.pg_dir, ignore_errors=True)
        os.makedirs(self.pg_dir)
        # the server runs as the unprivileged postgres user
        os.chmod(self.pg_dir, 0o777)
        t0 = time.perf_counter()
        self.pg = EmbeddedPostgres(self.pg_dir).start()
        self.pg_start_s = time.perf_counter() - t0
        con = duckdb.connect()
        try:
            rel = f"read_parquet({self.files!r})"
            self.expected = normalize(
                con.sql(f"SELECT {sql_checksums('duckdb')} FROM {rel}").fetchone()
            )
        finally:
            con.close()

    def teardown(self) -> None:
        if self.pg is not None:
            self.pg.stop()
            self.pg = None
        shutil.rmtree(self.pg_dir, ignore_errors=True)
        self.bench.stop_spark()

    # ------------------------------------------------------------- run ----

    def cycle(self, table: str) -> tuple[float, float]:
        """One load and read-back; returns their wall times (NaN for a
        call that raised)."""
        from parquet_to_postgres_spark.etl import etl
        from parquet_to_postgres_spark.pg import PostgresCopySink, read_back, run_psql

        b, conninfo = self.bench, self.pg.conninfo()
        spark, source, expected = b.spark, self.source, self.expected
        sink = PostgresCopySink(
            conninfo=conninfo, table=table, mode="overwrite", num_partitions=b.cpus
        )
        before = pg_stats(run_psql, conninfo) if b.traced else None
        load_s = read_s = float("nan")
        try:
            with b.tracer.span("etl.etl") as sp:
                etl(spark, source, sink)
            load_s = sp.wall
            after = pg_stats(run_psql, conninfo) if b.traced else None
            got = normalize(
                run_psql(conninfo, f"SELECT {sql_checksums('postgres')} FROM {table};")
                .strip()
                .split("|")
            )
            b.op(got == expected, f"load {table}: postgres checksums differ from duckdb")
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            b.op(False, f"load {table}: {type(exc).__name__}: {exc}"[:400])
            return load_s, read_s
        if b.traced:
            # the "before" snapshot's own transaction is in the delta
            b.layer.setdefault("_xacts", []).append(after[0] - before[0] - 1)
            b.layer.setdefault("_wal", []).append(after[1] - before[1])
            size = int(run_psql(conninfo, f"SELECT pg_total_relation_size('{table}');"))
            b.layer.setdefault("_table_bytes", []).append(size)
        try:
            schema = spark.read.parquet(source).schema
            with b.tracer.span("pg.read_back") as sp:
                df = read_back(
                    spark, conninfo, table, schema,
                    partition_column="id", lower=0, upper=int(expected[0]),
                    num_partitions=b.cpus,
                )
                got = normalize(df.agg(*spark_checksums()).collect()[0])
            read_s = sp.wall
            b.op(got == expected, f"read back {table}: checksums differ from duckdb")
        except Exception as exc:  # noqa: BLE001
            b.op(False, f"read back {table}: {type(exc).__name__}: {exc}"[:400])
        run_psql(conninfo, f"DROP TABLE IF EXISTS {table};")
        return load_s, read_s

    def run(self):
        """The timed region: CYCLES cycles.  Returns the read-back time
        and the load plus read-back time, each summed over the cycles,
        the peak memory and the region's (start, end).  A traced pass
        then runs the curation funnel and its layer probes."""
        b = self.bench
        tag = f"p{len(self.pass_cycles)}"
        cycles = []
        with TreeMemorySampler() as mem:
            mem.extra_roots.append(self.postmaster_pid())
            start = time.time()
            for i in range(CYCLES):
                cycles.append(self.cycle(f"etl_s{b.args.seed}_{tag}_{i}"))
            end = time.time()
        self.pass_cycles.append(cycles)
        print(
            "perfbench: etl_bulk cycles (load, read-back s): "
            f"{[tuple(round(x, 3) for x in c) for c in cycles]}",
            file=sys.stderr,
            flush=True,
        )
        phases = {
            "read_s": sum(rd for _, rd in cycles),
            "total_s": sum(lo + rd for lo, rd in cycles),
        }
        if b.traced:
            self.collect_layer(cycles, int(self.expected[0]))
            self.curation.funnel(os.path.join(b.tmp, "curated"))
            self.curation.probes(b.tmp)
        return phases, mem.peak_mb, (start, end)

    def postmaster_pid(self) -> int:
        with open(os.path.join(self.pg.datadir, "postmaster.pid")) as f:
            return int(f.readline())

    def collect_layer(self, cycles: list, rows: int) -> None:
        """Per-call medians over the traced cycles, and the Postgres
        statistics of each load."""
        lay = self.bench.layer
        med = statistics.median
        load, read = (med(c[k] for c in cycles) for k in range(2))
        src_bytes = sum(os.path.getsize(f) for f in self.files)
        table_bytes = med(lay.pop("_table_bytes"))
        lay.update({
            "pg.server_start_s": self.pg_start_s,
            "pg.xacts": med(lay.pop("_xacts")),
            "pg.wal_bytes": med(lay.pop("_wal")),
            "pg.table_bytes": table_bytes,
            # base: the source Parquet files' bytes on disk
            "pg.bytes_per_source_byte": table_bytes / src_bytes,
            "pg.read_back_s": read,
            "etl.etl_s": load,
            "etl.load_rows_per_s": rows / load,
            "etl.readback_rows_per_s": rows / read,
        })

    def layer_from_log(self, log, layer: dict) -> None:
        pass

    def overhead(self) -> float:
        """The last cycle of each pass is warm in both: compare those."""
        (*_, plain), (*_, tr) = self.pass_cycles
        return sum(tr) - sum(plain)
