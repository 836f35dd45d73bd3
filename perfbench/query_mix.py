"""query_mix: 14 declared queries, in a fixed order, over seeded tables.

Set-up computes every query's answer with its DuckDB oracle twin.  A
run is one pass: every query runs once until its result reaches the
driver, except the build-once ``sketch_cube_slice``, which first runs
with its store removed, then once warm.  Each answer is compared with DuckDB's by rows, schema and
canonical hash.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from layers import MIX_BATCH, MIX_BUILD, MIX_STREAM
from measure import (
    TreeMemorySampler,
    jobs_by_group,
    stream_listener,
    streaming_metrics,
    window_split,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class QueryMix:
    def __init__(self, bench, input_dir: str):
        self.bench = bench
        self.dir = input_dir
        self.answers: dict[str, tuple[list, list]] = {}
        self.listener = None
        self.walls: dict[str, float] = {}  # of the first pass

    # ---------------------------------------------------------- set-up ----

    def setup(self) -> None:
        import duckdb

        from parquet_to_postgres_spark.queries import load_all

        self.bench.start_spark()
        self.specs = load_all()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.dir}/{t}.parquet')"
                )
            for q in MIX_BATCH + MIX_STREAM:
                pdf = con.sql(self.specs[q].oracle).df()
                self.answers[q] = (sorted(pdf.columns), canon(pdf))
        finally:
            con.close()

    def teardown(self) -> None:
        self.bench.stop_spark()

    # ------------------------------------------------------------- run ----

    def remove_store(self) -> None:
        from parquet_to_postgres_spark.queries.etl_q import _scratch

        base = os.path.basename(os.path.normpath(self.dir))
        shutil.rmtree(_scratch(f"sketchcube/gate_{base}"), ignore_errors=True)

    def call(self, q: str, span: str) -> float:
        """Run one query to the driver, check it, free its caches."""
        from parquet_to_postgres_spark.checkpoint import (
            persistent_rdd_ids,
            release_rdds,
        )

        b = self.bench
        sc = b.spark.sparkContext
        pinned = persistent_rdd_ids(sc)
        wall = float("nan")
        try:
            with b.tracer.span(span) as sp:
                pdf = self.specs[q].builder(b.spark, self.dir).toPandas()
            wall = sp.wall
            cols, rows = self.answers[q]
            ok = sorted(pdf.columns) == cols and len(pdf) == len(rows)
            b.op(ok and canon(pdf) == rows, f"{span}: answer differs from duckdb")
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, not fatal
            b.op(False, f"{span}: {type(exc).__name__}: {exc}"[:400])
        finally:
            b.spark.catalog.clearCache()
            release_rdds(sc, persistent_rdd_ids(sc) - pinned)
        return wall

    def run(self):
        """One pass.  The first pass of a run makes the call with the
        store absent; a traced second pass keeps the store the first one
        built and makes only the 14 warm calls, so the run stays inside
        its time limit."""
        b = self.bench
        cold = not self.walls
        if b.traced:
            self.listener = stream_listener()
            b.spark.streams.addListener(self.listener)
        walls: dict[str, float] = {}
        with TreeMemorySampler() as mem:
            start = time.time()
            for q in MIX_BATCH + MIX_STREAM:
                if cold and q in MIX_BUILD:
                    self.remove_store()
                    walls[f"{q}_cold"] = self.call(q, f"queries.{q}_cold")
                walls[q] = self.call(q, f"queries.{q}")
            end = time.time()
        print(
            "perfbench: query_mix walls (s): "
            + json.dumps({k: round(v, 3) for k, v in walls.items()}),
            file=sys.stderr,
            flush=True,
        )
        if cold:
            self.walls = walls
        else:
            self.traced_walls = walls
        phases = {
            "read_s": sum(walls[q] for q in MIX_BATCH),
            "total_s": sum(walls.values()),
        }
        if b.traced:
            lay = b.layer
            for q in MIX_BATCH + MIX_STREAM:
                lay[f"queries.{q}_s"] = walls[q]
            for q in MIX_BUILD:
                lay[f"queries.{q}_cold_s"] = self.walls[f"{q}_cold"]
            lay["queries.batch_s"] = phases["read_s"]
            lay["queries.stream_s"] = sum(walls[q] for q in MIX_STREAM)
            # listener events arrive asynchronously; let the bus drain
            time.sleep(1.0)
            b.spark.streams.removeListener(self.listener)
            lay.update(streaming_metrics(self.listener.progress))
        return phases, mem.peak_mb, (start, end)

    def overhead(self) -> float:
        """Only the build-once query's second call is warm in both
        passes (it follows its own cold call in the untraced pass);
        every other call of the untraced pass is the first of its kind
        in the process, so comparing it would measure warm-up."""
        return sum(self.traced_walls[q] - self.walls[q] for q in MIX_BUILD)

    def layer_from_log(self, log, layer: dict) -> None:
        """Per-query driver time (from the span's wall) and job count.
        A query's jobs carry its span's job group; micro-batch jobs
        carry their stream's run id, mapped back to the span that was
        open when the stream started."""
        groups = jobs_by_group(log)
        spans = self.bench.tracer.spans
        run_span = {}
        for t, run_id in self.listener.started:
            for s in spans:
                if s.start <= t <= s.end and s.name.startswith("queries."):
                    run_span[run_id] = s.id
        for q in MIX_BATCH + MIX_STREAM:
            mine = [s for s in spans if s.name == f"queries.{q}"]
            ids = {s.id for s in mine}
            jobs = sum(groups.get(f"span-{i}", 0) for i in ids)
            jobs += sum(groups.get(r, 0) for r, i in run_span.items() if i in ids)
            layer[f"spark.{q}.jobs"] = jobs
            layer[f"spark.{q}.driver_s"] = sum(window_split(log, s.start, s.end)[1] for s in mine)
