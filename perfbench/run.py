"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 30 --trace 0

Runs one workload in this process as a closed loop with one client: the
next call is made only after the previous one returned.  Prints progress
on stderr and, as the last line of stdout, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the workload runs twice in the process, untraced and then
traced (Spark event log, job groups, a streaming listener and Postgres
statistics), and the per-layer metrics are printed instead, including
the tracing overhead between the two.  Metric names and units are the
ones listed in BENCHMARK.json.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["etl_bulk", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    # a run is a fixed amount of work (see README.md); callers still pass
    # the run length BENCHMARK.json declares
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(workdir: str) -> str:
    """Keep every file the engine writes inside the checkout, and size
    Spark to the machine rather than to the package default."""
    tmp = os.path.join(workdir, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return tmp


class Bench:
    """State shared by a workload run: the session, the tracer, the
    operation counters and the metrics."""

    def __init__(self, args, workdir: str, tmp: str):
        from measure import Tracer

        self.args = args
        self.workdir = workdir
        self.tmp = tmp
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        # the first pass of every run is untraced; a --trace 1 run then
        # restarts the session with tracing on for its second pass
        self.traced = False
        self.tracer = Tracer(traced=False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.get_spark_s = 0.0
        self.eventlog_dir = os.path.join(workdir, "eventlog", str(os.getpid()))

    def start_spark(self):
        from parquet_to_postgres_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
        }
        if self.traced:
            from measure import EVENT_LOG_CONF

            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.eventlog_dir
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        if not self.get_spark_s:
            self.get_spark_s = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        return self.spark

    def start_traced(self) -> None:
        """Restart the session with the event log on and trace from now."""
        from measure import Tracer

        self.stop_spark()
        self.traced = True
        self.tracer = Tracer(traced=True)
        self.start_spark()

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """Shut the py4j gateway down and wait for the JVM to exit, so
        no process of the run outlives it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def event_log_path(self) -> str:
        app = self.spark.sparkContext.applicationId
        return os.path.join(self.eventlog_dir, app)


def declared_metrics() -> dict:
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from
    BENCHMARK.json, the one list of metric names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM still runs the teardown: Spark and Postgres are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "parquet_to_postgres_spark")):
        print(
            "perfbench: parquet_to_postgres_spark/ is missing: run from a "
            "full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.join(ROOT, ".perfbench")
    tmp = configure_env(workdir)

    import inputs

    t0 = time.perf_counter()
    input_dir = inputs.ensure(ROOT, args.workload, args.seed)
    gen_s = time.perf_counter() - t0

    if args.workload == "etl_bulk":
        from etl_bulk import EtlBulk as Workload
    else:
        from query_mix import QueryMix as Workload

    names = declared_metrics()
    setup_s = float("nan")
    bench = Bench(args, workdir, tmp)
    wl = Workload(bench, input_dir)
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        phases, _, _ = wl.run()
        if args.trace:
            bench.start_traced()
            traced = wl.run()
            layer = trace_metrics(bench, wl, traced)
    finally:
        t0 = time.perf_counter()
        wl.teardown()
        bench.stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        print(
            f"perfbench: inputs {gen_s:.1f} s, set-up {setup_s:.1f} s, "
            f"teardown {time.perf_counter() - t0:.1f} s",
            file=sys.stderr,
            flush=True,
        )

    if args.trace:
        values = {name: layer.get(name, 0) for name in names["per_layer"]}
        units = names["per_layer"]
    else:
        values = {"setup_s": setup_s, **phases}
        units = names["end_to_end"]
        values = {name: values[name] for name in units}
    out = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": out,
            }
        )
    )
    return 0


def trace_metrics(bench: Bench, wl, traced: tuple) -> dict:
    """Per-layer metrics of the traced pass: the workload's own layer
    numbers plus engine metrics from the event log, the tracing overhead
    against the untraced pass of the same process, then the spans
    written out with their self times."""
    import measure

    _, peak_mb, region = traced
    layer = dict(bench.layer)
    layer["process.peak_rss_mb"] = peak_mb
    layer["session.get_spark_s"] = bench.get_spark_s
    path = bench.event_log_path()
    bench.stop_spark()  # flushes and closes the event log
    log = measure.read_event_log(path if os.path.exists(path) else path + ".inprogress")
    shutil.rmtree(bench.eventlog_dir, ignore_errors=True)
    layer.update(measure.spark_metrics(log, *region))
    wl.layer_from_log(log, layer)
    layer["trace.overhead_s"] = wl.overhead()
    layer["trace.spans"] = len(bench.tracer.spans)
    out = os.path.join(
        bench.workdir, "trace", f"{bench.args.workload}-s{bench.args.seed}.json"
    )
    bench.tracer.dump(out)
    selfs = bench.tracer.self_times()
    top = sorted(bench.tracer.spans, key=lambda s: -selfs[s.id])[:12]
    print(f"perfbench: spans written to {out}; top self times:", file=sys.stderr)
    for s in top:
        print(f"  {selfs[s.id]:8.3f} s  {s.name}", file=sys.stderr)
    return layer


if __name__ == "__main__":
    raise SystemExit(main())
