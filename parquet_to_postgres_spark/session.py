"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads),
but every config below is chosen for how it behaves on a real multi-node
cluster at ~100 TB:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats).
- ``spark.sql.shuffle.partitions`` small for local test data; on a real
  cluster this should be sized to ~128 MB of shuffle data per partition
  (AQE coalescing makes the static number mostly a ceiling).
- Broadcast threshold raised: TPC-H-style dimensions (region, nation,
  supplier, part) must never shuffle-join.
- Arrow enabled for any pandas-UDF hot path.
- Session timezone pinned to UTC so timestamp semantics are independent
  of the host (and match the DuckDB oracle, which reads naive parquet
  timestamps).

Cold start.  Most of a fresh driver JVM's start-up is loading and
linking Spark, Scala and Hadoop classes.  When ``get_spark`` is about to
launch a JVM it maps those classes from a dynamic class-data-sharing
archive (JEP 350), ``.scratch/cds/<key>.jsa``.  The key hashes the JDK,
``SPARK_HOME``, the Spark version, the jars on the launch classpath and
``spark.driver.extraClassPath``.  A missing archive is first dumped by a
child ``python -m parquet_to_postgres_spark.session`` running a fixed,
workload-independent warm-up (``_warm_up``), once per key, under a file
lock; a failed dump leaves ``<key>.jsa.failed`` and is not retried until
that file is deleted.  On JDK 17 neither the dump nor the load works with a non-empty
directory on the classpath, so the launch points ``SPARK_CONF_DIR`` at an
empty directory; when the user has a conf dir of their own or a real
config file, the archive is not used.  Each launch logs one JSON record
(``state``: ``used``, ``dumped``, ``mismatch`` or ``skipped``) through
this module's logger.  An archive the JVM refuses to map is deleted, so
the next launch dumps it again; the JVM's default ``-Xshare:auto`` already
starts without it.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import logging
import os
import shutil
import subprocess
import sys
import time

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CDS_DIR = os.path.join(_ROOT, ".scratch", "cds")
_CDS_FLAGS = ("-XX:SharedArchiveFile=", "-Xlog:cds")
_JAVA_OPTS = "spark.driver.extraJavaOptions"
_CLASS_PATH = "spark.driver.extraClassPath"
_DUMP_FLAG = "-XX:ArchiveClassesAtExit="

# the record of this process's last JVM launch (see ``_class_data_sharing``)
last_launch: dict | None = None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "parquet_to_postgres_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- adaptive execution: the 100 TB workhorse -------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing --------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # --- join strategy ---------------------------------------------
        # dimensions (region/nation/supplier/part) stay broadcast even at
        # large SF; 64 MB is safely under executor memory.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python/arrow boundary -------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle parity -------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan sizing: 128 MB splits, the parquet sweet spot --------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    with _class_data_sharing(conf):
        for k, v in conf.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()


# ------------------------------------------------- class-data sharing ----


@contextlib.contextmanager
def _class_data_sharing(conf: dict[str, str]):
    """Around a ``getOrCreate``: when it will launch a JVM, add the archive
    flags to ``conf`` and point ``SPARK_CONF_DIR`` at the empty conf dir
    for the launch, then check the JVM mapped the archive and log it."""
    global last_launch
    from pyspark import SparkContext

    if SparkContext._gateway is not None:  # getOrCreate reuses the JVM
        yield
        return
    rec = _plan_launch(conf)
    saved = os.environ.get("SPARK_CONF_DIR")
    if rec["state"] != "skipped":
        os.environ["SPARK_CONF_DIR"] = os.path.join(_CDS_DIR, "conf")
        os.makedirs(os.environ["SPARK_CONF_DIR"], exist_ok=True)
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if rec["state"] == "dumping":
        return
    if rec["state"] != "skipped" and not _archive_mapped(rec.pop("log")):
        rec.update(state="mismatch", reason="the JVM did not map the archive")
        with contextlib.suppress(FileNotFoundError):
            os.remove(rec["path"])
    rec.pop("log", None)
    last_launch = rec
    level = logging.WARNING if rec["state"] == "mismatch" else logging.INFO
    _log.log(level, json.dumps(rec))


def _plan_launch(conf: dict[str, str]) -> dict:
    """Decide the launch's archive state, dumping a missing archive first,
    and add the JVM flags to ``conf``.  Returns the record to log.  A
    launch whose options already ask for a dump (the warm-up child) only
    gets the empty conf dir."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    rec = {"state": "skipped", "reason": _conf_dir_skip_reason(spark_home),
           "key": None, "path": None, "bytes": 0, "dump_s": 0.0}
    if rec["reason"] is None and any(c.isspace() for c in _CDS_DIR):
        rec["reason"] = f"whitespace in the archive path {_CDS_DIR!r}"
    if rec["reason"]:
        return rec
    if _DUMP_FLAG in conf.get(_JAVA_OPTS, ""):
        rec["state"] = "dumping"
        return rec
    key = _archive_key(spark_home, shutil.which("java"), conf.get(_CLASS_PATH, ""))
    path = os.path.join(_CDS_DIR, f"{key}.jsa")
    rec.update(key=key, path=path)
    if os.path.exists(f"{path}.failed"):  # don't pay a failing warm-up per launch
        rec["reason"] = f"an earlier dump failed; delete {path}.failed to retry"
        return rec
    state = "used"
    if not os.path.exists(path):
        t0 = time.perf_counter()
        rec["reason"] = _dump(path, conf)
        rec["dump_s"] = round(time.perf_counter() - t0, 2)
        if rec["reason"]:
            return rec
        state = "dumped"
    rec.update(state=state, bytes=os.path.getsize(path))
    rec["log"] = os.path.join(_CDS_DIR, f"launch-{os.getpid()}.log")
    with contextlib.suppress(FileNotFoundError):
        os.remove(rec["log"])
    conf[_JAVA_OPTS] = _java_options(
        conf.get(_JAVA_OPTS),
        [f"-XX:SharedArchiveFile={path}", f"-Xlog:cds,cds+dynamic:file={rec['log']}"],
    )
    return rec


def _conf_dir_skip_reason(spark_home: str) -> str | None:
    """Why the launch cannot swap the conf dir for an empty one, or None.

    The conf dir is on the driver's classpath, and JDK 17 neither dumps
    nor maps an archive with a non-empty directory there."""
    if os.environ.get("SPARK_CONF_DIR"):
        return "SPARK_CONF_DIR is set"
    conf_dir = os.path.join(spark_home, "conf")
    if not os.path.isdir(conf_dir):
        return None
    real = sorted(f for f in os.listdir(conf_dir) if not f.endswith(".template"))
    return f"{conf_dir} holds config files: {', '.join(real)}" if real else None


def _archive_key(spark_home: str, java: str | None, class_path: str) -> str:
    """Hash of everything the archive's classes were loaded from: the JDK
    (the ``java`` binary and its ``release`` file), ``SPARK_HOME`` and the
    Spark version, the launch jars by name and size, and the extra
    driver classpath."""
    import pyspark

    java = os.path.realpath(java or "java")
    parts = [java, _read(os.path.join(os.path.dirname(os.path.dirname(java)), "release"))]
    parts += [os.path.realpath(spark_home), pyspark.__version__, class_path]
    jars = os.path.join(spark_home, "jars")
    if os.path.isdir(jars):
        for name in sorted(os.listdir(jars)):
            parts.append(f"{name}:{os.path.getsize(os.path.join(jars, name))}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _java_options(current: str | None, flags: list[str]) -> str:
    """The caller's driver JVM options with ``flags`` in front, and any
    archive flag a previous launch left in them dropped."""
    kept = [o for o in (current or "").split() if not o.startswith(_CDS_FLAGS)]
    return " ".join(flags + kept)


def _archive_mapped(log_path: str) -> bool:
    """Read (and delete) the launch's CDS log: did the JVM map the
    dynamic archive?  A classpath mismatch logs "Unable to use shared
    archive"; a corrupt file is dropped silently, so only a mapped
    dynamic region counts."""
    text = _read(log_path)
    with contextlib.suppress(FileNotFoundError):
        os.remove(log_path)
    return "Mapped dynamic region" in text and "Unable to use shared archive" not in text


def _dump(path: str, conf: dict[str, str]) -> str | None:
    """Dump the archive at ``path`` from the warm-up child, once across
    concurrent processes.  The child's JVM gets the launch's own ``conf``
    (heap size, JVM options, classpath), so the archive fits the JVM that
    maps it.  Returns why it failed, or None."""
    os.makedirs(_CDS_DIR, exist_ok=True)
    with open(os.path.join(_CDS_DIR, "dump.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(path):  # another process dumped it meanwhile
            return None
        tmp = f"{path}.{os.getpid()}.tmp"
        out = os.path.join(_CDS_DIR, "dump.log")
        with open(out, "w") as f:
            try:
                rc = subprocess.run(
                    [sys.executable, "-m", "parquet_to_postgres_spark.session", tmp, json.dumps(conf)],
                    cwd=_ROOT, stdout=f, stderr=subprocess.STDOUT, timeout=900,
                ).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(tmp):
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
            open(f"{path}.failed", "w").close()
            return f"warm-up dump failed ({rc}), see {out}"
        _publish(tmp, path)
    return None


def _publish(tmp: str, path: str) -> None:
    """Move a finished dump into place and delete every other archive
    (other keys, stale temporaries) in its directory."""
    os.replace(tmp, path)
    folder = os.path.dirname(path)
    for old in glob.glob(os.path.join(folder, "*.jsa")) + glob.glob(os.path.join(folder, "*.tmp")):
        if old != path:
            with contextlib.suppress(FileNotFoundError):
                os.remove(old)


def _warm_up(spark: SparkSession, tmp: str) -> None:
    """The fixed warm-up the archive is dumped from.  It touches every
    engine path the package leans on, with no workload's data or query:
    parquet write and scan, CSV write, a shuffle aggregate, broadcast and
    sort-merge joins, a window, ``mapInArrow``, ``mapInPandas``, and one
    ``availableNow`` file-source micro-batch with a watermarked
    ``dropDuplicates`` into ``foreachBatch``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(20_000, numPartitions=4).select(
        "id",
        (F.col("id") % 97).alias("k"),
        (F.col("id") * 0.5).alias("x"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 1000 / 10).cast("decimal(12,2)").alias("d"),
    ).write.parquet(f"{tmp}/pq")
    pq = spark.read.parquet(f"{tmp}/pq")
    pq.write.option("header", True).csv(f"{tmp}/csv")
    dim = pq.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("d").alias("sd"))
    pq.join(F.broadcast(dim), "k").agg(F.sum("n")).collect()
    pq.hint("merge").join(pq.select("id", F.col("x").alias("y")), "id").agg(F.sum("y")).collect()
    w = Window.partitionBy("k").orderBy(F.col("x").desc())
    pq.withColumn("r", F.row_number().over(w)).where("r <= 2").collect()
    pq.mapInArrow(lambda batches: batches, pq.schema).agg(F.max("s")).collect()
    pq.select("id", "k").mapInPandas(
        lambda frames: (f.assign(k=f.k * 2) for f in frames), "id long, k long"
    ).agg(F.sum("k")).collect()
    (
        spark.readStream.schema(pq.schema).parquet(f"{tmp}/pq")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["k", "ts"])
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/checkpoint")
        .foreachBatch(lambda batch, _: batch.count())
        .start()
        .awaitTermination()
    )


if __name__ == "__main__":
    # python -m parquet_to_postgres_spark.session ARCHIVE [CONF_JSON]
    # runs the warm-up in a JVM, launched with the extra_conf CONF_JSON,
    # that dumps the archive to ARCHIVE at exit
    import tempfile

    from pyspark import SparkContext

    extra = json.loads(sys.argv[2]) if len(sys.argv) > 2 else {}
    extra[_JAVA_OPTS] = _java_options(extra.get(_JAVA_OPTS), [_DUMP_FLAG + sys.argv[1]])
    session = get_spark("cds_warm_up", extra_conf=extra)
    with tempfile.TemporaryDirectory() as d:
        _warm_up(session, d)
    session.stop()
    # the JVM dumps as it exits: wait for it, so the archive is whole
    SparkContext._gateway.shutdown()
    SparkContext._gateway.proc.stdin.close()
    sys.exit(SparkContext._gateway.proc.wait(timeout=600))
