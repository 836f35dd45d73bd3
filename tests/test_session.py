"""The driver JVM's class-data-sharing archive (``session.get_spark``):
the archive key, the JVM-options merge, the conf-dir rule and the dump
bookkeeping are checked without Spark; one check reads the fixture JVM's
own arguments, and one subprocess starts Spark on a corrupt archive."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark import SparkContext

from parquet_to_postgres_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home(tmp_path, conf_files=()):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name, size in (("spark-core.jar", 3), ("scala-library.jar", 5)):
        (home / "jars" / name).write_bytes(b"x" * size)
    for name in conf_files:
        (home / "conf" / name).write_text("")
    return home


def _java(tmp_path, jdk, release):
    (tmp_path / jdk / "bin").mkdir(parents=True)
    (tmp_path / jdk / "bin" / "java").write_text("")
    (tmp_path / jdk / "release").write_text(release)
    return str(tmp_path / jdk / "bin" / "java")


def test_archive_key_tracks_jars_jdk_and_extra_class_path(tmp_path, monkeypatch):
    home = _spark_home(tmp_path)
    java = _java(tmp_path, "jdk", 'JAVA_VERSION="17.0.20"')
    keys = [S._archive_key(str(home), java, "")]
    assert S._archive_key(str(home), java, "") == keys[0]
    (home / "jars" / "extra.jar").write_bytes(b"x")
    keys.append(S._archive_key(str(home), java, ""))  # jar added
    (home / "jars" / "extra.jar").write_bytes(b"xy")
    keys.append(S._archive_key(str(home), java, ""))  # jar resized
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.21"')
    keys.append(S._archive_key(str(home), java, ""))  # JDK updated in place
    keys.append(S._archive_key(str(home), _java(tmp_path, "jdk21", ""), ""))
    keys.append(S._archive_key(str(home), java, "lib/driver.jar"))
    # a copied or moved checkout: its conf dir, first on the classpath, moved
    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path / "moved" / "cds"))
    keys.append(S._archive_key(str(home), java, "lib/driver.jar"))
    assert len(set(keys)) == len(keys)


def test_java_options_keep_caller_flags_and_add_archive_once(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path))
    monkeypatch.setattr(S, "_conf_dir_skip_reason", lambda home: None)
    monkeypatch.setattr(S, "_archive_key", lambda *a: "k")
    (tmp_path / "k.jsa").write_bytes(b"\0")  # present: nothing to dump
    conf = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/data/tmp -Dx=1"}
    for _ in range(2):  # a second launch in one process re-plans the same conf
        rec = S._plan_launch(conf)
        opts = conf["spark.driver.extraJavaOptions"].split()
        assert rec["state"] == "used" and rec["path"] == str(tmp_path / "k.jsa")
        assert opts[0] == f"-XX:SharedArchiveFile={tmp_path / 'k.jsa'}"
        assert opts[-2:] == ["-Djava.io.tmpdir=/data/tmp", "-Dx=1"]
        assert sum(o.startswith("-XX:SharedArchiveFile=") for o in opts) == 1
        assert sum(o.startswith("-Xlog:cds") for o in opts) == 1
    assert S._java_options(None, ["-XX:SharedArchiveFile=a"]) == "-XX:SharedArchiveFile=a"


def test_conf_dir_rule(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home = _spark_home(tmp_path, ["spark-defaults.conf.template", "log4j2.properties.template"])
    assert S._conf_dir_skip_reason(str(home)) is None
    assert S._conf_dir_skip_reason(str(tmp_path / "no-such-home")) is None
    (home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert "spark-defaults.conf" in S._conf_dir_skip_reason(str(home))
    (home / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert S._conf_dir_skip_reason(str(home)) == "SPARK_CONF_DIR is set"
    # a skipped launch logs why and leaves the caller's options alone
    conf = {"spark.driver.extraJavaOptions": "-Dx=1"}
    rec = S._plan_launch(conf)
    assert rec["state"] == "skipped" and rec["reason"] == "SPARK_CONF_DIR is set"
    assert conf == {"spark.driver.extraJavaOptions": "-Dx=1"}


def test_launch_redirects_conf_dir_and_restores_it(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path))
    monkeypatch.setattr(S, "last_launch", None)
    monkeypatch.setattr(SparkContext, "_gateway", None)  # as if about to launch
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    rec = {"state": "used", "path": str(tmp_path / "k.jsa"), "log": str(tmp_path / "x.log")}
    monkeypatch.setattr(S, "_plan_launch", lambda conf: dict(rec))
    monkeypatch.setattr(S, "_archive_mapped", lambda log: True)
    with S._class_data_sharing({}):
        assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")
        assert os.listdir(tmp_path / "conf") == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert S.last_launch == {"state": "used", "path": str(tmp_path / "k.jsa")}


def test_dump_runs_the_warm_up_once_and_deletes_stale_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_CDS_DIR", str(tmp_path))
    stale = [tmp_path / "0123456789abcdef.jsa", tmp_path / "k.jsa.99.tmp"]
    for p in stale:
        p.write_bytes(b"old")
    children = []

    def child(cmd, **kw):  # stands in for the warm-up JVM's dump
        children.append(cmd)
        (tmp_path / os.path.basename(cmd[-2])).write_bytes(b"archive")
        return subprocess.CompletedProcess(cmd, 0)

    monkeypatch.setattr(subprocess, "run", child)
    path = str(tmp_path / "k.jsa")
    conf = {"spark.driver.memory": "2g"}
    assert S._dump(path, conf) is None
    assert S._dump(path, conf) is None  # already there: no second warm-up
    assert [c[1:3] for c in children] == [["-m", "parquet_to_postgres_spark.session"]]
    assert json.loads(children[0][-1]) == conf  # the warm-up JVM gets the launch's conf
    assert not any(p.exists() for p in stale)
    assert open(path, "rb").read() == b"archive"

    monkeypatch.setattr(
        subprocess, "run", lambda cmd, **kw: subprocess.CompletedProcess(cmd, 1)
    )
    assert "warm-up dump failed (1)" in S._dump(str(tmp_path / "other.jsa"), conf)
    assert sorted(os.listdir(tmp_path)) == ["dump.lock", "dump.log", "k.jsa", "other.jsa.failed"]
    # later launches of that key skip instead of paying the failing warm-up again
    monkeypatch.setattr(S, "_conf_dir_skip_reason", lambda home: None)
    monkeypatch.setattr(S, "_archive_key", lambda *a: "other")
    rec = S._plan_launch({})
    assert rec["state"] == "skipped" and "an earlier dump failed" in rec["reason"]


def test_fixture_jvm_runs_with_the_archive(spark):
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    flags = [
        a for a in args.getInputArguments()
        if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))
    ]
    assert len(flags) == 1
    assert S.last_launch["state"] in ("used", "dumped")


def test_corrupt_archive_degrades_to_a_plain_start(tmp_path):
    """1 MB of garbage at the key's path: the JVM starts without it, the
    launch logs ``mismatch`` and deletes the file for a re-dump."""
    code = f"""
import json, logging, os, shutil
from pyspark.find_spark_home import _find_spark_home
from parquet_to_postgres_spark import session as S
logging.basicConfig(level=logging.INFO, format="%(name)s %(message)s")
S._CDS_DIR = {str(tmp_path)!r}
key = S._archive_key(_find_spark_home(), shutil.which("java"), "")
path = os.path.join(S._CDS_DIR, key + ".jsa")
with open(path, "wb") as f:
    f.write(bytes(range(256)) * 4096)
spark = S.get_spark("corrupt_archive", shuffle_partitions=1)
print(json.dumps({{"count": spark.range(1).count(), "exists": os.path.exists(path),
                  "rec": S.last_launch}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["count"] == 1 and not got["exists"]
    assert got["rec"]["state"] == "mismatch" and got["rec"]["dump_s"] == 0.0
    assert '"state": "mismatch"' in out.stderr
