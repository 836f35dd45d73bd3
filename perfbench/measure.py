"""Measurement plumbing: spans, process-tree memory, Spark event log,
streaming progress and Postgres statistics.

Everything here observes the program from outside its modules: spans
wrap the benchmark's own calls into the package's public functions, and
the engine-level numbers come from Spark's event log and Postgres's
statistics views.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

# -------------------------------------------------------------- spans ----


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # time.time(), to line up with event-log timestamps
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records a span around each benchmark call.  With ``traced`` set,
    each span also tags the Spark jobs it submits with a job group named
    after the span id, so the event log can attribute them."""

    traced: bool = False
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(f"span-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.traced and self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.walls(name))

    def self_times(self) -> dict[int, float]:
        """A span's self time: its wall minus the union of its
        children's intervals (children of one span never overlap here:
        the benchmark is one client calling sequentially)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.wall
        return {s.id: s.wall - child.get(s.id, 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall,
                "self_s": selfs[s.id],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# -------------------------------------------------- process-tree memory ----


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMemorySampler:
    """Samples the proportional set size (PSS) summed over a process
    tree every ``interval`` seconds and keeps the peak.  PSS splits
    shared pages among the processes mapping them, so the Postgres
    backends' shared buffers are counted once.  ``extra_roots`` adds
    trees that are not our descendants (the daemonized postmaster)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.extra_roots: list[int] = []
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kids = _children_map()
        seen, todo, total = set(), [os.getpid(), *self.extra_roots], 0
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeMemorySampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ------------------------------------------------------ streaming probe ----


def stream_listener():
    """A StreamingQueryListener that keeps every start and progress
    event.  Built lazily so importing this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.started: list[tuple[float, str]] = []  # (time, runId)
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.started.append((time.time(), str(event.runId)))

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Recorder()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000  # noqa: E731
    last_state: dict[str, int] = {}
    for p in progress:
        last_state[p["runId"]] = sum(
            op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])
        )
    return {
        "streaming.batches": len(progress),
        "streaming.nodata_batches": sum(1 for p in progress if p.get("numInputRows", 0) == 0),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progress),
        "streaming.query_planning_s": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_s": sum(dur(p, "walCommit") for p in progress),
        "streaming.commit_offsets_s": sum(dur(p, "commitOffsets") for p in progress),
        "streaming.state_rows": sum(last_state.values()),
    }


# ------------------------------------------------------------ event log ----

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4.1 defaults to zstd-compressed rolling logs, which the
    # standard library cannot read
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow", "ArrowEval")
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "number of output rows": "python.rows_from_worker",
}


@dataclass
class EventLog:
    """The parts of one application's event log the benchmark reads."""

    jobs: dict[int, dict] = field(default_factory=dict)  # id -> submit, end, group, stages
    stages: dict[int, dict] = field(default_factory=dict)  # id -> submit, end, tasks, accums
    task_totals: dict[int, dict] = field(default_factory=dict)  # stage id -> sums
    python_accums: dict[int, str] = field(default_factory=dict)  # accumulator id -> metric


def _python_accums(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m["name"] in PYTHON_METRICS:
                out[m["accumulatorId"]] = PYTHON_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accums(child, out)


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue
                log.stages[info["Stage ID"]] = {
                    "submit": info["Submission Time"] / 1000,
                    "end": info["Completion Time"] / 1000,
                    "tasks": info.get("Number of Tasks", 0),
                    "accums": {
                        a["ID"]: a.get("Value") for a in info.get("Accumulables", [])
                    },
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = log.task_totals.setdefault(ev["Stage ID"], {
                    "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "input": 0,
                    "shuffle_w": 0, "shuffle_r": 0, "spill": 0,
                })
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["cpu_ns"] += m.get("Executor CPU Time", 0)
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accums(ev.get("sparkPlanInfo") or {}, log.python_accums)
    return log


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def window_split(log: EventLog, start: float, end: float) -> tuple[float, float]:
    """(stage-busy, driver) seconds of the interval [start, end]:
    stage-busy is the union of stage intervals clipped to it, and the
    driver time is the rest of the wall."""
    clipped = [
        (max(s["submit"], start), min(s["end"], end))
        for s in log.stages.values()
        if s["end"] > start and s["submit"] < end
    ]
    busy = _union(clipped)
    return busy, (end - start) - busy


def spark_metrics(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Engine metrics of everything Spark ran in [start, end]."""
    busy, driver = window_split(log, start, end)
    stage_ids = [i for i, s in log.stages.items() if start <= s["submit"] < end]
    tt = [log.task_totals.get(i, {}) for i in stage_ids]
    tot = lambda k: sum(t.get(k, 0) for t in tt)  # noqa: E731
    out = {
        "spark.wall_s": end - start,
        "spark.stage_busy_s": busy,
        "spark.driver_s": driver,
        "spark.jobs": sum(1 for j in log.jobs.values() if start <= j["submit"] < end),
        "spark.stages": len(stage_ids),
        "spark.tasks": sum(log.stages[i]["tasks"] for i in stage_ids),
        "spark.executor_run_s": tot("run_ms") / 1000,
        "spark.executor_cpu_s": tot("cpu_ns") / 1e9,
        "spark.gc_s": tot("gc_ms") / 1000,
        "spark.input_bytes": tot("input"),
        "spark.shuffle_write_bytes": tot("shuffle_w"),
        "spark.shuffle_read_bytes": tot("shuffle_r"),
        "spark.spill_bytes": tot("spill"),
    }
    for name in PYTHON_METRICS.values():
        out[name] = 0
    for i in stage_ids:
        for acc_id, value in log.stages[i]["accums"].items():
            name = log.python_accums.get(acc_id)
            if name is not None and value is not None:
                out[name] += int(value)
    return out


def jobs_by_group(log: EventLog) -> dict[str | None, int]:
    counts: dict[str | None, int] = {}
    for j in log.jobs.values():
        counts[j["group"]] = counts.get(j["group"], 0) + 1
    return counts


# ------------------------------------------------------------- postgres ----


PG_STATS_SQL = (
    "SELECT (SELECT xact_commit + xact_rollback FROM pg_stat_database "
    "WHERE datname = current_database()), (SELECT wal_bytes FROM pg_stat_wal);"
)


def pg_stats(run_psql, conninfo: dict) -> tuple[int, int]:
    """(transactions, WAL bytes) of the server so far."""
    xacts, wal = run_psql(conninfo, PG_STATS_SQL).strip().split("|")
    return int(xacts), int(wal)
