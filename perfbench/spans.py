"""Measurement helpers: spans, job and plan statistics, streaming progress,
and the process-tree memory sampler.

Everything here observes the program from outside, through public PySpark
and Catalyst objects; nothing patches the package.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter

# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id, attributes),
    written out once when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, trace_id: str = "", **attrs):
        return _Span(self, name, trace_id, attrs)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def self_seconds(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed by name."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Counter = Counter()
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace_id: str, attrs: dict):
        self.t, self.name, self.trace_id, self.attrs = tracer, name, trace_id, attrs
        self.seconds = 0.0

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.idx = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append({"name": self.name, "trace": self.trace_id, "parent": parent,
                                 "start": self.start, "end": None, **self.attrs})
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, exc_type, exc, tb):
        end = time.perf_counter()
        self.seconds = end - self.start
        if self.t.enabled:
            self.t._stack.pop()
            rec = self.t.spans[self.idx]
            rec["end"] = end
            if exc_type is not None:
                rec["error"] = exc_type.__name__
        return False


# -- jobs, stages, tasks ------------------------------------------------------


class JobGroups:
    """Tags the jobs a call launches with a job group, then counts them with
    the status tracker. Jobs started by Spark on other threads for the same
    action (broadcasts, subqueries) inherit the group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def start(self, label: str) -> str:
        self.n += 1
        gid = f"perfbench-{label}-{self.n}"
        self.sc.setJobGroup(gid, label)
        return gid

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        stage_ids: list[int] = []
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks:
                    stages += 1
                    tasks += si.numCompletedTasks
                    stage_ids.append(s)
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "stage_ids": stage_ids}

    def shuffle_write_bytes(self, stage_ids: list[int]) -> int:
        """Shuffle bytes written by the given stages, from the live status
        store (kept with the UI disabled)."""
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        store = jsc.statusStore()
        total = 0
        for s in stage_ids:
            datas = store.stageData(s, False, jvm.java.util.ArrayList(), False,
                                    self.sc._gateway.new_array(jvm.double, 0))
            for d in jvm.scala.jdk.javaapi.CollectionConverters.asJava(datas):
                total += d.shuffleWriteBytes()
        return total


# -- Catalyst phases and executed-plan metrics -------------------------------

#: SQL metric name on a physical node -> benchmark counter
_NODE_METRICS = {
    "filesSize": "scan_bytes",
    "scanTime": "scan_ms",
    "shuffleBytesWritten": "shuffle_bytes",
    "shuffleRecordsWritten": "shuffle_records",
    "spillSize": "spill_bytes",
    "peakMemory": "peak_memory_bytes",
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "python_sent_bytes",
    "pythonDataReceived": "python_received_bytes",
}
PLAN_KEYS = ["analysis_ms", "optimization_ms", "planning_ms"]
EXEC_KEYS = sorted(set(_NODE_METRICS.values())) + [
    "broadcast_bytes", "exchanges", "reused_exchanges", "checkpoint_scans"]


def plan_phases(qe) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations of one ``QueryExecution``."""
    phases = qe.tracker().phases()
    out = {k: 0.0 for k in PLAN_KEYS}
    for ph, key in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                    ("planning", "planning_ms")):
        got = phases.get(ph)
        if got.isDefined():
            out[key] = float(got.get().durationMs())
    return out


_SQL_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def executed_plan_stats(qe) -> dict[str, int]:
    """Walk the plan that ran: ``AdaptiveSparkPlanExec`` -> final plan ->
    ``*QueryStageExec.plan()``, plus subqueries, summing node SQL metrics.
    Each node's metrics are read as one string to keep py4j calls few."""
    out: Counter = Counter({k: 0 for k in EXEC_KEYS})

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            out["reused_exchanges"] += cls == "ReusedExchangeExec"
            return
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            out["exchanges"] += 1
        if cls == "RDDScanExec":
            out["checkpoint_scans"] += 1
        for name, value in _SQL_METRIC.findall(node.metrics().toString()):
            key = _NODE_METRICS.get(name)
            if key is None and name == "dataSize" and cls == "BroadcastExchangeExec":
                key = "broadcast_bytes"
            if key is not None:
                out[key] += int(value)
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(qe.executedPlan())
    return dict(out)


# -- Structured Streaming progress ------------------------------------------

STREAM_KEYS = ["triggers", "trigger_ms", "add_batch_ms", "get_batch_ms",
               "latest_offset_ms", "wal_commit_ms", "state_rows"]


def stream_listener(spark):
    """A ``StreamingQueryListener`` summing progress events into a Counter,
    registered on ``spark.streams``; returns (listener, counter)."""
    from pyspark.sql.streaming import StreamingQueryListener

    totals: Counter = Counter({k: 0 for k in STREAM_KEYS})
    lock = threading.Lock()

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            with lock:
                totals["triggers"] += 1
                totals["trigger_ms"] += d.get("triggerExecution", 0)
                totals["add_batch_ms"] += d.get("addBatch", 0)
                totals["get_batch_ms"] += d.get("getBatch", 0)
                totals["latest_offset_ms"] += d.get("latestOffset", 0)
                totals["wal_commit_ms"] += d.get("walCommit", 0)
                totals["state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener, totals


def flush_listener_bus(spark) -> None:
    """Wait until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# -- process tree ---------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """PIDs below ``root`` (the JVM and the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants every
    ``interval`` seconds on a background thread; ``peak`` is the maximum."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
