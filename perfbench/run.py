#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the repository root. The process starts its own Spark session on
``local[nproc]`` with the package's session defaults, generates its inputs
under ``.perfbench_work/`` (removed on exit, also on failure) -- ``--seed``
sets the query order of each pass, and the backfill's pages -- and then runs
one closed loop with a single client:

* set-up: imports and registry load, session start, and input staging
  repeated ``STAGE_REPS`` times (``setup_s`` uses the median staging time);
* one first pass, then steady passes until ``--seconds`` have passed since
  the first steady pass began, and at least ``MIN_STEADY`` of them;
* every operation's result is checked (see ``check.py``).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans, job counts, plan metrics
and streaming progress, runs the layer probes (``probes.py``) and reports
the per-layer metrics, writing the spans to ``.perfbench_traces/``.
BENCHMARK.json at the repository root describes every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tmdb_movie_data_pipeline_spark"
STAGE_REPS = 3
#: measured steady passes a run makes at least, whatever ``--seconds`` says.
#: Three analytics passes give ``pass_s`` a median that one slow pass does
#: not move; a fourth would not fit a run's share of the comparison time.
MIN_STEADY = {"analytics": 3, "llm_ops": 2, "commit_stream": 1, "backfill": 1}


def tail_pct(workload: str) -> int:
    """Highest nearest-rank percentile (a multiple of 5) with at least 10
    samples beyond it at ``MIN_STEADY`` passes. Below 20 samples no
    percentile above the median has that, so the tail is the slowest
    sample (100)."""
    import workloads as wl

    n = MIN_STEADY[workload] * len(wl.QUERY_WORKLOADS.get(workload, ["cold run"]))
    return 100 if n < 20 else 5 * ((100 * (n - 10)) // n // 5)


END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_p50_s": "s",
    "rows_per_s": "rows/s", "stored_bytes_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    import spans as tr

    units = {
        "session.start_s": "s", "io.stage_s": "s", "io.write_bytes": "bytes",
        "io.files_written": "count",
        "rest.fetch_s": "s", "rest.scan_s": "s", "rest.pages": "count", "rest.rows": "count",
        "normalize.s": "s", "dedup.rows_in": "count", "dedup.rows_out": "count",
        "checkpoint.pending_s": "s", "checkpoint.resume_s": "s",
        "pipeline.backfill_s": "s", "pipeline.jobs": "count", "pipeline.tasks": "count",
        "pipeline.shuffle_bytes": "bytes",
        "build.s": "s", "build.jobs": "count",
        "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "acid.create_s": "s", "acid.merge_s": "s", "acid.read_s": "s",
        "acid.versions": "count", "acid.files_written": "count",
        "trace.pass_s": "s", "query_tail_s": "s", "peak_rss_mb": "MB",
    }
    units.update({f"plan.{k}": "ms" for k in tr.PLAN_KEYS})
    for k in tr.EXEC_KEYS:
        units[f"exec.{k}"] = ("ms" if k.endswith("_ms") else
                              "bytes" if k.endswith("bytes") else "count")
    for k in tr.STREAM_KEYS:
        units[f"stream.{k}"] = "ms" if k.endswith("_ms") else "count"
    return units


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - ticks / os.sysconf("SC_CLK_TCK")


def _calibration_s() -> float:
    """Seconds for a fixed pure-Python loop: a reading of how fast this
    machine runs right now, logged next to the passes."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def _percentile(values: list[float], pct: int) -> float:
    s = sorted(values)
    return s[max(0, -(-pct * len(s) // 100) - 1)]


class Context:
    def __init__(self, args, work: str, nproc: int):
        import spans as tr

        self.seed = args.seed
        self.scale = args.scale
        self.work = work
        self.nproc = nproc
        self.tracer = tr.Tracer(bool(args.trace))
        self.spark = None
        self.groups = None
        self._corrupt = args.corrupt

    def corrupt(self, result):
        """Self-test hook: with --corrupt every result is altered before its
        check, so every operation must count as failed."""
        return ("corrupted", result) if self._corrupt else result


def _environment(work: str, nproc: int) -> None:
    """Keep every file the run writes under ``work``; workers import the
    package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    sys.path[:0] = [ROOT, HERE]


def _stop_processes(spark) -> None:
    """Stop Spark, end the JVM through its stdin, and wait for the JVM and
    its Python workers to exit."""
    import spans as tr

    from pyspark import SparkContext

    kids = tr.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, ctx: Context) -> dict:
    import probes
    import spans as tr
    import workloads as wl

    from tmdb_movie_data_pipeline_spark.registry import all_queries
    from tmdb_movie_data_pipeline_spark.session import get_spark

    all_queries()
    import_s = _process_age()
    stream_totals = None
    with tr.RssSampler() if args.trace else contextlib.nullcontext() as rss:
        with ctx.tracer.span("setup", "setup/session") as sess:
            ctx.spark = get_spark(extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            })
        if args.trace:
            ctx.groups = tr.JobGroups(ctx.spark)
            _, stream_totals = tr.stream_listener(ctx.spark)
        workload = wl.make(ctx, args.workload)
        stage_s = []
        for rep in range(STAGE_REPS):
            with ctx.tracer.span("setup", f"setup/stage{rep}"):
                stage_s.append(workload.stage())
        setup_s = import_s + sess.seconds + statistics.median(stage_s)
        wl.log(f"set-up {setup_s:.2f}s: imports {import_s:.2f}s, session "
               f"{sess.seconds:.2f}s, staging {[round(s, 2) for s in stage_s]}")
        with ctx.tracer.span("check", "check/prepare") as prep:
            workload.prepare()
        wl.log(f"expected results computed in {prep.seconds:.2f}s")

        names = wl.QUERY_WORKLOADS.get(args.workload, [])
        rng = random.Random(args.seed)
        calibration = [_calibration_s()]
        passes = []
        while True:
            order = rng.sample(names, len(names))
            label = f"pass{len(passes)}"
            before = Counter(stream_totals) if stream_totals is not None else None
            with ctx.tracer.span("pass", label):
                res = workload.run_pass(order, label)
            if stream_totals is not None:
                tr.flush_listener_bus(ctx.spark)
                for k in tr.STREAM_KEYS:
                    res.layers[f"stream.{k}"] += stream_totals[k] - before[k]
            passes.append(res)
            wl.log(f"{label}: {res.seconds:.2f}s, {res.failed}/{res.attempted} failed, "
                   f"op p50 {statistics.median(res.samples) if res.samples else 0:.3f}s, "
                   "ops " + " ".join(f"{n}={x:.2f}" for n, x in res.ops))
            if len(passes) == 1:
                steady_start = time.perf_counter()
            elif (len(passes) - 1 >= MIN_STEADY[args.workload]
                  and time.perf_counter() - steady_start >= args.seconds):
                break

        calibration.append(_calibration_s())
        wl.log(f"calibration loop before/after the passes: {calibration[0]:.3f}s/"
               f"{calibration[1]:.3f}s")
        steady = passes[1:]
        samples = [s for p in steady for s in p.samples]
        attempted = sum(p.attempted for p in passes)
        failed = sum(p.failed for p in passes)
        pass_s = statistics.median(p.seconds for p in steady)
        metrics: dict[str, float] = {}
        if not args.trace:
            rows = workload.source_rows
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": passes[0].seconds,
                "pass_s": pass_s,
                "query_p50_s": statistics.median(samples) if samples else 0.0,
                "rows_per_s": (rows / pass_s if args.workload != "backfill"
                               else rows / statistics.median(samples) if samples else 0.0),
                "stored_bytes_ratio": workload.stored_ratio(),
            }
        else:
            layers: dict[str, float] = {}
            keys = set().union(*(p.layers for p in steady))
            for k in keys:
                layers[k] = statistics.median(p.layers[k] for p in steady)
            need = set()
            if "pipeline.backfill_s" not in layers:
                need.add("pipeline")
            if "exec.s" not in layers:
                need.add("query")
            if not layers.get("stream.triggers"):
                need.add("stream")
            if not layers.get("exec.python_rows"):
                need.add("python")
            before = Counter(stream_totals)
            probed = probes.run_all(ctx, workload, need)
            if "stream" in need:
                tr.flush_listener_bus(ctx.spark)
                for k in tr.STREAM_KEYS:
                    probed[f"stream.{k}"] = stream_totals[k] - before[k]
            layers.update(probed)
            layers.update({
                "session.start_s": sess.seconds,
                "io.stage_s": statistics.median(stage_s),
                "io.write_bytes": workload.stored_bytes,
                "io.files_written": workload.files,
                "trace.pass_s": pass_s,
                "query_tail_s": _percentile(samples, tail_pct(args.workload)) if samples else 0.0,
            })
            metrics = layers
    if not args.trace:
        units = END_TO_END
    else:
        metrics["peak_rss_mb"] = rss.peak / 2**20
        units = per_layer_units()
        trace_path = os.path.join(ROOT, ".perfbench_traces",
                                  f"{args.workload}-seed{args.seed}.jsonl")
        ctx.tracer.write(trace_path)
        self_s = ctx.tracer.self_seconds()
        wl.log(f"spans written to {trace_path}; self seconds by span: "
               + ", ".join(f"{k}={v:.2f}" for k, v in sorted(self_s.items())))
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["analytics", "llm_ops", "commit_stream", "backfill"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test only: alter every result before its check")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"perfbench: no {PACKAGE} package next to perfbench/", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args, work, nproc)
    try:
        _environment(work, nproc)
        result = run(args, ctx)
    finally:
        try:
            if "pyspark" in sys.modules:
                t0 = time.perf_counter()
                _stop_processes(ctx.spark)
                print(f"perfbench: processes stopped in {time.perf_counter() - t0:.2f}s",
                      file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
