"""Layer probes of the traced run: fixed, small calls into one layer's
public functions each, timed from outside.

They run after the passes, so they never touch ``trace.pass_s``. The rest,
normalize, checkpoint and acid probes run on every workload; the pipeline,
plan/exec, Python-eval and streaming probes stand in for a layer only when
the workload's own passes do not exercise it.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import gen
import spans as tr
from workloads import IMAGE_BASE, POSTER_SIZE, tree_size

PROBE_RANGE = ("2021-01-01", "2021-04-30")
PROBE_PAGES = 5


def _counting_transport(fixture_dir: str, calls: Counter):
    """The source's own fixture transport, counting the pages it serves."""
    from tmdb_movie_data_pipeline_spark.sources.rest import _fixture_transport

    inner = _fixture_transport(fixture_dir)

    def fetch(params: dict) -> dict:
        calls["pages"] += 1
        return inner(params)

    return fetch


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def rest_and_normalize(ctx, fixtures: str, windows: list[tuple[str, str]],
                       want_query_layers: bool) -> dict:
    """rest.*: ``fetch_window`` over the first four windows in this process,
    and a ``paged_rest`` scan of all windows into a noop sink.
    normalize.s / dedup.*: ``normalize_movies`` + ``keep_first`` over the
    raw relation staged once to Parquet. With ``want_query_layers`` the
    normalize call also stands in for build/plan/exec."""
    from pyspark.sql import functions as F

    from tmdb_movie_data_pipeline_spark.operators.normalize import normalize_movies
    from tmdb_movie_data_pipeline_spark.operators.windows import keep_first
    from tmdb_movie_data_pipeline_spark.sources.rest import PagedRestDataSource, fetch_window

    spark, out = ctx.spark, {}
    calls: Counter = Counter()
    t0 = time.perf_counter()
    rows = 0
    for a, b in windows[:4]:
        rows += sum(1 for _ in fetch_window(_counting_transport(fixtures, calls), a, b))
    out["rest.fetch_s"] = time.perf_counter() - t0
    out["rest.pages"], out["rest.rows"] = calls["pages"], rows

    spark.dataSource.register(PagedRestDataSource)
    raw = (spark.read.format("paged_rest").option("fixture_dir", fixtures)
           .option("date_from", windows[0][0]).option("date_to", windows[-1][1]).load())
    _, out["rest.scan_s"] = _timed(lambda: raw.write.format("noop").mode("overwrite").save())

    staged = os.path.join(ctx.work, "probe", "raw")
    raw.write.mode("overwrite").parquet(staged)
    raw = spark.read.parquet(staged)
    out["dedup.rows_in"] = raw.count()
    gid = ctx.groups.start("normalize")
    t0 = time.perf_counter()
    movies = normalize_movies(raw, IMAGE_BASE, POSTER_SIZE, gen.GENRES,
                              passthrough=("_window_key",))
    kept = keep_first(movies, ["_window_key", "tmdb_id"], [F.desc("popularity"), F.asc("tmdb_id")])
    t1 = time.perf_counter()
    pdf = kept.toPandas()
    t2 = time.perf_counter()
    ctx.groups.stop()
    out["normalize.s"] = t2 - t0
    out["dedup.rows_out"] = len(pdf)
    if want_query_layers:
        c = ctx.groups.counts(gid)
        qe = kept._jdf.queryExecution()
        out["build.s"], out["build.jobs"], out["exec.s"] = t1 - t0, 0, t2 - t1
        out.update({f"plan.{k}": v for k, v in tr.plan_phases(qe).items()})
        out.update({f"exec.{k}": v for k, v in tr.executed_plan_stats(qe).items()})
        out.update({f"exec.{k}": c[k] for k in ("jobs", "stages", "tasks")})
    return out


def checkpoint(ctx, windows: list[tuple[str, str]]) -> dict:
    """checkpoint.pending_s: load a half-done checkpoint and anti-join the
    month units; checkpoint.resume_s: the same with every month done."""
    from tmdb_movie_data_pipeline_spark.plans.checkpoint import (
        load_done_keys, pending_units, save_done_keys)

    spark = ctx.spark
    keys = [f"{a}_{b}" for a, b in windows]
    units = spark.createDataFrame([(k,) for k in keys], "unit_key string")
    path = os.path.join(ctx.work, "probe", "checkpoint.json")
    out = {}
    for metric, done in (("checkpoint.pending_s", keys[: len(keys) // 2]),
                         ("checkpoint.resume_s", keys)):
        save_done_keys(done, path)
        got, out[metric] = _timed(
            lambda: pending_units(units, load_done_keys(spark, path)).collect())
        if len(got) != len(keys) - len(done):
            raise RuntimeError(f"pending_units returned {len(got)} units")
    return out


def acid(ctx, lineitem_src: str) -> dict:
    """acid.*: ``TxTable`` create, merge and snapshot read on a lineitem
    slice keyed by (orderkey, linenumber)."""
    from pyspark.sql import functions as F

    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable

    spark = ctx.spark
    base = (spark.read.parquet(lineitem_src)
            .withColumn("lkey", F.col("l_orderkey") * 8 + F.col("l_linenumber")))
    source = (base.filter(F.col("l_orderkey") % 10 == 0)
              .withColumn("l_quantity", F.col("l_quantity") + 1))
    path = os.path.join(ctx.work, "probe", "txtable")
    out = {}
    t, out["acid.create_s"] = _timed(lambda: TxTable.create(spark, path, base))
    _, out["acid.merge_s"] = _timed(lambda: t.merge(source, "lkey"))
    n, out["acid.read_s"] = _timed(lambda: t.read().count())
    if n != base.count():
        raise RuntimeError(f"TxTable read {n} rows")
    out["acid.versions"] = len(t.versions())
    out["acid.files_written"] = tree_size(path, suffix=".parquet")[1]
    return out


def stream(ctx, sf_dir: str) -> None:
    """Drives one file-source stream over the events table to completion;
    the run's listener records its progress events."""
    from tmdb_movie_data_pipeline_spark.streaming.queries import tumbling_hourly_stream

    tumbling_hourly_stream(ctx.spark, sf_dir).toPandas()


#: pandas-UDF registry queries whose Python-eval nodes the python probe reads
PYTHON_PROBE_QUERIES = ("udf_grouped_agg", "udf_pandas_scalar")


def python_eval(ctx, sf_dir: str) -> dict:
    """exec.python_*: the Python-eval nodes of two pandas-UDF registry
    queries on the probe's lineitem slice, read from the plans that ran."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    out: Counter = Counter()
    for name in PYTHON_PROBE_QUERIES:
        df = all_queries()[name](ctx.spark, sf_dir)
        df.toPandas()
        stats = tr.executed_plan_stats(df._jdf.queryExecution())
        for k in ("python_rows", "python_sent_bytes", "python_received_bytes"):
            out[f"exec.{k}"] += stats[k]
    return dict(out)


def pipeline(ctx, fixtures: str, windows: list[tuple[str, str]]) -> dict:
    """pipeline.*: one cold ``run_backfill`` over the probe's pages."""
    from tmdb_movie_data_pipeline_spark.pipeline import run_backfill

    out_dir = os.path.join(ctx.work, "probe", "backfill")
    gid = ctx.groups.start("pipeline")
    got, seconds = _timed(lambda: run_backfill(
        ctx.spark, date_from=windows[0][0], date_to=windows[-1][1], out_dir=out_dir,
        checkpoint_path=out_dir + ".checkpoint.json", genre_map=gen.GENRES,
        image_base=IMAGE_BASE, poster_size=POSTER_SIZE,
        source_options={"fixture_dir": fixtures}))
    ctx.groups.stop()
    if got["months_run"] != len(windows):
        raise RuntimeError(f"probe backfill returned {got}")
    c = ctx.groups.counts(gid)
    return {"pipeline.backfill_s": seconds, "pipeline.jobs": c["jobs"],
            "pipeline.tasks": c["tasks"],
            "pipeline.shuffle_bytes": ctx.groups.shuffle_write_bytes(c["stage_ids"])}


def run_all(ctx, workload, need: set[str]) -> dict:
    """Every probe, with the stand-in probes chosen by ``need`` (a subset of
    {"pipeline", "query", "stream", "python"}). Backfill probes its own pages; the
    query workloads probe a small generated set."""
    from tmdb_movie_data_pipeline_spark.sources.rest import month_windows

    root = os.path.join(ctx.work, "probe")
    tiny = os.path.join(root, "tables")
    gen.write_tables(ctx.seed, "tiny", tiny, ["lineitem", "events"])
    if workload.name == "backfill":
        fixtures, windows = workload.fixtures, workload.windows
    else:
        windows = month_windows(*PROBE_RANGE)
        fixtures = os.path.join(root, "fixtures")
        gen.write_pages(ctx.seed, windows, PROBE_PAGES, fixtures)
    out = {}
    with ctx.tracer.span("probe", "probe/rest_normalize"):
        out.update(rest_and_normalize(ctx, fixtures, windows, "query" in need))
    with ctx.tracer.span("probe", "probe/checkpoint"):
        out.update(checkpoint(ctx, windows))
    with ctx.tracer.span("probe", "probe/acid"):
        out.update(acid(ctx, os.path.join(tiny, "lineitem.parquet")))
    if "pipeline" in need:
        with ctx.tracer.span("probe", "probe/pipeline"):
            out.update(pipeline(ctx, fixtures, windows))
    if "stream" in need:
        with ctx.tracer.span("probe", "probe/stream"):
            stream(ctx, tiny)
    if "python" in need:
        with ctx.tracer.span("probe", "probe/python"):
            out.update(python_eval(ctx, tiny))
    return out
