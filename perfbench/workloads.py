"""The benchmark's workloads: what one pass runs, and how it is checked.

Each workload is a closed loop with one client: an operation starts only
after the previous one has returned and been checked. An operation is one
registry query (the call that builds its DataFrame, then its rows as a
pandas frame) or one ``run_backfill`` call.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter

import check
import gen
import spans as tr

#: one pass of each query workload, in the order the seed then shuffles
QUERY_WORKLOADS = {
    "analytics": (
        "q1_pricing_summary q3_shipping_priority q5_region_revenue q6_forecast_revenue "
        "q9_product_profit q18_large_volume_orders q21_suppliers_kept_waiting agg_rollup "
        "subq_correlated_scalar window_topk_per_segment window_running_totals "
        "events_sessionize events_tumbling_hourly join_asof_nearest").split(),
    "llm_ops": (
        "dedup_exact dedup_minhash_lsh dedup_simhash_pairs dedup_embedding_cosine "
        "ann_cosine_topk ann_ivf_topk text_tfidf_top_terms text_bm25_topk "
        "text_quality_score multimodal_decode_stats llm_dsir_importance_weights "
        "udf_grouped_agg").split(),
    "commit_stream": (
        "delta_merge_upsert_read delta_cdc_feed_commits delta_multi_table_tx "
        "stream_cdc_chunk_store stream_scd2_apply stream_ivf_index_append").split(),
}
#: generator seed of the query workloads' tables. The tables are the same for
#: every run, as the fixed sf testdata would be; ``--seed`` sets the query
#: order. Their cost depends on the data (dedup_minhash_lsh took 0.75-1.06 s
#: on tables of different seeds), so a per-seed table would add that spread
#: to every comparison.
TABLE_SEED = 0
#: the tables each query workload reads, staged before its first pass
QUERY_TABLES = {
    "analytics": ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"],
    "llm_ops": ["lineitem", "documents", "embeddings"],
    "commit_stream": ["nation", "customer", "orders", "events", "documents", "embeddings"],
}

#: the reference's default backfill range; pages per month window
BACKFILL_RANGE = ("2021-01-01", "2023-12-31")
BACKFILL_PAGES = {"bench": 50, "tiny": 2}
BACKFILL_TINY_RANGE = ("2021-01-01", "2021-02-28")
IMAGE_BASE, POSTER_SIZE = "https://image.tmdb.org/t/p/", "w500"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class PassResult:
    def __init__(self):
        self.seconds = 0.0
        #: (operation, latency) of each operation that passed its check, in run order
        self.ops: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.layers: Counter = Counter()

    @property
    def samples(self) -> list[float]:
        return [latency for _, latency in self.ops]


class QueryWorkload:
    """Registry queries on generated tables staged through the io layer."""

    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.name = name
        self.names = QUERY_WORKLOADS[name]
        self.src = os.path.join(ctx.work, "source")
        self.staged = os.path.join(ctx.work, "staged")
        self.source_bytes, self.source_rows = gen.write_tables(
            TABLE_SEED, ctx.scale, self.src, QUERY_TABLES[name])
        self.expected: dict[str, tuple] = {}
        self.stored_bytes = 0
        self.files = 0

    def stage(self) -> float:
        """Copy every source table into ~nproc Parquet files through
        ``io.load_table`` / ``io.write_parquet``; returns seconds."""
        from tmdb_movie_data_pipeline_spark.io import load_table, write_parquet

        shutil.rmtree(self.staged, ignore_errors=True)
        t0 = time.perf_counter()
        for t in QUERY_TABLES[self.name]:
            df = load_table(self.ctx.spark, self.src, t).repartition(self.ctx.nproc)
            write_parquet(df, os.path.join(self.staged, f"{t}.parquet"))
        seconds = time.perf_counter() - t0
        self.stored_bytes, self.files = tree_size(self.staged, suffix=".parquet")
        return seconds

    def prepare(self) -> None:
        from tmdb_movie_data_pipeline_spark.registry import all_oracles

        self.expected = check.oracle_fingerprints(
            self.staged, QUERY_TABLES[self.name], self.names, all_oracles(), self.ctx.nproc)

    def stored_ratio(self) -> float:
        return self.stored_bytes / self.source_bytes

    def run_pass(self, order: list[str], label: str) -> PassResult:
        from tmdb_movie_data_pipeline_spark.registry import all_queries

        ctx, res = self.ctx, PassResult()
        queries = all_queries()
        check_s = 0.0
        t_pass = time.perf_counter()
        for name in order:
            res.attempted += 1
            pdf, latency = None, None
            with ctx.tracer.span("op", f"{label}/{name}", query=name):
                try:
                    pdf, latency = self._op(queries[name], name, res.layers)
                except Exception:
                    log(f"{name} raised:\n{traceback.format_exc()}")
            t0 = time.perf_counter()
            ok = pdf is not None and ctx.corrupt(check.fingerprint(pdf)) == self.expected[name]
            check_s += time.perf_counter() - t0
            if not ok:
                if pdf is not None:
                    log(f"{name}: result differs from its oracle")
                res.failed += 1
                continue
            res.ops.append((name, latency))
        res.seconds = time.perf_counter() - t_pass - check_s
        return res

    def _op(self, build_fn, name: str, layers: Counter):
        """The build call, then the action that returns rows. Traced runs also
        count jobs per phase and read the plan that ran."""
        ctx = self.ctx
        groups = ctx.groups
        gid = groups.start("build") if groups else None
        with ctx.tracer.span("build", query=name) as build:
            df = build_fn(ctx.spark, self.staged)
        if groups:
            layers["build.jobs"] += groups.counts(gid)["jobs"]
            gid = groups.start("exec")
        with ctx.tracer.span("exec", query=name) as action:
            pdf = df.toPandas()
        latency = build.seconds + action.seconds
        if groups:
            groups.stop()
            with ctx.tracer.span("plan_metrics", query=name):
                c = groups.counts(gid)
                qe = df._jdf.queryExecution()
                for k, v in tr.plan_phases(qe).items():
                    layers[f"plan.{k}"] += v
                for k, v in tr.executed_plan_stats(qe).items():
                    layers[f"exec.{k}"] += v
            layers["build.s"] += build.seconds
            layers["exec.s"] += action.seconds
            for k in ("jobs", "stages", "tasks"):
                layers[f"exec.{k}"] += c[k]
        return pdf, latency


class BackfillWorkload:
    """``pipeline.run_backfill`` over generated TMDB discover pages."""

    name = "backfill"

    def __init__(self, ctx):
        from tmdb_movie_data_pipeline_spark.sources.rest import month_windows

        self.ctx = ctx
        lo, hi = BACKFILL_RANGE if ctx.scale == "bench" else BACKFILL_TINY_RANGE
        self.range = (lo, hi)
        self.windows = month_windows(lo, hi)
        self.pages = BACKFILL_PAGES[ctx.scale]
        self.fixtures = os.path.join(ctx.work, "fixtures")
        self.pages_rows: list[dict] = []
        self.source_rows = 0
        self.source_bytes = 0
        self.expected: dict = {}
        self.stored_bytes = 0
        self.files = 0
        self.n_pass = 0

    def stage(self) -> float:
        """Generate the discover pages the paged_rest source reads."""
        shutil.rmtree(self.fixtures, ignore_errors=True)
        t0 = time.perf_counter()
        got = gen.write_pages(self.ctx.seed, self.windows, self.pages, self.fixtures)
        seconds = time.perf_counter() - t0
        self.pages_rows, self.source_bytes = got["rows"], got["bytes"]
        self.source_rows = len(self.pages_rows)
        return seconds

    def prepare(self) -> None:
        self.expected = check.expected_backfill(
            self.pages_rows, gen.GENRES, IMAGE_BASE, POSTER_SIZE)

    def stored_ratio(self) -> float:
        return self.stored_bytes / self.source_bytes

    def _kwargs(self, out: str) -> dict:
        return dict(date_from=self.range[0], date_to=self.range[1], out_dir=out,
                    checkpoint_path=out + ".checkpoint.json", genre_map=gen.GENRES,
                    image_base=IMAGE_BASE, poster_size=POSTER_SIZE,
                    source_options={"fixture_dir": self.fixtures})

    def run_pass(self, order: list[str], label: str) -> PassResult:
        """A cold run into a fresh output dir, then a resume run against the
        same checkpoint, which must find no month left to run."""
        from tmdb_movie_data_pipeline_spark.pipeline import run_backfill

        ctx, res = self.ctx, PassResult()
        self.n_pass += 1
        out = os.path.join(ctx.work, "backfill", f"pass{self.n_pass}")
        kw = self._kwargs(out)
        check_s = 0.0
        t_pass = time.perf_counter()
        for op in ("cold", "resume"):
            res.attempted += 1
            got = None
            gid = ctx.groups.start(op) if ctx.groups else None
            with ctx.tracer.span("op", f"{label}/{op}", op=op) as span:
                try:
                    got = run_backfill(ctx.spark, **kw)
                except Exception:
                    log(f"backfill {op} raised:\n{traceback.format_exc()}")
            if ctx.groups:
                ctx.groups.stop()
            t0 = time.perf_counter()
            if op == "cold":
                want = {"months_run": len(self.windows), "rows": self.expected["month_rows"]}
                ok = got is not None and ctx.corrupt(got) == want
                ok = ok and check.read_master(f"{out}/master_parquet") == self.expected["master"]
                if ok:
                    self.stored_bytes, self.files = tree_size(out)
                    res.ops.append((op, span.seconds))
                    if ctx.groups:
                        c = ctx.groups.counts(gid)
                        res.layers["pipeline.backfill_s"] += span.seconds
                        res.layers["pipeline.jobs"] += c["jobs"]
                        res.layers["pipeline.tasks"] += c["tasks"]
                        res.layers["pipeline.shuffle_bytes"] += ctx.groups.shuffle_write_bytes(
                            c["stage_ids"])
            else:
                ok = ctx.corrupt(got) == {"months_run": 0, "rows": 0}
            check_s += time.perf_counter() - t0
            if not ok:
                log(f"backfill {op}: unexpected result {got}")
                res.failed += 1
        res.seconds = time.perf_counter() - t_pass - check_s
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return res


def tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``, skipping Spark's
    ``_SUCCESS`` markers and ``.crc`` side files."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")) or n.endswith(".crc") or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def make(ctx, name: str):
    return BackfillWorkload(ctx) if name == "backfill" else QueryWorkload(ctx, name)
