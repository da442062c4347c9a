"""native_query_mix: distinct native Druid queries against a published
events table. No query repeats and no materialization exists, so the
planner, segment pruning, the functions layer and Spark execution do all
the work and the result cache does none."""

from __future__ import annotations

import time

import numpy as np

import gen
from harness import JobStats, OpLog, error_class, mean, median, scan_output_rows
from oracle import Oracle

DS = "events"
ROUND_S = 9.0  # nominal seconds of one query round


def setup(ctx, rep_dir: str) -> dict:
    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    rng = np.random.default_rng([ctx.seed, 1])
    ev = gen.events(rng)
    publish_segments(ctx.spark.createDataFrame(ev), rep_dir, DS, "v0001",
                     sort_by=["country"], stats_columns=["country", "host"],
                     bloom_columns=["user_id"])
    return {"root": rep_dir, "events": ev}


def instrument(ctx) -> None:
    from druid_hadoop_utils_spark import api
    from druid_hadoop_utils_spark.functions import aggregators, filters, granularity
    from druid_hadoop_utils_spark.plans import planner
    from druid_hadoop_utils_spark.sources import cache, materialize, segments

    t = ctx.tracer
    t.instrument(api, "druid_query", "api.druid_query")
    t.instrument(planner, "load", "plans.planner.load")
    t.instrument(filters, "filter_to_column", "functions.filter_to_column")
    t.instrument(granularity, "granularity_expr", "functions.granularity_expr")
    t.instrument(aggregators, "group_aggregate", "functions.group_aggregate")
    t.instrument(aggregators, "post_agg_expr", "functions.post_agg_expr")
    t.instrument(segments, "list_manifests", "sources.segments.list_manifests",
                 on_return=lambda rec, r: rec.__setitem__("n", len(r)))
    t.instrument(cache, "cached_druid_query", "sources.cache.cached_druid_query")
    t.instrument(materialize, "rewrite_groupby_from_states", "sources.materialize.rewrite",
                 on_return=lambda rec, r: rec.__setitem__("hit", r is not None))


class QueryRunner:
    """Runs one native query as one op: compile (``api.druid_query``
    returns the lazy DataFrame), then collect every result row. In a
    traced run it also records the Spark jobs launched while compiling,
    the tasks of the op, the pruning ratio and the scan-to-result row
    ratio, at the op's boundary."""

    def __init__(self, ctx, root: str):
        self.ctx = ctx
        self.root = root
        self.jobs = JobStats(ctx.spark) if ctx.tracer.enabled else None
        self.n = 0

    def __call__(self, q: dict, kind: str, log: OpLog, fetch=None):
        from druid_hadoop_utils_spark import api

        ctx, t = self.ctx, self.ctx.tracer
        self.n += 1
        op_id = f"{kind}-{self.n}"
        t.op = op_id
        if self.jobs:
            self.jobs.begin(op_id)
        rows, df, compile_jobs = None, None, 0
        t0 = time.perf_counter()
        try:
            with t.span("op"):
                df = (fetch or api.druid_query)(ctx.spark, self.root, q)
                if self.jobs:
                    compile_jobs = len(self.jobs.jobs(op_id))
                with t.span("spark.exec"):
                    rows = [r.asDict() for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - every failure is counted, by class
            log.record(kind, (time.perf_counter() - t0) * 1e3, False, error_class(e),
                       shape=q["queryType"])
            return None
        finally:
            if self.jobs:
                self.jobs.end()
        log.record(kind, (time.perf_counter() - t0) * 1e3, True, shape=q["queryType"])
        if self.jobs:
            job_ids = self.jobs.jobs(op_id)
            t.count("spark.compile_jobs", compile_jobs)
            t.count("spark.tasks", self.jobs.tasks(job_ids))
            t.count("spark.rows_scanned", scan_output_rows(df))
            t.count("spark.rows_returned", len(rows))
            if q["queryType"] != "segmentMetadata" and any(
                    s["op"] == op_id and s["name"] == "api.druid_query" for s in t.spans):
                self._pruning(q)
        return rows

    def _pruning(self, q: dict) -> None:
        """Segments the pruner keeps ÷ segments visible in the interval,
        from the same table state the query just read."""
        from druid_hadoop_utils_spark.plans.pruning import explain_pruning

        segs = explain_pruning(self.root, q["dataSource"], q["intervals"], q.get("filter"))
        self.ctx.tracer.count("pruning.visible", len(segs))
        self.ctx.tracer.count("pruning.scanned", sum(1 for s in segs if not s["pruned"]))


def run(ctx) -> dict:
    state = ctx.setup(setup)
    root, ev = state["root"], state["events"]
    runner = QueryRunner(ctx, root)

    # warm-up (part of set-up): one query of every shape from a seed
    # stream the timed loop never draws from — codegen, the parquet
    # footer cache and the sketch functions are warm before timing
    warm = gen.NativeQueries(np.random.default_rng([ctx.seed, 2]), ev, DS)
    for q in warm.round():
        runner(q, "warmup", OpLog())
    ctx.setup_done()

    instrument(ctx)
    stream = gen.NativeQueries(np.random.default_rng([ctx.seed, 3]), ev, DS)
    log = OpLog()
    results = []
    t_start = time.perf_counter()
    for _ in range(ctx.units(ROUND_S)):
        for q in stream.round():
            rows = runner(q, "query", log)
            results.append((q, rows))
    loop_s = time.perf_counter() - t_start
    ctx.tracer.restore()

    oracle = Oracle(ev)
    mismatches = []
    for q, rows in results:
        if rows is not None:
            err = oracle.check(q, rows)
            if err:
                mismatches.append(err)
    oracle.close()

    lat = log.ms("query")
    e2e = {
        "query_p50_ms": ctx.p50(lat), "query_p90_ms": ctx.p90(lat),
        "ops_per_s": len(lat) / loop_s,
    }
    return ctx.finish(log, e2e, mismatches, layers=query_layers(ctx), samples={"query": len(lat)})


def query_layers(ctx) -> dict:
    """The per-layer metrics the native-query path shares with the
    live table's cache misses."""
    t = ctx.tracer
    c = t.counts
    lm = t.durations_ms("sources.segments.list_manifests")
    listed = [s.get("n", 0) for s in t.spans if s["name"] == "sources.segments.list_manifests"]
    return {
        "api.compile_ms": median(t.self_ms("api.druid_query")),
        "plans.planner.load_ms": median(t.self_ms("plans.planner.load")),
        "spark.compile_jobs": mean(c.get("spark.compile_jobs", [])),
        "plans.pruning.scan_ratio": (sum(c.get("pruning.scanned", []))
                                     / max(1, sum(c.get("pruning.visible", [])))),
        "spark.rows_scanned_per_row_returned": (sum(c.get("spark.rows_scanned", []))
                                                / max(1, sum(c.get("spark.rows_returned", [])))),
        "functions.build_ms": median(t.outermost_ms_per_op("functions.")),
        "spark.exec_ms": median(t.durations_ms("spark.exec")),
        "spark.tasks_per_op": mean(c.get("spark.tasks", [])),
        "sources.segments.list_manifests_ms": median(lm),
        "sources.segments.manifests_listed": mean(listed),
    }

