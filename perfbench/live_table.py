"""live_table: a dashboard reading a table that keeps changing. Reads go
through the result cache and the materialized rollup; writes append,
merge, update and delete; a change-feed consumer follows every write and
maintenance runs after every append. The result cache, the materialized
rewrite, ingest, DML, the commit lease, the change feed and maintenance
carry the load; the dashboard's working set fits the cache."""

from __future__ import annotations

import time
from collections import Counter

import numpy as np
import pandas as pd

import gen
from harness import OpLog, dir_files, error_class, mean, median, new_bytes
from native_query_mix import QueryRunner, instrument as instrument_queries, query_layers
from oracle import Oracle, _where

DS = "live"
ROLLUP = "dash"
CONSUMER = "bench"
COLS = ["__time", "row_id", "country", "device", "value"]
APPEND_ROWS = 500
MERGE_UPDATES = 20
MERGE_INSERTS = 5
PERIOD_S = 20.0  # nominal seconds of one period (a cycle per write kind)


def setup(ctx, rep_dir: str) -> dict:
    import druid_hadoop_utils_spark as eng
    from druid_hadoop_utils_spark.sources.changes import latest_stamp

    rng = np.random.default_rng([ctx.seed, 1])
    init = pd.concat([gen.live_rows(rng, d, gen.LIVE_ROWS_PER_DAY, d * 100_000)
                      for d in range(gen.LIVE_DAYS)], ignore_index=True)
    eng.publish_segments(ctx.spark.createDataFrame(init), rep_dir, DS, "v0000")
    eng.materialize_aggs(ctx.spark, rep_dir, DS, ROLLUP, ["country", "device"],
                         gen.DASH_AGGS, granularity="DAY")
    # the consumer starts at the published view: its feed then carries
    # exactly the loop's changes
    ckpt = eng.consumer_checkpoint_path(rep_dir, DS, CONSUMER)
    eng.commit_consumed(ckpt, latest_stamp(rep_dir, DS))
    return {"root": rep_dir, "init": init, "ckpt": ckpt}


def instrument(ctx) -> None:
    from druid_hadoop_utils_spark.sources import changes, dml, ingest, lease, maintenance, materialize

    instrument_queries(ctx)
    t = ctx.tracer
    t.instrument(materialize, "catch_up_materialized", "sources.materialize.catch_up")
    t.instrument(ingest, "publish_segments", "sources.ingest.publish_segments")
    t.instrument(dml, "merge_into", "sources.dml.merge")
    t.instrument(dml, "update_where", "sources.dml.update")
    t.instrument(dml, "delete_where", "sources.dml.delete")
    t.instrument_context(lease, "commit_lease", "sources.lease.commit_wait")
    t.instrument(changes, "consume_changes", "sources.changes.consume_changes")
    t.instrument(changes, "commit_consumed", "sources.changes.commit_consumed")
    t.instrument(maintenance, "maintain_table", "sources.maintenance.maintain_table")


def _row_key(r) -> tuple:
    return (int(pd.Timestamp(r["__time"]).value // 1000), int(r["row_id"]),
            r["country"], r["device"], int(r["value"]))


def _counter(frame: pd.DataFrame) -> Counter:
    return Counter(_row_key(r) for r in frame.to_dict("records"))


class Table:
    """The engine table plus its DuckDB replay. Each write goes to the
    engine inside the timed op and to DuckDB after it."""

    def __init__(self, ctx, state: dict, rng: np.random.Generator):
        self.ctx = ctx
        self.root = state["root"]
        self.ckpt = state["ckpt"]
        self.rng = rng
        self.model = Oracle(state["init"])
        self.newest_day = gen.LIVE_DAYS - 1
        self.next_id = 10_000_000
        self.feed_net: Counter = Counter()

    def _recent_day(self) -> int:
        return int(self.rng.integers(max(0, self.newest_day - 6), self.newest_day + 1))

    def _day_iv(self, day: int) -> str:
        start = gen.EPOCH + day * gen.DAY
        return f"{gen.iso(start)}/{gen.iso(start + gen.DAY)}"

    def plan(self, kind: str) -> dict:
        """Draw the write's parameters and the rows it changes (DuckDB,
        outside timing)."""
        con = self.model.con
        if kind == "append":
            day = self.newest_day + 1
            rows = gen.live_rows(self.rng, day, APPEND_ROWS, self.next_id)
            self.next_id += APPEND_ROWS
            return {"kind": kind, "day": day, "rows": rows, "changed": len(rows)}
        day = self._recent_day()
        iv = self._day_iv(day)
        if kind == "merge":
            ids = [r[0] for r in con.execute(
                "SELECT row_id FROM ev WHERE date_trunc('day', __time) = ? ORDER BY row_id",
                [gen.EPOCH + day * gen.DAY]).fetchall()]
            pick = self.rng.choice(ids, min(MERGE_UPDATES, len(ids)), replace=False)
            upd = con.execute(
                f"SELECT * FROM ev WHERE row_id IN ({', '.join(str(int(i)) for i in pick)})").df()
            upd["value"] = self.rng.integers(0, 1_000, len(upd)).astype(np.int64)
            fresh = gen.live_rows(self.rng, day, MERGE_INSERTS, self.next_id)
            self.next_id += MERGE_INSERTS
            rows = pd.concat([upd[COLS], fresh], ignore_index=True)
            rows["__time"] = rows["__time"].astype("datetime64[us]")
            return {"kind": kind, "rows": rows, "changed": len(rows)}
        country = str(self.rng.choice(gen.COUNTRIES[:10]))
        if kind == "update":
            f = {"type": "selector", "dimension": "country", "value": country}
        else:
            f = {"type": "and", "fields": [
                {"type": "selector", "dimension": "country", "value": country},
                {"type": "selector", "dimension": "device", "value": str(self.rng.choice(gen.DEVICES))}]}
        where = _where({"intervals": [iv], "filter": f})
        changed = con.execute(f"SELECT count(*) FROM ev WHERE {where}").fetchone()[0]
        return {"kind": kind, "filter": f, "interval": iv, "where": where, "changed": int(changed)}

    def write(self, p: dict) -> None:
        import druid_hadoop_utils_spark as eng

        spark, root = self.ctx.spark, self.root
        if p["kind"] == "append":
            eng.publish_segments(spark.createDataFrame(p["rows"]), root, DS, f"v{p['day']:04d}")
        elif p["kind"] == "merge":
            eng.merge_into(spark, root, DS, spark.createDataFrame(p["rows"]), ["row_id"])
        elif p["kind"] == "update":
            eng.update_where(spark, root, DS, p["filter"], {"value": "value + 7"},
                             interval=p["interval"])
        else:
            eng.delete_where(spark, root, DS, p["filter"], interval=p["interval"])

    def replay(self, p: dict) -> None:
        con = self.model.con
        if p["kind"] == "append":
            con.register("new_rows", p["rows"])
            con.execute("INSERT INTO ev SELECT * FROM new_rows")
            con.unregister("new_rows")
            self.newest_day = p["day"]
        elif p["kind"] == "merge":
            ids = ", ".join(str(int(i)) for i in p["rows"]["row_id"])
            con.execute(f"DELETE FROM ev WHERE row_id IN ({ids})")
            con.register("new_rows", p["rows"])
            con.execute("INSERT INTO ev SELECT * FROM new_rows")
            con.unregister("new_rows")
        elif p["kind"] == "update":
            con.execute(f"UPDATE ev SET value = value + 7 WHERE {p['where']}")
        else:
            con.execute(f"DELETE FROM ev WHERE {p['where']}")

    def feed(self) -> int:
        import druid_hadoop_utils_spark as eng

        frame, token = eng.consume_changes(self.ctx.spark, self.root, DS, self.ckpt)
        rows = [r.asDict() for r in frame.collect()]
        eng.commit_consumed(self.ckpt, token)
        for r in rows:
            sign = 1 if r["_change_type"] == "insert" else -1
            self.feed_net[_row_key(r)] += sign * int(r["_n"])
        return len(rows)


class Loop:
    """The timed loop's ops. Time the harness spends inside the loop
    (drawing write parameters, replaying writes into DuckDB, checking
    reads, and in a traced run listing files) accumulates in
    ``outside`` and is not part of the loop's measured time."""

    def __init__(self, ctx, table: Table, runner: QueryRunner, fetch, ops: gen.LiveOps):
        self.ctx, self.table, self.runner, self.fetch, self.ops = ctx, table, runner, fetch, ops
        self.log = OpLog()
        self.mismatches: list[str] = []
        self.write_bytes: list[tuple[str, int, int]] = []
        self.maintain_bytes: list[int] = []
        self.feed_rows: list[int] = []
        self.outside = 0.0
        self.writes = 0

    def _timed(self, kind: str, fn, **extra):
        t = self.ctx.tracer
        t.op = f"{kind}-{len(self.log.ops)}"
        t0 = time.perf_counter()
        try:
            with t.span("op"):
                out = fn()
        except Exception as e:  # noqa: BLE001 - counted by class, never retried
            self.log.record(kind, (time.perf_counter() - t0) * 1e3, False, error_class(e), **extra)
            return False, None
        self.log.record(kind, (time.perf_counter() - t0) * 1e3, True, **extra)
        return True, out

    def _files(self):
        return dir_files(self.table.root) if self.ctx.tracer.enabled else None

    def cycle(self) -> bool:
        """One write, its feed read, maintenance when due, then the
        dashboard reads. False when the write failed: the replay can no
        longer follow the table."""
        table = self.table
        t0 = time.perf_counter()
        p = table.plan(self.ops.next_write())
        before = self._files()
        self.outside += time.perf_counter() - t0
        ok, _ = self._timed("write", lambda: table.write(p), sub=p["kind"])
        if not ok:
            self.mismatches.append(f"{p['kind']} failed; the replay cannot follow it")
            return False
        t0 = time.perf_counter()
        if before is not None and p["kind"] != "append":
            self.write_bytes.append((p["kind"], new_bytes(before, self._files()), p["changed"]))
        table.replay(p)
        self.writes += 1
        self.outside += time.perf_counter() - t0

        ok, n = self._timed("feed", table.feed)
        if ok:
            self.feed_rows.append(n)
        if p["kind"] == "append":
            self.maintain()

        templates = gen.dashboard_templates(DS, table.newest_day)
        for i in self.ops.reads():
            q = templates[i]
            rows = self.runner(q, "read", self.log, fetch=self.fetch)
            t0 = time.perf_counter()
            if rows is not None:
                err = table.model.check(q, rows)
                if err:
                    self.mismatches.append(f"read after {self.writes} writes: {err}")
            self.outside += time.perf_counter() - t0
        return True

    def maintain(self) -> None:
        import druid_hadoop_utils_spark as eng

        t0 = time.perf_counter()
        before = self._files()
        self.outside += time.perf_counter() - t0
        self._timed("maintain", lambda: eng.maintain_table(self.ctx.spark, self.table.root, DS))
        t0 = time.perf_counter()
        if before is not None:
            self.maintain_bytes.append(new_bytes(before, self._files()))
        self.outside += time.perf_counter() - t0


def run(ctx) -> dict:
    import druid_hadoop_utils_spark as eng
    from druid_hadoop_utils_spark.sources import cache
    from druid_hadoop_utils_spark.sources.maintenance import table_stats

    state = ctx.setup(setup, keep=1)
    rng = np.random.default_rng([ctx.seed, 3])
    table = Table(ctx, state, rng)
    runner = QueryRunner(ctx, table.root)

    def cached(spark, root, q):
        return cache.cached_druid_query(spark, root, None, q)

    # warm-up (part of set-up), on the spare set-up copy: the loop's
    # first cycle (an append, its feed read, a maintenance pass, then
    # every dashboard template as a miss and as a hit), then one write of
    # each other kind, so every op and read path has run before timing
    spare = Table(ctx, ctx.spare, np.random.default_rng([ctx.seed, 2]))
    warm = QueryRunner(ctx, spare.root)
    for kind in gen.LiveOps.WRITES:
        p = spare.plan(kind)
        spare.write(p)
        spare.replay(p)
        if kind == "append":
            spare.feed()
            eng.maintain_table(ctx.spark, spare.root, DS)
            for q in gen.dashboard_templates(DS, spare.newest_day) * 2:
                warm(q, "warmup", OpLog(), fetch=cached)
    spare.model.close()
    ctx.drop_spare()
    ctx.setup_done()

    instrument(ctx)
    loop = Loop(ctx, table, runner, cached, gen.LiveOps(rng))
    t_start = time.perf_counter()
    for _ in range(ctx.units(PERIOD_S) * gen.LiveOps.CYCLES):
        if not loop.cycle():
            break
    loop_s = time.perf_counter() - t_start - loop.outside
    t, log, mismatches = ctx.tracer, loop.log, loop.mismatches
    t.restore()

    # ---- end-of-loop state and checks (untimed)
    stats = table_stats(table.root, DS)
    disk = sum(dir_files(table.root).values())
    final = eng.load(ctx.spark, table.root, {
        "granularity": "NONE", "dimensions": ["country", "device"],
        "metrics": [{"name": "row_id", "type": "long"}, {"name": "value", "type": "long"}]},
        interval="2000-01-01/2100-01-01", data_source=DS).toPandas()
    engine_rows = _counter(final)
    model_rows = _counter(table.model.con.execute("SELECT * FROM ev").df())
    if engine_rows != model_rows:
        mismatches.append(f"final table: {sum((engine_rows - model_rows).values())} extra, "
                          f"{sum((model_rows - engine_rows).values())} missing rows vs replay")
    diff = Counter(model_rows)
    diff.subtract(_counter(state["init"]))
    diff = {k: v for k, v in diff.items() if v}
    net = {k: v for k, v in table.feed_net.items() if v}
    if net != diff:
        mismatches.append(f"change feed: net {len(net)} rows vs view diff {len(diff)}")
    table.model.close()

    reads = log.ms("read")
    e2e = {
        "query_p50_ms": ctx.p50(reads), "query_p90_ms": ctx.p90(reads),
        "ops_per_s": (len(reads) + len(log.ms("write"))) / loop_s,
        "commit_p50_ms": ctx.p50(log.ms("write")),
        "feed_read_p50_ms": ctx.p50(log.ms("feed")),
        "space_amp": disk / max(1, stats["visible_bytes"]),
    }
    layers = query_layers(ctx)
    layers.update(live_layers(ctx, loop))
    layers["sources.fs.disk_bytes"] = disk
    layers["sources.fs.visible_bytes"] = stats["visible_bytes"]
    return ctx.finish(log, e2e, mismatches, layers=layers,
                      samples={"read": len(reads), "write": len(log.ms("write")),
                               "feed": len(log.ms("feed")), "maintain": len(log.ms("maintain"))})


def live_layers(ctx, loop: "Loop") -> dict:
    t, log = ctx.tracer, loop.log
    write_bytes, maintain_bytes, feed_rows = loop.write_bytes, loop.maintain_bytes, loop.feed_rows
    read_ops = [s for s in t.spans if s["name"] == "op" and str(s["op"]).startswith("read-")]
    missed = {s["op"] for s in t.spans if s["name"] == "api.druid_query"}
    rewrote = {s["op"] for s in t.spans
               if s["name"] == "sources.materialize.rewrite" and s.get("hit")}
    hit_ms = [(s["end"] - s["start"]) * 1e3 for s in read_ops if s["op"] not in missed]
    miss_ms = [(s["end"] - s["start"]) * 1e3 for s in read_ops if s["op"] in missed]
    # appends only: merges and updates publish through the same function
    publish_ms = t.durations_ms("sources.ingest.publish_segments", parent_name="op")
    appended = sum(1 for o in log.ops if o.get("sub") == "append" and o["ok"]) * APPEND_ROWS
    dml_bytes = sum(b for _, b, _ in write_bytes)
    dml_rows = sum(n for _, _, n in write_bytes)
    return {
        "sources.cache.hit_ratio": len(hit_ms) / max(1, len(read_ops)),
        "sources.cache.hit_ms": median(hit_ms),
        "sources.cache.miss_ms": median(miss_ms),
        "sources.materialize.rewrite_ratio": len(rewrote & {s["op"] for s in read_ops})
        / max(1, len(read_ops)),
        "sources.materialize.catch_up_ms": median(t.durations_ms("sources.materialize.catch_up")),
        "sources.ingest.publish_ms": median(publish_ms),
        "sources.ingest.rows_per_s": appended / (sum(publish_ms) / 1e3) if publish_ms else 0.0,
        "sources.dml.merge_ms": median(t.durations_ms("sources.dml.merge")),
        "sources.dml.update_ms": median(t.durations_ms("sources.dml.update")),
        "sources.dml.delete_ms": median(t.durations_ms("sources.dml.delete")),
        "sources.dml.bytes_written_per_row_changed": dml_bytes / max(1, dml_rows),
        "sources.lease.wait_ms": median(t.durations_ms("sources.lease.commit_wait")),
        "sources.changes.read_ms": median(log.ms("feed")),
        "sources.changes.rows_per_commit": mean(feed_rows),
        "sources.maintenance.maintain_ms": median(log.ms("maintain")),
        "sources.maintenance.bytes_rewritten": mean(maintain_bytes),
    }
