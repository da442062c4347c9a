"""The default-ON materialized-rollup rewrite inside ``api.druid_query``
(api.py → materialize.rewrite_groupby_from_states) and the
timeline-stamped result cache (sources/cache.py) — both shipped in
round 5 without tests; this file is their correctness contract.

Rewrite: every test asserts either (a) rewrite-hit ≡ raw-scan
bit-equality on a DIMENSIONED groupBy (the ADVICE r5 bug: the guard
never fired for dimensioned queries), or (b) one specific refusal
reason falls back to the raw scan (and raises under
``useMaterialized: "require"``).

Cache: hit ≡ miss equality (rows AND schema), publish invalidates,
vacuum dry-run/apply, refresh overwrite, and the concurrent-filler race
(two writers, one entry survives, result readable).
"""

import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.sources.cache import (
    cached_druid_query,
    query_cache_key,
    vacuum_result_cache,
)
from druid_hadoop_utils_spark.sources.ingest import publish_segments
from druid_hadoop_utils_spark.sources.materialize import (
    RewriteMiss,
    materialize_aggs,
)

AGGS = [
    {"type": "count", "name": "n"},
    {"type": "doubleSum", "name": "total", "fieldName": "value"},
]


def _events(spark, days, per_day=24):
    rows = [
        Row(ts=datetime(2024, 1, d, h),
            event_type=("click" if h % 2 else "view"),
            value=float(d * 100 + h), user_id=(d * 7 + h) % 11)
        for d in days for h in range(per_day)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def table(spark, tmp_path):
    """Managed table with a DAY/event_type rollup materialized."""
    root = str(tmp_path / "root")
    publish_segments(_events(spark, [1, 2, 3]), root, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    materialize_aggs(spark, root, "ev", "daily", ["event_type"], AGGS,
                     granularity="DAY", time_column="__time")
    return root


def _q(**over):
    q = {
        "queryType": "groupBy",
        "dataSource": "ev",
        "intervals": ["2024-01-01/2024-01-04"],
        "granularity": "DAY",
        "dimensions": ["event_type"],
        "aggregations": list(AGGS),
    }
    q.update(over)
    return q


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- rewrite


def test_rewrite_answers_dimensioned_groupby(spark, table):
    """The ADVICE r5 medium: 'require' must SUCCEED for a plain
    default-dim query covered by the rollup — and equal the raw scan."""
    hit = druid_query(spark, table, _q(context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, _q(context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)
    assert hit.schema == raw.schema
    assert len(_rows(hit)) == 6  # 3 days x 2 event types


def test_rewrite_hit_never_scans_raw_segments(spark, table):
    """On a hit the plan reads state parquets only — every input file is
    under _materialized/, none under the raw segment dirs."""
    hit = druid_query(spark, table, _q(context={"useMaterialized": "require"}))
    files = hit.inputFiles()
    assert files and all("_materialized" in f for f in files)
    raw = druid_query(spark, table, _q(context={"useMaterialized": False}))
    assert any("_materialized" not in f for f in raw.inputFiles())


def test_rewrite_is_default_on_for_managed_tables(spark, table, monkeypatch):
    """No context at all: the rewrite still answers (default ON), proven
    by poisoning the raw groupby path."""
    import druid_hadoop_utils_spark.api as api_mod

    def boom(*a, **k):
        raise AssertionError("raw groupby path reached despite coverage")

    monkeypatch.setattr(api_mod, "groupby", boom)
    out = druid_query(spark, table, _q())
    assert len(_rows(out)) == 6


def test_rewrite_dimensionless_query_still_covered(spark, table):
    hit = druid_query(spark, table, _q(
        dimensions=[], context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, _q(
        dimensions=[], context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)


def test_rewrite_coarser_granularity_nests(spark, table):
    """DAY states answer an ALL-granularity... no — ALL states refuse;
    DAY states DO answer a MONTH query (whole-bucket union)."""
    hit = druid_query(spark, table, _q(
        granularity="MONTH", context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, _q(
        granularity="MONTH", context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)


def test_rewrite_with_dim_filter(spark, table):
    flt = {"type": "selector", "dimension": "event_type", "value": "click"}
    hit = druid_query(spark, table, _q(
        filter=flt, context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, _q(
        filter=flt, context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)
    assert len(_rows(hit)) == 3


def test_rewrite_opt_out(spark, table, monkeypatch):
    """useMaterialized=False must NOT touch the rewrite."""
    import druid_hadoop_utils_spark.sources.materialize as mat

    def boom(*a, **k):
        raise AssertionError("rewrite attempted despite opt-out")

    monkeypatch.setattr(mat, "rewrite_groupby_from_states", boom)
    out = druid_query(spark, table, _q(context={"useMaterialized": False}))
    assert len(_rows(out)) == 6


# each refusal reason: silent fallback equals raw; require raises


REFUSALS = {
    "misaligned_interval": _q(intervals=["2024-01-01T06:00:00/2024-01-04"]),
    "finer_granularity": _q(granularity="HOUR"),
    "metric_filter": _q(filter={"type": "bound", "dimension": "value",
                                "lower": "150", "ordering": "numeric"}),
    "unmaterialized_dim": _q(dimensions=["event_type", "user_id"]),
    "unmaterialized_agg": _q(aggregations=AGGS + [
        {"type": "longMax", "name": "umax", "fieldName": "user_id"}]),
}


@pytest.mark.parametrize("reason", sorted(REFUSALS))
def test_refusal_falls_back_and_requires_raise(spark, table, reason):
    q = REFUSALS[reason]
    with pytest.raises(RewriteMiss):
        druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    silent = druid_query(spark, table, q)
    raw = druid_query(spark, table, dict(q, context={"useMaterialized": False}))
    assert _rows(silent) == _rows(raw)
    assert silent.schema == raw.schema


def test_refusal_partial_overshadow(spark, table):
    """A v2 segment covering half of Jan-2 makes Jan-2's v1 segment
    partially visible — rewrite must refuse (states are whole-segment)."""
    from druid_hadoop_utils_spark.sources.segments import write_segment

    half = _events(spark, [2], per_day=6).withColumnRenamed("ts", "__time")
    write_segment(half, table, "ev",
                  "2024-01-02T00:00:00/2024-01-02T12:00:00", version="v2")
    with pytest.raises(RewriteMiss):
        druid_query(spark, table, _q(context={"useMaterialized": "require"}))
    silent = druid_query(spark, table, _q())
    raw = druid_query(spark, table, _q(context={"useMaterialized": False}))
    assert _rows(silent) == _rows(raw)


def test_refusal_stale_states_after_publish(spark, table):
    """A new whole-day publish without materialize_aggs catch-up: the new
    segment has no state file — refuse, fall back, stay correct."""
    publish_segments(_events(spark, [4]), table, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    q = _q(intervals=["2024-01-01/2024-01-05"])
    with pytest.raises(RewriteMiss):
        druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    silent = druid_query(spark, table, q)
    raw = druid_query(spark, table, dict(q, context={"useMaterialized": False}))
    assert _rows(silent) == _rows(raw)
    # catch up → covered again
    materialize_aggs(spark, table, "ev", "daily", ["event_type"], AGGS,
                     granularity="DAY", time_column="__time")
    hit = druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    assert _rows(hit) == _rows(raw)


def test_require_rejects_extraction_and_renamed_dims(spark, table):
    """Extraction fns and renamed outputs are ineligible at the API guard
    (rewrite returns raw-named columns) — 'require' raises ValueError."""
    renamed = _q(dimensions=[{"type": "default", "dimension": "event_type",
                              "outputName": "et"}],
                 context={"useMaterialized": "require"})
    with pytest.raises(ValueError):
        druid_query(spark, table, renamed)
    extracted = _q(dimensions=[{"type": "extraction", "dimension": "event_type",
                                "outputName": "event_type",
                                "extractionFn": {"type": "upper"}}],
                   context={"useMaterialized": "require"})
    with pytest.raises(ValueError):
        druid_query(spark, table, extracted)
    # and both still answer correctly through the raw path by default
    out = druid_query(spark, table, _q(
        dimensions=[{"type": "default", "dimension": "event_type",
                     "outputName": "et"}]))
    assert "et" in out.columns and len(_rows(out)) == 6


def test_rewrite_post_agg_over_count_schema_parity(spark, table):
    """Post-aggregations derived from counts must match the raw path in
    VALUES and SCHEMA (incl. nullability): the count-coalesce runs before
    post-agg evaluation on the rewrite path."""
    q = _q(postAggregations=[{
        "type": "arithmetic", "name": "n_per_2", "fn": "/",
        "fields": [{"type": "fieldAccess", "fieldName": "n"},
                   {"type": "constant", "value": 2.0}],
    }])
    hit = druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, dict(q, context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)
    assert hit.schema == raw.schema


def test_rewrite_sketch_post_agg_finalizes(spark, table):
    """ADVICE r6 high: a sketch aggregator consumed by a post-agg
    (hyperUniqueCardinality) must come back FINALIZED (double estimate)
    on the rewrite path exactly as on the raw path — not as raw binary
    HLL state."""
    aggs = AGGS + [
        {"type": "hyperUnique", "name": "u", "fieldName": "user_id"}
    ]
    materialize_aggs(spark, table, "ev", "daily_hll", ["event_type"],
                     aggs, granularity="DAY", time_column="__time")
    q = _q(
        aggregations=aggs,
        postAggregations=[{
            "type": "arithmetic", "name": "per_user", "fn": "/",
            "fields": [
                {"type": "fieldAccess", "fieldName": "n"},
                {"type": "hyperUniqueCardinality", "fieldName": "u"},
            ],
        }],
    )
    hit = druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    raw = druid_query(spark, table, dict(q, context={"useMaterialized": False}))
    assert dict(hit.dtypes)["u"] == "double"
    assert hit.schema == raw.schema
    assert _rows(hit) == _rows(raw)


def test_multivalue_dim_through_rewrite_and_cache(spark, tmp_path):
    """VERDICT r6 item 5: the rewrite/cache layers meet an ARRAY
    dimension end-to-end. Contract pinned: a groupBy over a multi-value
    dim REFUSES the states rewrite (require mode raises naming the mv
    dim; default mode silently takes the raw explode path and equals the
    no-rewrite result), while the result cache works normally on top —
    it caches the raw result and a publish invalidates it."""
    root = str(tmp_path / "mvroot")
    rows = [
        Row(ts=datetime(2024, 1, d, h),
            tags=(["a", "b"] if h % 2 else ["b"]),
            value=float(d * 10 + h))
        for d in [1, 2] for h in range(6)
    ]
    publish_segments(spark.createDataFrame(rows), root, "mv", version="v1",
                     time_column="ts", bucket="DAY")
    aggs = [{"type": "count", "name": "n"},
            {"type": "doubleSum", "name": "total", "fieldName": "value"}]
    materialize_aggs(spark, root, "mv", "daily", ["tags"], aggs,
                     granularity="DAY", time_column="__time")
    q = {"queryType": "groupBy", "dataSource": "mv",
         "intervals": ["2024-01-01/2024-01-03"], "granularity": "DAY",
         "dimensions": ["tags"], "aggregations": aggs}
    with pytest.raises(RewriteMiss, match="multi-value"):
        druid_query(spark, root, dict(q, context={"useMaterialized": "require"}))
    default = druid_query(spark, root, q)
    raw = druid_query(spark, root, dict(q, context={"useMaterialized": False}))
    assert _rows(default) == _rows(raw)
    assert default.schema == raw.schema
    # Druid mv semantics: the explode path groups by VALUE, so 'b' rows
    # count contributions from both ["a","b"] and ["b"] rows
    assert {r["tags"] for r in raw.collect()} == {"a", "b"}

    filled = cached_druid_query(spark, root, "mv", q)
    assert _rows(filled) == _rows(raw)
    hit = cached_druid_query(spark, root, "mv", q)
    assert _rows(hit) == _rows(raw)
    # a publish flips the timeline → the old entry is never read again:
    # day 1 is overshadowed by a v2 carrying only tag "c", day 2 stays v1
    publish_segments(
        spark.createDataFrame(
            [Row(ts=datetime(2024, 1, 1, 1), tags=["c"], value=999.0)]),
        root, "mv", version="v2", time_column="ts", bucket="DAY")
    refilled = cached_druid_query(spark, root, "mv", q)
    got = {(r["tags"], r["__time"].day) for r in refilled.collect()}
    assert ("c", 1) in got and ("a", 1) not in got and ("a", 2) in got


# ---------------------------------------------------------------- cache


def test_cache_hit_equals_miss_rows_and_schema(spark, table):
    q = _q(context={"useMaterialized": False})
    miss = cached_druid_query(spark, table, "ev", q)
    miss_rows, miss_schema = _rows(miss), miss.schema
    hit = cached_druid_query(spark, table, "ev", q)
    assert _rows(hit) == miss_rows
    assert hit.schema == miss_schema
    direct = druid_query(spark, table, q)
    assert _rows(direct) == miss_rows
    # timestamp columns survive the TIMESTAMP_MICROS pin bit-identically
    assert [f.dataType for f in hit.schema] == [f.dataType for f in direct.schema]


def test_cache_second_call_does_not_execute(spark, table, monkeypatch):
    q = _q()
    cached_druid_query(spark, table, "ev", q)
    import druid_hadoop_utils_spark.sources.cache as cache_mod

    def boom(*a, **k):
        raise AssertionError("query executed on what should be a cache hit")

    monkeypatch.setattr("druid_hadoop_utils_spark.api.druid_query", boom)
    hit = cached_druid_query(spark, table, "ev", q)
    assert len(_rows(hit)) == 6
    assert cache_mod is not None


def test_cache_context_stripped_from_key(spark, table):
    assert (query_cache_key(_q(context={"useMaterialized": False}), "ev")
            == query_cache_key(_q(), "ev"))
    assert (query_cache_key(_q(granularity="MONTH"), "ev")
            != query_cache_key(_q(), "ev"))


def test_cache_publish_invalidates(spark, table):
    q = _q(intervals=["2024-01-01/2024-01-31"])
    first = _rows(cached_druid_query(spark, table, "ev", q))
    publish_segments(_events(spark, [4]), table, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    second = cached_druid_query(spark, table, "ev", q)
    assert len(_rows(second)) == len(first) + 2  # Jan 4 x 2 event types
    assert _rows(second) == _rows(
        druid_query(spark, table, dict(q, context={"useMaterialized": False})))


def test_cache_vacuum_dry_run_and_apply(spark, table):
    q = _q()
    cached_druid_query(spark, table, "ev", q)
    assert vacuum_result_cache(table, "ev") == []  # current stamp kept
    publish_segments(_events(spark, [5]), table, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    cached_druid_query(spark, table, "ev", q)  # fill under new stamp
    would = vacuum_result_cache(table, "ev", dry_run=True)
    assert len(would) == 1 and os.path.isdir(would[0])
    removed = vacuum_result_cache(table, "ev")
    assert removed == would and not os.path.isdir(removed[0])
    # the current-stamp entry still serves
    assert len(_rows(cached_druid_query(spark, table, "ev", q))) == 6


def test_cache_refresh_overwrites(spark, table, monkeypatch):
    """refresh=True must RE-EXECUTE the query (counted via a wrapped
    druid_query) and republish the entry; a plain second call must not."""
    q = _q()
    entry_rows = _rows(cached_druid_query(spark, table, "ev", q))

    calls = {"n": 0}
    real = druid_query

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr("druid_hadoop_utils_spark.api.druid_query", counting)
    assert _rows(cached_druid_query(spark, table, "ev", q)) == entry_rows
    assert calls["n"] == 0  # plain call served from cache
    fresh = cached_druid_query(spark, table, "ev", q, refresh=True)
    assert calls["n"] == 1  # refresh recomputed
    assert _rows(fresh) == entry_rows
    key = query_cache_key(q, "ev")
    from druid_hadoop_utils_spark.sources.segments import timeline_version

    entry = os.path.join(table, "ev", "_result_cache", key,
                         timeline_version(table, "ev"))
    assert os.path.exists(os.path.join(entry, "_SUCCESS"))


def test_cache_concurrent_filler_race(spark, table, monkeypatch):
    """Between our isdir check and os.replace, another filler publishes
    the entry: os.replace raises, we must keep the winner's entry, drop
    our tmp, and return a readable result (ADVICE r5 low)."""
    import druid_hadoop_utils_spark.sources.cache as cache_mod

    q = _q()
    real_replace = os.replace
    raced = {}

    def racing_replace(src, dst):
        if "_result_cache" in dst and os.path.basename(src).startswith(
                os.path.basename(dst)) and not raced:
            raced["hit"] = True
            shutil.copytree(src, dst)  # the other filler wins first
            return real_replace(src, dst)  # now fails ENOTEMPTY
        return real_replace(src, dst)

    monkeypatch.setattr(cache_mod.os, "replace", racing_replace)
    out = cached_druid_query(spark, table, "ev", q)
    assert raced.get("hit")
    assert len(_rows(out)) == 6
    key = query_cache_key(q, "ev")
    kdir = os.path.join(table, "ev", "_result_cache", key)
    tmps = [d for d in os.listdir(kdir) if ".tmp-" in d]
    assert tmps == []  # loser's tmp cleaned up


def test_cache_rejects_non_string_datasource(spark, table):
    with pytest.raises(ValueError, match="plain string dataSource"):
        cached_druid_query(
            spark, table, None,
            _q(dataSource={"type": "union", "dataSources": ["ev"]}))


# ------------------------------------------------- three layers composed


def test_cache_over_rewrite_integration(spark, table, monkeypatch):
    """VERDICT r5 item 7: one end-to-end pass through all three layers.
    (a) the miss-fill answers from materialized states (raw groupby
    poisoned), (b) the second call serves the cache (druid_query
    poisoned), (c) a publish invalidates and the refill matches raw."""
    import druid_hadoop_utils_spark.api as api_mod

    q = _q()
    # (a) miss-fill must take the rewrite: poison the raw path
    def no_raw(*a, **k):
        raise AssertionError("raw scan on a covered miss-fill")

    monkeypatch.setattr(api_mod, "groupby", no_raw)
    filled = _rows(cached_druid_query(spark, table, "ev", q))
    monkeypatch.undo()

    # (b) second call never executes a query at all
    monkeypatch.setattr("druid_hadoop_utils_spark.api.druid_query",
                        lambda *a, **k: (_ for _ in ()).throw(
                            AssertionError("executed on a hit")))
    assert _rows(cached_druid_query(spark, table, "ev", q)) == filled
    monkeypatch.undo()

    # (c) publish invalidates; refill (rewrite now refuses — no state for
    # the new segment — so it falls back) still equals the raw truth
    publish_segments(_events(spark, [4]), table, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    q4 = _q(intervals=["2024-01-01/2024-01-05"])
    refilled = _rows(cached_druid_query(spark, table, "ev", q4))
    raw = _rows(druid_query(spark, table,
                            dict(q4, context={"useMaterialized": False})))
    assert refilled == raw and len(refilled) == 8


@pytest.mark.slow
def test_rewrite_random_query_sweep_never_wrong(spark, table):
    """Soundness property: for RANDOM queries (dims × granularity ×
    intervals × filters × agg subsets), whenever the rewrite ANSWERS it
    must equal the raw scan bit-for-bit; refusing is always allowed,
    answering wrong never is. Catches any missed coverage condition."""
    import random

    rng = random.Random(42)
    grans = ["DAY", "MONTH", "HOUR", "WEEK"]
    intervals = [
        ["2024-01-01/2024-01-04"],
        ["2024-01-02/2024-01-03"],
        ["2024-01-01/2024-01-02", "2024-01-03/2024-01-04"],
        ["2024-01-01T12:00:00/2024-01-03"],     # misaligned
        ["2024-01-01/2024-02-01"],
    ]
    filters = [
        None,
        {"type": "selector", "dimension": "event_type", "value": "click"},
        {"type": "bound", "dimension": "value", "lower": "120",
         "ordering": "numeric"},                 # metric filter → refuse
        {"type": "not", "field": {"type": "selector",
                                  "dimension": "event_type", "value": "view"}},
    ]
    dim_choices = [[], ["event_type"], ["event_type", "user_id"]]
    answered = refused = 0
    for _ in range(40):
        q = _q(
            granularity=rng.choice(grans),
            intervals=rng.choice(intervals),
            dimensions=rng.choice(dim_choices),
            aggregations=rng.sample(AGGS, rng.randint(1, len(AGGS))),
        )
        f = rng.choice(filters)
        if f is not None:
            q["filter"] = f
        try:
            hit = druid_query(spark, table,
                              dict(q, context={"useMaterialized": "require"}))
        except (RewriteMiss, ValueError):
            refused += 1
            continue
        raw = druid_query(spark, table,
                          dict(q, context={"useMaterialized": False}))
        assert _rows(hit) == _rows(raw), f"rewrite answered WRONG for {q}"
        answered += 1
    assert answered >= 5 and refused >= 5  # sweep exercised both paths


def test_compaction_invalidates_cache_and_states_lifecycle(spark, table):
    """Cross-subsystem lifecycle: compaction (a) changes the timeline so
    the cache recomputes and vacuum reclaims the stale entry, (b) leaves
    the rewrite refusing (compacted segments have no states) but FALLING
    BACK correctly, and (c) a materialize catch-up re-covers it."""
    from druid_hadoop_utils_spark.sources.maintenance import compact_segments
    from druid_hadoop_utils_spark.sources.materialize import RewriteMiss

    q = _q()
    before = _rows(cached_druid_query(spark, table, "ev", q))

    compacted = compact_segments(spark, table, "ev",
                                 "2024-01-01/2024-01-04", bucket="DAY")
    assert len(compacted) == 3

    # (b) rewrite refuses for the fresh segments, silent path stays right
    with pytest.raises(RewriteMiss):
        druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    assert _rows(druid_query(spark, table, q)) == before

    # (a) cache recomputes under the new stamp; old entry reclaims
    assert _rows(cached_druid_query(spark, table, "ev", q)) == before
    stale = vacuum_result_cache(table, "ev")
    assert len(stale) == 1

    # (c) catch-up re-covers; require now answers, states only
    materialize_aggs(spark, table, "ev", "daily", ["event_type"], AGGS,
                     granularity="DAY", time_column="__time")
    hit = druid_query(spark, table, dict(q, context={"useMaterialized": "require"}))
    assert _rows(hit) == before
    assert all("_materialized" in f for f in hit.inputFiles())


# ------------------------------------------- driver-side hit path


def _jobs_in(spark, group, fn):
    """(fn's return value, Spark job ids launched while it ran), counted
    with a job group and the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_cache_hit_launches_no_spark_job(spark, table):
    q = _q(context={"useMaterialized": False})
    miss_rows, miss_jobs = _jobs_in(
        spark, "cache-miss", lambda: _rows(cached_druid_query(spark, table, "ev", q)))
    assert miss_jobs  # the fill runs the query: the counter sees jobs
    hit_rows, hit_jobs = _jobs_in(
        spark, "cache-hit", lambda: _rows(cached_druid_query(spark, table, "ev", q)))
    assert hit_rows == miss_rows and len(hit_rows) == 6
    assert hit_jobs == []  # neither schema inference nor the collect


@pytest.fixture()
def typed_table(spark, tmp_path, golden_events):
    """Table with a timestamp, a multi-value array<string> dimension, a
    long metric and a binary HLL sketch column."""
    root = str(tmp_path / "typed")
    publish_segments(golden_events, root, "g", version="v1",
                     time_column="__time", bucket="DAY")
    return root


@pytest.mark.parametrize("query", [
    # raw rows: timestamp, array<string>, long, string, binary sketch
    {"queryType": "scan", "intervals": ["2014-10-22/2014-10-23"]},
    # aggregate over the multi-value dim with the sketch merged, unfinalized
    {"queryType": "groupBy", "intervals": ["2014-10-22/2014-10-23"],
     "granularity": "HOUR", "dimensions": ["host"],
     "aggregations": [{"type": "longSum", "name": "v", "fieldName": "visited_sum"},
                      {"type": "hyperUnique", "name": "u",
                       "fieldName": "unique_hosts"}]},
    # empty result: an interval with no segment
    {"queryType": "groupBy", "intervals": ["2020-01-01/2020-01-02"],
     "granularity": "DAY", "dimensions": ["host"],
     "aggregations": [{"type": "count", "name": "n"}]},
], ids=["scan-typed", "groupby-mv-sketch", "empty"])
def test_cache_hit_equals_miss_per_column_type(spark, typed_table, query):
    q = dict(query, dataSource="g")
    direct = druid_query(spark, typed_table, q)
    miss = cached_druid_query(spark, typed_table, "g", q)
    hit = cached_druid_query(spark, typed_table, "g", q)
    assert hit.schema == miss.schema
    assert _rows(hit) == _rows(miss) == _rows(direct)
    # the only schema change from the direct frame is parquet's
    # all-nullable read
    assert [(f.name, f.dataType.simpleString()) for f in hit.schema] == \
        [(f.name, f.dataType.simpleString()) for f in direct.schema]
    assert all(f.nullable for f in hit.schema)


def test_cache_hit_frame_is_a_snapshot(spark, table):
    """A frame returned by a hit keeps its rows after the entry it came
    from is removed — by ``refresh=True`` or by ``vacuum_result_cache``
    once a publish made the entry stale."""
    q = _q()
    truth = _rows(cached_druid_query(spark, table, "ev", q))
    held = cached_druid_query(spark, table, "ev", q)
    fresh = cached_druid_query(spark, table, "ev", q, refresh=True)
    assert _rows(held) == truth == _rows(fresh)

    held = cached_druid_query(spark, table, "ev", q)
    publish_segments(_events(spark, [2]), table, "ev", version="v2",
                     time_column="ts", bucket="DAY")
    assert len(vacuum_result_cache(table, "ev")) == 1
    assert _rows(held) == truth


def test_cache_entry_over_local_relation_threshold_is_lazy_scan(spark, table):
    """Past ``spark.sql.execution.arrow.localRelationThreshold`` the
    entry is not read on the driver: the call returns a lazy parquet scan
    under the footer schema — no job before the action (no schema
    inference) — with the same rows and schema as the driver read."""
    q = _q()
    small = cached_druid_query(spark, table, "ev", q)
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        big, jobs = _jobs_in(spark, "cache-big",
                             lambda: cached_druid_query(spark, table, "ev", q))
        assert jobs == []
        assert big.inputFiles() and all(
            "_result_cache" in f for f in big.inputFiles())
        assert big.schema == small.schema
        assert _rows(big) == _rows(small)
    finally:
        spark.conf.set(key, prev)
    assert small.inputFiles() == []  # the driver read is a local relation
