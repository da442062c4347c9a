"""api.druid_query: full Druid native-query JSON → DataFrame."""

import json

import pytest
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events", convert_nanos=False)


def test_timeseries_query_json(spark, events):
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01/2024-01-08"],
        "granularity": "DAY",
        "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
        "aggregations": [
            {"type": "doubleSum", "name": "total", "fieldName": "value"},
            {"type": "count", "name": "rows"},
        ],
        "postAggregations": [
            {"type": "arithmetic", "name": "avg", "fn": "/",
             "fields": [{"type": "fieldAccess", "fieldName": "total"},
                        {"type": "fieldAccess", "fieldName": "rows"}]}
        ],
    }
    out = druid_query(spark, events, q, time_column="ts")
    rows = out.collect()
    assert len(rows) == 7
    assert out.columns == ["__time", "total", "rows", "avg"]
    for r in rows:
        assert r.avg == pytest.approx(r.total / r.rows)


def test_topn_query_json(spark, events):
    q = json.dumps({
        "queryType": "topN",
        "dataSource": "events",
        "intervals": ["2024-01-01/2024-01-03"],
        "granularity": "DAY",
        "dimension": "event_type",
        "metric": "total",
        "threshold": 2,
        "aggregations": [{"type": "doubleSum", "name": "total", "fieldName": "value"}],
    })
    out = druid_query(spark, events, q, time_column="ts")
    rows = out.collect()
    assert len(rows) == 4  # 2 buckets × top 2
    per_bucket = {}
    for r in rows:
        per_bucket.setdefault(r["__time"], []).append(r.total)
    assert all(v == sorted(v, reverse=True) for v in per_bucket.values())


def test_groupby_query_json_with_filtered_agg(spark, events):
    q = {
        "queryType": "groupBy",
        "dataSource": "events",
        "intervals": ["2024-01-01/2024-02-01"],
        "granularity": "ALL",
        "dimensions": ["event_type"],
        "aggregations": [
            {"type": "count", "name": "n"},
            # the inner filter references user_id, which is neither a
            # dimension nor an aggregated field - must still be scanned
            {"type": "filtered", "name": "low_user_n",
             "filter": {"type": "bound", "dimension": "user_id",
                        "upper": "10", "alphaNumeric": True},
             "aggregator": {"type": "count", "name": "low_user_n"}},
        ],
    }
    out = druid_query(spark, events, q, time_column="ts")
    rows = {r.event_type: r for r in out.collect()}
    assert len(rows) == 5
    assert all(r.low_user_n <= r.n for r in rows.values())
    assert sum(r.low_user_n for r in rows.values()) > 0


def test_scan_query_json(spark, events):
    q = {"queryType": "scan", "dataSource": "events",
         "intervals": ["2024-01-01/2024-01-02"],
         "dimensions": ["event_type"],
         "aggregations": [{"type": "doubleSum", "name": "x", "fieldName": "value"}],
         "limit": 5}
    out = druid_query(spark, events, q, time_column="ts")
    assert out.count() == 5
    assert "event_type" in out.columns and "value" in out.columns


def test_multiple_intervals_or_together(spark, events):
    """Disjoint interval list = union of per-interval results (and only
    those buckets); a query with no intervals at all is still rejected."""
    multi = druid_query(spark, events, {
        "queryType": "timeseries", "granularity": "DAY",
        "intervals": ["2024-01-01/2024-01-02", "2024-01-03/2024-01-04"],
        "aggregations": [{"type": "count", "name": "n"}]}, time_column="ts")
    rows = {r["__time"].day: r.n for r in multi.collect()}
    assert sorted(rows) == [1, 3]  # day 2 excluded

    for day in (1, 3):
        single = druid_query(spark, events, {
            "queryType": "timeseries", "granularity": "DAY",
            "intervals": [f"2024-01-0{day}/2024-01-0{day + 1}"],
            "aggregations": [{"type": "count", "name": "n"}]}, time_column="ts")
        assert single.first().n == rows[day]

    with pytest.raises(ValueError):
        druid_query(spark, events, {"queryType": "timeseries",
                                    "aggregations": []}, time_column="ts")


def test_groupby_having_and_limit_spec(spark, events):
    base = {
        "queryType": "groupBy", "granularity": "ALL",
        "intervals": ["2024-01-01/2024-02-01"],
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"},
                         {"type": "doubleSum", "name": "total",
                          "fieldName": "value"}],
    }
    plain = {r.event_type: r.n for r in
             druid_query(spark, events, base, time_column="ts").collect()}

    q = dict(base, having={"type": "and", "havingSpecs": [
        {"type": "greaterThan", "aggregation": "n", "value": 10},
        {"type": "not", "havingSpec":
            {"type": "dimSelector", "dimension": "event_type", "value": "error"}},
    ]})
    rows = druid_query(spark, events, q, time_column="ts").collect()
    assert {r.event_type for r in rows} == \
           {t for t, n in plain.items() if n > 10 and t != "error"}

    q = dict(base, limitSpec={"type": "default", "limit": 2,
                              "columns": [{"dimension": "n",
                                           "direction": "descending"},
                                          "event_type"]})
    rows = druid_query(spark, events, q, time_column="ts").collect()
    top2 = sorted(plain.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r.event_type, r.n) for r in rows] == top2


def test_extraction_dimension_spec(spark, events):
    q = {
        "queryType": "groupBy", "granularity": "ALL",
        "intervals": ["2024-01-01/2024-02-01"],
        "dimensions": [{"type": "extraction", "dimension": "event_type",
                        "outputName": "first2",
                        "extractionFn": {"type": "substring", "index": 0,
                                         "length": 2}}],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    rows = {r.first2 for r in druid_query(spark, events, q, time_column="ts").collect()}
    assert rows == {"cl", "er", "pu", "si", "vi"}


def test_cascade_and_string_format_extraction(spark, events):
    # cascade = substring(0,2) then upper then stringFormat "[%s]"
    q = {
        "queryType": "groupBy", "granularity": "ALL",
        "intervals": ["2024-01-01/2024-02-01"],
        "dimensions": [{"type": "extraction", "dimension": "event_type",
                        "outputName": "tag",
                        "extractionFn": {"type": "cascade", "extractionFns": [
                            {"type": "substring", "index": 0, "length": 2},
                            {"type": "upper"},
                            {"type": "stringFormat", "format": "[%s]"},
                        ]}}],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    rows = {r.tag for r in druid_query(spark, events, q, time_column="ts").collect()}
    assert rows == {"[CL]", "[ER]", "[PU]", "[SI]", "[VI]"}


def test_string_format_null_handling(spark):
    from druid_hadoop_utils_spark.functions.filters import _extraction_fn

    df = spark.createDataFrame([("a",), (None,)], "v string")
    out = df.select(
        _extraction_fn({"type": "stringFormat", "format": "<%s>"}, F.col("v")).alias("ns"),
        _extraction_fn({"type": "stringFormat", "format": "<%s>",
                        "nullHandling": "EMPTYSTRING"}, F.col("v")).alias("es"),
        _extraction_fn({"type": "stringFormat", "format": "<%s>",
                        "nullHandling": "RETURNNULL"}, F.col("v")).alias("rn"),
    ).collect()
    got = {(r.ns, r.es, r.rn) for r in out}
    assert got == {("<a>", "<a>", "<a>"), ("<null>", "<>", None)}


def test_topn_with_dimension_spec(spark, events):
    q = {
        "queryType": "topN", "granularity": "ALL",
        "intervals": ["2024-01-01/2024-01-08"],
        "dimension": {"type": "extraction", "dimension": "event_type",
                      "outputName": "e1",
                      "extractionFn": {"type": "upper"}},
        "metric": "n", "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    rows = druid_query(spark, events, q, time_column="ts").collect()
    assert len(rows) == 2
    assert all(r.e1.isupper() for r in rows)


def test_topn_metric_specs(spark, events):
    base = {
        "queryType": "topN",
        "granularity": "ALL",
        "intervals": ["2024-01-01/2024-02-01"],
        "dimension": "event_type",
        "threshold": 2,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    lex = druid_query(spark, events, dict(base, metric={"type": "lexicographic"}),
                      time_column="ts").collect()
    assert [r.event_type for r in lex] == ["click", "error"]
    paged = druid_query(
        spark, events,
        dict(base, metric={"type": "lexicographic", "previousStop": "error"}),
        time_column="ts").collect()
    assert [r.event_type for r in paged] == ["purchase", "signup"]
    # inverted numeric = bottom-N by the aggregation
    inv = druid_query(
        spark, events,
        dict(base, metric={"type": "inverted",
                           "metric": {"type": "numeric", "metric": "n"}}),
        time_column="ts").collect()
    all_counts = sorted(
        r.n for r in druid_query(
            spark, events, dict(base, metric="n", threshold=100),
            time_column="ts").collect()
    )
    assert sorted(r.n for r in inv) == all_counts[:2]
    with pytest.raises(ValueError):
        druid_query(spark, events, dict(base, metric={"type": "mystery"}),
                    time_column="ts")


def test_nested_query_datasource(spark, events):
    # inner granularity DAY: the outer interval applies to the INNER
    # result's bucket timestamps (an ALL-granularity inner buckets to the
    # epoch and would fall outside the outer interval — see druid_query)
    inner = {
        "queryType": "groupBy",
        "dataSource": "events",
        "granularity": "DAY",
        "intervals": ["2024-01-01/2024-01-08"],
        "dimensions": ["user_id"],
        "aggregations": [{"type": "count", "name": "n"}],
    }
    outer = {
        "queryType": "groupBy",
        "dataSource": {"type": "query", "query": inner},
        "granularity": "ALL",
        "intervals": ["2024-01-01/2024-01-08"],
        "dimensions": [],
        "aggregations": [{"type": "count", "name": "active_users"},
                         {"type": "longSum", "name": "total", "fieldName": "n"}],
    }
    out = druid_query(spark, events, outer, time_column="ts")
    total_users = sum(r.active_users for r in out.collect())
    expected = druid_query(spark, events, inner, time_column="ts").count()
    assert total_users == expected
    with pytest.raises(ValueError):
        druid_query(spark, events,
                    dict(outer, dataSource={"type": "table", "name": "x"}),
                    time_column="ts")


def test_unknown_query_type_rejected(spark, events):
    with pytest.raises(ValueError):
        druid_query(spark, events, {"queryType": "mystery",
                                    "intervals": ["2024-01-01/2024-01-02"]},
                    time_column="ts")


def test_search_query_json(spark, events):
    q = {"queryType": "search", "dataSource": "events",
         "intervals": ["2024-01-01/2024-02-01"],
         "searchDimensions": ["event_type"],
         "query": {"type": "insensitive_contains", "value": "UR"}}
    out = druid_query(spark, events, q, time_column="ts")
    rows = {r.value: r for r in out.collect()}
    assert set(rows) == {"purchase"}  # the only type containing 'ur'
    assert rows["purchase"].dimension == "event_type"
    assert rows["purchase"]["count"] > 0


def test_search_query_sort_specs(spark, events):
    q = {"queryType": "search", "intervals": ["2024-01-01/2024-02-01"],
         "searchDimensions": ["event_type"],
         "query": {"type": "insensitive_contains", "value": "e"}}
    lex = [r.value for r in druid_query(spark, events, q, time_column="ts").collect()]
    assert lex == sorted(lex)  # lexicographic is the Druid 0.9 default
    strlen = [r.value for r in druid_query(
        spark, events, dict(q, sort={"type": "strlen"}), time_column="ts"
    ).collect()]
    assert strlen == sorted(strlen, key=lambda v: (len(v), v))


def test_select_paging_and_descending(spark, events):
    q = {"queryType": "select", "intervals": ["2024-01-01/2024-01-08"],
         "dimensions": ["event_type"],
         "aggregations": [{"type": "doubleSum", "name": "x", "fieldName": "value"}],
         "descending": True, "pagingSpec": {"threshold": 4}}
    rows = druid_query(spark, events, q, time_column="ts").collect()
    assert len(rows) == 4
    ts = [r["__time"] for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_time_boundary_bound_field(spark, events):
    base = {"queryType": "timeBoundary", "intervals": ["2024-01-01/2024-02-01"]}
    both = druid_query(spark, events, base, time_column="ts").first()
    lo = druid_query(spark, events, dict(base, bound="minTime"),
                     time_column="ts").first()
    hi = druid_query(spark, events, dict(base, bound="maxTime"),
                     time_column="ts").first()
    assert lo.asDict() == {"minTime": both.minTime}
    assert hi.asDict() == {"maxTime": both.maxTime}


def test_datasource_metadata_query(spark, events):
    # no intervals field: dataSourceMetadata inspects the whole datasource
    q = {"queryType": "dataSourceMetadata", "dataSource": "events"}
    out = druid_query(spark, events, q, time_column="ts")
    assert out.columns == ["maxIngestedEventTime"]
    expected = events.agg(F.max("ts")).first()[0]
    assert out.first().maxIngestedEventTime == expected


def test_time_boundary_query_json(spark, events):
    q = {"queryType": "timeBoundary", "dataSource": "events",
         "intervals": ["2024-01-05/2024-01-07"]}
    row = druid_query(spark, events, q, time_column="ts").first()
    assert row.minTime.day == 5 and row.maxTime.day == 6  # half-open


def test_segment_metadata_query(spark, tmp_path, golden_events):
    from druid_hadoop_utils_spark import write_segment

    base = golden_events.drop("user_host")
    write_segment(base, str(tmp_path), "ds", "2014-10-22/2014-10-23", "v1")
    write_segment(base, str(tmp_path), "ds", "2014-10-22/2014-10-23", "v2")
    q = {"queryType": "segmentMetadata", "dataSource": "ds",
         "intervals": ["2014-10-01/2014-11-01"]}
    rows = {r.version: r for r in druid_query(spark, str(tmp_path), q).collect()}
    assert rows["v2"].visible and not rows["v1"].visible
    assert rows["v1"].column_stats is None  # no stats recorded here


def test_segment_metadata_reports_column_stats(spark, tmp_path, golden_events):
    import json as _j

    from druid_hadoop_utils_spark import write_segment

    base = golden_events.drop("user_host")
    write_segment(base, str(tmp_path), "dstat", "2014-10-22/2014-10-23",
                  "v1", stats_columns=["visited_sum"])
    q = {"queryType": "segmentMetadata", "dataSource": "dstat",
         "intervals": ["2014-10-01/2014-11-01"]}
    row = druid_query(spark, str(tmp_path), q).first()
    assert _j.loads(row.column_stats) == {
        "visited_sum": {"min": 100, "max": 200}}


def test_native_query_over_managed_segment_table(spark, tmp_path, golden_events):
    """druid_query against a segment-table root: the full stack — manifest
    discovery, overshadow, pruned scan, granularity, aggregation — from one
    native-query JSON."""
    from druid_hadoop_utils_spark import write_segment

    base = golden_events.drop("user_host")
    write_segment(base, str(tmp_path), "web", "2014-10-22/2014-10-23", "v1")
    write_segment(base.withColumn("visited_sum", F.col("visited_sum") * 10),
                  str(tmp_path), "web", "2014-10-22/2014-10-23", "v2")
    q = {
        "queryType": "timeseries",
        "dataSource": "web",
        "intervals": ["2014-10-22/2014-10-23"],
        "granularity": "DAY",
        "aggregations": [
            {"type": "longSum", "name": "visits", "fieldName": "visited_sum"},
            {"type": "hyperUnique", "name": "hosts", "fieldName": "unique_hosts"},
        ],
    }
    row = druid_query(spark, str(tmp_path), q).first()
    assert row.visits == 4500  # v2 overshadows v1
    assert row.hosts == 3.0


def test_theta_setop_post_agg_through_native_query(spark, events):
    """thetaSketchSetOp composes through the full native-query JSON path:
    two filtered theta sketches, INTERSECT estimated as a post-agg,
    checked against the exact distinct intersection."""
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01/2025-01-01"],
        "granularity": "ALL",
        "aggregations": [
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "click"},
             "aggregator": {"type": "thetaSketch", "name": "s_click",
                            "fieldName": "user_id", "size": 65536}},
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "event_type",
                        "value": "purchase"},
             "aggregator": {"type": "thetaSketch", "name": "s_purchase",
                            "fieldName": "user_id", "size": 65536}},
        ],
        "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "both",
             "field": {"type": "thetaSketchSetOp", "func": "INTERSECT",
                       "size": 65536,
                       "fields": [
                           {"type": "fieldAccess", "fieldName": "s_click"},
                           {"type": "fieldAccess", "fieldName": "s_purchase"},
                       ]}},
        ],
    }
    got = druid_query(spark, events, q, time_column="ts").first()["both"]
    click = {r.user_id for r in events.where(
        F.col("event_type") == "click").select("user_id").collect()}
    purchase = {r.user_id for r in events.where(
        F.col("event_type") == "purchase").select("user_id").collect()}
    assert got == float(len(click & purchase))


def test_topn_ranks_by_estimate_when_metric_feeds_post_agg(spark):
    """Auto non-finalization must not leak raw sketch state into topN
    ordering: the metric column re-finalizes (broker semantics) before
    the leaderboard sorts."""
    from datetime import datetime

    from pyspark.sql import Row

    rows = [Row(ts=datetime(2024, 1, 1), g="big", u=f"u{i}") for i in range(40)]
    rows += [Row(ts=datetime(2024, 1, 1), g="small", u="u0")] * 5
    df = spark.createDataFrame(rows)
    q = {
        "queryType": "topN", "dataSource": "x",
        "intervals": ["2023-01-01/2025-01-01"], "granularity": "ALL",
        "dimension": "g", "metric": "users", "threshold": 1,
        "aggregations": [
            {"type": "thetaSketch", "name": "users", "fieldName": "u"}],
        "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "est",
             "field": {"type": "fieldAccess", "fieldName": "users"}}],
    }
    got = druid_query(spark, df, q, time_column="ts").collect()
    assert len(got) == 1 and got[0].g == "big"
    assert got[0].users == 40.0  # re-finalized double, not state
    assert got[0].est == 40.0


def test_timeseries_filtered_sketch_aggs_with_fill(spark):
    """Filtered sketch aggregators + DAY granularity: the empty-bucket
    fill must resolve the filtered wrapper's inner name, and sketch
    estimates over filled buckets read 0.0 (Druid's empty sketch)."""
    from datetime import datetime

    from pyspark.sql import Row

    rows = [Row(ts=datetime(2024, 1, 1, 5), et="click", u=f"u{i}")
            for i in range(7)]
    df = spark.createDataFrame(rows)
    q = {
        "queryType": "timeseries", "dataSource": "x",
        "intervals": ["2024-01-01/2024-01-03"], "granularity": "DAY",
        "aggregations": [
            {"type": "filtered",
             "filter": {"type": "selector", "dimension": "et",
                        "value": "click"},
             "aggregator": {"type": "thetaSketch", "name": "s",
                            "fieldName": "u"}}],
        "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "est",
             "field": {"type": "fieldAccess", "fieldName": "s"}}],
    }
    got = {str(r["__time"]): (r.est, r.s) for r in
           druid_query(spark, df, q, time_column="ts").collect()}
    assert got["2024-01-01 00:00:00"] == (7.0, 7.0)
    assert got["2024-01-02 00:00:00"] == (0.0, 0.0)  # filled bucket


def test_groupby_having_over_sketch_referenced_aggregator(spark):
    """having/limitSpec over an aggregator name that a post-agg consumes
    as a sketch: the name re-finalizes to a double first."""
    from datetime import datetime

    from pyspark.sql import Row

    rows = [Row(ts=datetime(2024, 1, 1), g=f"g{i % 3}", u=f"u{i}")
            for i in range(30)]
    df = spark.createDataFrame(rows)
    q = {
        "queryType": "groupBy", "dataSource": "x",
        "intervals": ["2023-01-01/2025-01-01"], "granularity": "ALL",
        "dimensions": ["g"],
        "aggregations": [
            {"type": "thetaSketch", "name": "users", "fieldName": "u"}],
        "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "est",
             "field": {"type": "fieldAccess", "fieldName": "users"}}],
        "having": {"type": "greaterThan", "aggregation": "users",
                   "value": 5},
    }
    got = druid_query(spark, df, q, time_column="ts").collect()
    assert len(got) == 3  # each group has 10 distinct users > 5
    assert all(r.users == 10.0 and r.est == 10.0 for r in got)


def test_unnamed_sketch_agg_field_alias_stays_state_for_post_agg(spark):
    """An aggregator without 'name' aliases to its fieldName; a post-agg
    referencing that alias must still see non-finalized state."""
    from datetime import datetime

    from pyspark.sql import Row

    rows = [Row(ts=datetime(2024, 1, 1), u=f"u{i}") for i in range(12)]
    df = spark.createDataFrame(rows)
    q = {
        "queryType": "timeseries", "dataSource": "x",
        "intervals": ["2023-01-01/2025-01-01"], "granularity": "ALL",
        "aggregations": [{"type": "thetaSketch", "fieldName": "u"}],
        "postAggregations": [
            {"type": "thetaSketchEstimate", "name": "est",
             "field": {"type": "fieldAccess", "fieldName": "u"}}],
    }
    got = druid_query(spark, df, q, time_column="ts").first()
    assert got.est == 12.0


class TestUnionDataSource:
    def _root(self, spark, tmp_path):
        from datetime import datetime

        from druid_hadoop_utils_spark.sources.ingest import publish_segments

        root = str(tmp_path / "union_root")
        rows_a = [(datetime(2024, 1, 1, h), "click", float(h)) for h in range(3)]
        rows_b = [(datetime(2024, 1, 1, h), "view", 10.0 + h) for h in range(2)]
        for name, rows in [("a", rows_a), ("b", rows_b)]:
            df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
            publish_segments(df, root, name, version="v1",
                             time_column="ts", bucket="DAY")
        return root

    def test_union_groupby_concatenates_members(self, spark, tmp_path):
        root = self._root(spark, tmp_path)
        out = druid_query(spark, root, {
            "queryType": "groupBy",
            "dataSource": {"type": "union", "dataSources": ["a", "b"]},
            "granularity": "ALL",
            "dimensions": ["event_type"],
            "aggregations": [
                {"type": "doubleSum", "name": "total", "fieldName": "value"},
                {"type": "count", "name": "n"}],
            "intervals": ["2024-01-01/2024-01-02"],
        }).collect()
        got = {r["event_type"]: (r["total"], r["n"]) for r in out}
        assert got == {"click": (3.0, 3), "view": (21.0, 2)}

    def test_union_member_missing_dimension_reads_null(self, spark, tmp_path):
        # evolving-dimension semantics across MEMBERS: a dim present in
        # one member only reads as NULL rows for the other
        from datetime import datetime

        from druid_hadoop_utils_spark.sources.ingest import publish_segments

        root = str(tmp_path / "union_evolve")
        a = spark.createDataFrame(
            [(datetime(2024, 1, 1), "click", 1.0, "mobile")],
            ["ts", "event_type", "value", "device"])
        b = spark.createDataFrame(
            [(datetime(2024, 1, 1), "view", 2.0)],
            ["ts", "event_type", "value"])
        publish_segments(a, root, "a", version="v1", time_column="ts", bucket="DAY")
        publish_segments(b, root, "b", version="v1", time_column="ts", bucket="DAY")
        out = druid_query(spark, root, {
            "queryType": "groupBy",
            "dataSource": {"type": "union", "dataSources": ["a", "b"]},
            "granularity": "ALL",
            "dimensions": ["device"],
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01/2024-01-02"],
        }).collect()
        got = {r["device"]: r["n"] for r in out}
        assert got == {"mobile": 1, None: 1}

    def test_union_rejects_empty_and_dataframe_source(self, spark, tmp_path, events):
        root = self._root(spark, tmp_path)
        with pytest.raises(ValueError, match="dataSources"):
            druid_query(spark, root, {
                "queryType": "groupBy",
                "dataSource": {"type": "union", "dataSources": []},
                "granularity": "ALL", "dimensions": ["event_type"],
                "aggregations": [{"type": "count", "name": "n"}],
                "intervals": ["2024-01-01/2024-01-02"]})
        with pytest.raises(ValueError, match="managed table root"):
            druid_query(spark, events, {
                "queryType": "groupBy",
                "dataSource": {"type": "union", "dataSources": ["a"]},
                "granularity": "ALL", "dimensions": ["event_type"],
                "aggregations": [{"type": "count", "name": "n"}],
                "intervals": ["2024-01-01/2024-01-02"]})


def test_timeseries_descending_flag(spark, events):
    q = {
        "queryType": "timeseries",
        "dataSource": "events",
        "intervals": ["2024-01-01/2024-01-04"],
        "granularity": "DAY",
        "descending": True,
        "aggregations": [{"type": "count", "name": "n"}],
    }
    out = druid_query(spark, events, q, time_column="ts").collect()
    times = [r["__time"] for r in out]
    assert times == sorted(times, reverse=True)
    assert len(times) == 3


def test_union_member_without_segments_contributes_nothing(spark, tmp_path):
    from datetime import datetime

    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path / "union_partial")
    a = spark.createDataFrame(
        [(datetime(2024, 1, 1), "click", 1.0)], ["ts", "event_type", "value"])
    publish_segments(a, root, "a", version="v1", time_column="ts", bucket="DAY")
    # member "b" only has data OUTSIDE the query interval
    b = spark.createDataFrame(
        [(datetime(2024, 6, 1), "view", 2.0)], ["ts", "event_type", "value"])
    publish_segments(b, root, "b", version="v1", time_column="ts", bucket="DAY")
    out = druid_query(spark, root, {
        "queryType": "groupBy",
        "dataSource": {"type": "union", "dataSources": ["a", "b"]},
        "granularity": "ALL",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01/2024-01-05"],
    }).collect()
    assert {r["event_type"]: r["n"] for r in out} == {"click": 1}


def test_segment_metadata_column_analysis(spark, tmp_path, golden_events):
    from druid_hadoop_utils_spark import write_segment

    base = golden_events.drop("user_host")
    write_segment(base, str(tmp_path), "anl", "2014-10-22/2014-10-23", "v1")
    q = {"queryType": "segmentMetadata", "dataSource": "anl",
         "intervals": ["2014-10-01/2014-11-01"],
         "analysisTypes": ["cardinality", "minmax"]}
    rows = {r.column: r for r in druid_query(spark, str(tmp_path), q).collect()}
    assert rows["visited_sum"].cardinality == 3
    assert rows["visited_sum"].min_value == "100"
    assert rows["visited_sum"].max_value == "200"
    assert rows["host"].cardinality == 3
    # cardinality-only shape leaves min/max null
    q2 = dict(q, analysisTypes=["cardinality"])
    r2 = {r.column: r for r in druid_query(spark, str(tmp_path), q2).collect()}
    assert r2["visited_sum"].cardinality == 3
    assert r2["visited_sum"].min_value is None
    with pytest.raises(ValueError, match="analysisTypes"):
        druid_query(spark, str(tmp_path),
                    dict(q, analysisTypes=["sketches"]))


def test_union_typod_member_fails_loudly(spark, tmp_path):
    from datetime import datetime

    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path / "union_typo")
    a = spark.createDataFrame(
        [(datetime(2024, 1, 1), "click", 1.0)], ["ts", "event_type", "value"])
    publish_segments(a, root, "events", version="v1", time_column="ts",
                     bucket="DAY")
    with pytest.raises(FileNotFoundError, match="do not exist"):
        druid_query(spark, root, {
            "queryType": "groupBy",
            "dataSource": {"type": "union", "dataSources": ["events", "evnts"]},
            "granularity": "ALL", "dimensions": ["event_type"],
            "aggregations": [{"type": "count", "name": "n"}],
            "intervals": ["2024-01-01/2024-01-05"]})


def test_union_all_members_empty_interval_returns_empty(spark, tmp_path):
    from datetime import datetime

    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path / "union_empty")
    for name in ("a", "b"):
        df = spark.createDataFrame(
            [(datetime(2024, 6, 1), "click", 1.0)], ["ts", "event_type", "value"])
        publish_segments(df, root, name, version="v1", time_column="ts",
                         bucket="DAY")
    out = druid_query(spark, root, {
        "queryType": "groupBy",
        "dataSource": {"type": "union", "dataSources": ["a", "b"]},
        "granularity": "ALL", "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "n"}],
        "intervals": ["2024-01-01/2024-01-05"]})
    assert out.count() == 0


def test_segment_metadata_analysis_on_nanos_time_table(spark, tmp_path):
    """analysisTypes must normalize a bigint epoch-nanos __time column the
    way load() does before interval-filtering."""
    from druid_hadoop_utils_spark import write_segment

    ns = 10**9
    base = spark.createDataFrame(
        [(1413936000 * ns, "a", 100), (1413939600 * ns, "b", 200)],
        "__time long, host string, visited_sum long")
    write_segment(base, str(tmp_path), "nanos", "2014-10-22/2014-10-23", "v1",
                  enforce_interval=False)
    q = {"queryType": "segmentMetadata", "dataSource": "nanos",
         "intervals": ["2014-10-01/2014-11-01"],
         "analysisTypes": ["cardinality", "minmax"]}
    rows = {r.column: r for r in druid_query(spark, str(tmp_path), q).collect()}
    assert rows["host"].cardinality == 2
    assert rows["visited_sum"].min_value == "100"


@pytest.mark.parametrize("fields", [
    ["user_id"],
    [{"type": "default", "dimension": "user_id", "outputName": "u"}],
])
def test_cardinality_fields_spelling_equals_field_names(spark, events, fields):
    """Druid 0.10+ spells the cardinality field list ``fields`` (names or
    dimension specs); the scan must carry those columns exactly as it
    does for the 0.9 ``fieldNames`` spelling."""
    def q(agg):
        return {"queryType": "groupBy", "dataSource": "events",
                "intervals": ["2024-01-01/2024-02-01"], "granularity": "DAY",
                "dimensions": ["event_type"],
                "aggregations": [dict({"type": "cardinality", "name": "card"},
                                      **agg)]}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    by_names = druid_query(spark, events, q({"fieldNames": ["user_id"]}),
                           time_column="ts")
    by_fields = druid_query(spark, events, q({"fields": fields}),
                            time_column="ts")
    assert rows(by_fields) == rows(by_names)
    assert by_fields.schema == by_names.schema
    assert rows(by_names)


def test_cardinality_rejects_extraction_dimension_spec(spark, events):
    q = {"queryType": "groupBy", "dataSource": "events",
         "intervals": ["2024-01-01/2024-02-01"], "granularity": "ALL",
         "dimensions": ["event_type"],
         "aggregations": [{"type": "cardinality", "name": "card", "fields": [
             {"type": "extraction", "dimension": "user_id",
              "extractionFn": {"type": "substring", "index": 0, "length": 1}}]}]}
    with pytest.raises(ValueError, match="default dimension specs"):
        druid_query(spark, events, q, time_column="ts")
