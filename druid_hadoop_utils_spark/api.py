"""Druid-query-shaped convenience API over the engine primitives.

The reference exposes rows to a host engine (Pig/MR) where users hand-write
grouping and aggregation (reference: druid_exporter.pig:6-17). Druid itself
serves three canonical query shapes over the same data — ``timeseries``,
``topN``, ``groupBy`` — so a reference user migrating here gets them as
one-call DataFrame builders. Each is: engine ``load()`` (pruned scan +
filter + granularity) → ``group_aggregate`` (two-phase aggs + post-aggs) →
shape-specific ordering/limit. All Catalyst; a topN plans as partial
top-k per partition (TakeOrderedAndProject), not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.functions.aggregators import (
    cardinality_fields,
    group_aggregate,
)
from druid_hadoop_utils_spark.functions.filters import _is_array, filter_to_column
from druid_hadoop_utils_spark.plans.planner import load
from druid_hadoop_utils_spark.plans.spec import LoadSpec


def _base(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    interval,
    data_source: str | None,
    time_column: str,
) -> tuple[DataFrame, LoadSpec]:
    if not isinstance(spec, LoadSpec):
        spec = LoadSpec.from_json(spec, data_source=data_source, interval=interval)
    df = load(spark, source, spec, interval=interval, data_source=data_source,
              time_column=time_column)
    return df, spec


def _bucket_frame(spark: SparkSession, granularity, intervals) -> DataFrame:
    """One row per granularity bucket start covering the (condensed)
    intervals — Catalyst ``sequence`` + ``explode``, no driver loop over
    buckets.

    timeZone period granularities enumerate in the LOCAL wall-time frame
    (truncate → sequence → to_utc_timestamp): stepping UTC instants by a
    fixed INTERVAL diverges from the tz-aware ``granularity_expr`` values
    after a DST transition, which would silently drop those buckets'
    aggregated rows in the fill join."""
    from druid_hadoop_utils_spark.functions.granularity import (
        bucket_step_sql,
        granularity_expr,
    )
    from druid_hadoop_utils_spark.intervals import parse_intervals

    ivs = parse_intervals(intervals)
    tz = granularity.get("timeZone") if isinstance(granularity, dict) else None
    step = F.expr(bucket_step_sql(granularity))
    parts = []
    for iv in ivs:
        start = F.lit(iv.start.replace(tzinfo=None)).cast("timestamp")
        # sequence stop is inclusive: stop just short of the exclusive end
        stop = F.lit(iv.end.replace(tzinfo=None)).cast("timestamp") - F.expr(
            "INTERVAL 1 MICROSECOND"
        )
        first = granularity_expr(granularity, start)
        if tz:
            # same from_utc → trunc → to_utc composition as granularity_expr,
            # so enumerated starts join exactly against truncated data rows
            seq = F.sequence(
                F.from_utc_timestamp(first, tz), F.from_utc_timestamp(stop, tz),
                step,
            )
            parts.append(
                spark.range(1)
                .select(F.explode(seq).alias("__local"))
                .select(F.to_utc_timestamp("__local", tz).alias("__time"))
            )
        else:
            parts.append(
                spark.range(1).select(
                    F.explode(F.sequence(first, stop, step)).alias("__time")
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# aggregator types whose Druid "empty bucket" value is zero; everything
# else (min/max, sketches) fills as null
_ZERO_FILL_TYPES = {"count", "longSum", "doubleSum"}


def timeseries(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
    skip_empty_buckets: bool = False,
) -> DataFrame:
    """Druid ``timeseries``: one row per granularity bucket, ordered by
    time. Dimensions in the spec are ignored for grouping (per Druid).

    Druid's default is ``skipEmptyBuckets: false`` — buckets of the query
    interval with no rows still appear, count/sum aggregators zero-filled
    (min/max/sketches null) and post-aggs evaluated over the fill. Pass
    ``skip_empty_buckets=True`` for the data-buckets-only behavior."""
    if not isinstance(spec, LoadSpec):
        spec = LoadSpec.from_json(spec, data_source=data_source, interval=interval)
    df, _ = _base(spark, source, spec, interval, data_source, time_column)
    # post-aggs evaluate AFTER the empty-bucket fill (Druid computes them
    # over the filled aggregate row); aggregators the post-aggs consume as
    # sketches must stay non-finalized through the fill
    from druid_hadoop_utils_spark.functions.aggregators import (
        agg_inner,
        agg_out_name,
        finalize_sketch_columns,
        sketch_post_agg_refs,
    )

    refs = sketch_post_agg_refs(post_aggregations)
    out = group_aggregate(df, [], aggregations, None, no_finalize=refs)
    gran = spec.granularity
    # dict granularities (duration/period) always have bucket structure;
    # only the named NONE/ALL shapes skip the fill (and a dict must not hit
    # set membership — unhashable)
    has_buckets = not (
        isinstance(gran, str) and gran.upper() in {"NONE", "ALL"}
    )
    if not skip_empty_buckets and has_buckets:
        ivs = spec.intervals if interval is None else interval
        buckets = _bucket_frame(spark, gran, ivs)
        out = buckets.join(out, "__time", "left")
        fills = []
        for a in aggregations:
            name = agg_out_name(a)
            if agg_inner(a).get("type") in _ZERO_FILL_TYPES:
                fills.append(F.coalesce(F.col(name), F.lit(0)).alias(name))
            else:
                fills.append(F.col(name))
        out = out.select("__time", *fills)
    if post_aggregations:
        from druid_hadoop_utils_spark.functions.aggregators import post_agg_expr

        # sketch-finalizing post-aggs over a filled (null-state) bucket
        # read 0.0 — Druid's empty-sketch estimate
        posts = []
        for p in post_aggregations:
            e = post_agg_expr(p)
            if p.get("type") in {"thetaSketchEstimate", "hyperUniqueCardinality"}:
                e = F.coalesce(e, F.lit(0.0)).alias(p.get("name") or p["type"])
            posts.append(e)
        out = out.select("*", *posts)
    # the broker step: referenced sketch columns re-finalize in the output
    out = finalize_sketch_columns(out, aggregations, refs)
    return out.orderBy("__time")


def _topn_ordering(metric, dimension: str) -> tuple[list, Column | None]:
    """Druid 0.9 TopNMetricSpec → (orderBy columns, optional pre-filter).

    A bare string means ``{"type": "numeric", "metric": <string>}``.
    ``numeric`` ranks by the aggregation descending; ``lexicographic``
    ranks by the dimension ascending starting after ``previousStop``
    (Druid's pagination cursor); ``inverted`` flips the ordering of the
    spec it wraps."""
    if isinstance(metric, str):
        metric = {"type": "numeric", "metric": metric}
    mtype = metric.get("type", "numeric")
    if mtype == "numeric":
        return [(metric["metric"], False), (dimension, True)], None
    if mtype == "lexicographic":
        stop = metric.get("previousStop")
        flt = F.col(dimension) > F.lit(stop) if stop is not None else None
        return [(dimension, True)], flt
    if mtype == "inverted":
        inner, flt = _topn_ordering(metric["metric"], dimension)
        return [(name, not asc) for name, asc in inner], flt
    raise ValueError(f"unknown topN metric spec: {metric!r}")


def topn(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    dimension: str,
    metric,
    threshold: int,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
) -> DataFrame:
    """Druid ``topN``: leaderboard of ``dimension`` values within each
    granularity bucket (ties broken by dimension value for determinism).
    ``dimension`` may be a name or a DimensionSpec; ``metric`` a name or a
    TopNMetricSpec (numeric / lexicographic / inverted)."""
    from pyspark.sql import Window

    df, _ = _base(spark, source, spec, interval, data_source, time_column)
    df, (dimension,) = _apply_dimension_specs(
        df, [_normalize_dimension_spec(dimension)]
    )
    out = group_aggregate(df, [dimension], aggregations, post_aggregations)
    pairs, pre_filter = _topn_ordering(metric, dimension)
    order = [F.col(n).asc() if asc else F.col(n).desc() for n, asc in pairs]
    if pre_filter is not None:
        out = out.where(pre_filter)
    w = Window.partitionBy("__time").orderBy(*order)
    return (
        out.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= threshold)
        .drop("__rank")
        .orderBy("__time", *order)
    )


def _apply_dimension_specs(df: DataFrame, specs: list[dict]) -> tuple[DataFrame, list[str]]:
    """Materialize DimensionSpec outputs (renames / extractionFns) as
    columns; returns the frame plus the output group-key names. Extraction
    over a multi-value dimension maps per element (Druid semantics)."""
    from pyspark.sql.types import ArrayType

    from druid_hadoop_utils_spark.functions.filters import _extraction_fn

    for d in specs:
        fn, src, out = d["extractionFn"], d["dimension"], d["outputName"]
        if fn is not None:
            col = F.col(src)
            if isinstance(df.schema[src].dataType, ArrayType):
                df = df.withColumn(out, F.transform(col, lambda v: _extraction_fn(fn, v)))
            else:
                df = df.withColumn(out, _extraction_fn(fn, col))
        elif out != src:
            df = df.withColumn(out, F.col(src))
    return df, [d["outputName"] for d in specs]


def _normalize_dimension_spec(d) -> dict:
    """Druid DimensionSpec: a bare string, {"type": "default", "dimension",
    "outputName"}, or {"type": "extraction", ..., "extractionFn"}."""
    if isinstance(d, str):
        return {"dimension": d, "outputName": d, "extractionFn": None}
    dtype = d.get("type", "default")
    if dtype not in {"default", "extraction"}:
        raise ValueError(f"unknown dimensionSpec type: {dtype!r}")
    fn = d.get("extractionFn") if dtype == "extraction" else None
    if dtype == "extraction" and fn is None:
        raise ValueError(f"extraction dimensionSpec needs extractionFn: {d!r}")
    return {
        "dimension": d["dimension"],
        "outputName": d.get("outputName") or d["dimension"],
        "extractionFn": fn,
    }


def having_to_column(spec: dict) -> Column:
    """Druid 0.9 HavingSpec → boolean Column over the aggregated output:
    equalTo / greaterThan / lessThan on aggregation names, dimSelector on
    group keys, and / or / not combinators."""
    htype = spec.get("type")
    if htype == "and":
        out = having_to_column(spec["havingSpecs"][0])
        for h in spec["havingSpecs"][1:]:
            out = out & having_to_column(h)
        return out
    if htype == "or":
        out = having_to_column(spec["havingSpecs"][0])
        for h in spec["havingSpecs"][1:]:
            out = out | having_to_column(h)
        return out
    if htype == "not":
        return ~F.coalesce(having_to_column(spec["havingSpec"]), F.lit(False))
    if htype in {"equalTo", "greaterThan", "lessThan"}:
        col = F.col(spec["aggregation"]).cast("double")
        val = F.lit(float(spec["value"]))
        return {"equalTo": col == val, "greaterThan": col > val,
                "lessThan": col < val}[htype]
    if htype == "dimSelector":
        return F.col(spec["dimension"]) == F.lit(spec["value"])
    raise ValueError(f"unknown havingSpec type: {htype!r}")


def _apply_limit_spec(df: DataFrame, spec: dict) -> DataFrame:
    """Druid 0.9 DefaultLimitSpec: ordered columns + limit."""
    if spec.get("type", "default") != "default":
        raise ValueError(f"unknown limitSpec type: {spec!r}")
    orders = []
    for c in spec.get("columns", []):
        if isinstance(c, str):
            orders.append(F.col(c).asc())
        else:
            col = F.col(c["dimension"])
            orders.append(
                col.desc() if c.get("direction", "ascending").lower()
                in {"descending", "desc"} else col.asc()
            )
    if orders:
        df = df.orderBy(*orders)
    if spec.get("limit") is not None:
        df = df.limit(int(spec["limit"]))
    return df


def druid_query(
    spark: SparkSession,
    source,
    query: dict | str,
    data_source: str | None = None,
    time_column: str = "__time",
) -> DataFrame:
    """Execute a complete Druid query JSON — the native query shape a Druid
    0.9.x client would POST (queryType timeseries | topN | groupBy |
    select/scan), compiled to one DataFrame plan.

    Recognized fields: ``queryType``, ``dataSource``, ``intervals``,
    ``granularity``, ``dimension(s)`` (strings or default/extraction
    DimensionSpecs), ``filter``, ``aggregations``, ``postAggregations``,
    ``metric`` + ``threshold`` (topN), ``having``, ``limitSpec``,
    ``limit``.
    """
    import json as _json

    q = _json.loads(query) if isinstance(query, str) else dict(query)
    qtype = q.get("queryType")
    ds = data_source or q.get("dataSource")
    if isinstance(ds, dict):
        # Druid query dataSource ({"type": "query", "query": {...}}): run
        # the inner query first and scan its result — Druid 0.9's nested
        # groupBy. Compiles to ONE Catalyst plan (the inner DataFrame is
        # lazy), so the optimizer sees through both layers. Note the outer
        # intervals filter the INNER result's bucket timestamps — an
        # ALL-granularity inner buckets to the epoch, so give the outer an
        # interval that covers it (or use a bucketing inner granularity).
        if ds.get("type") == "union":
            # Druid union dataSource ({"type": "union", "dataSources":
            # ["a", "b", ...]}, broker-side concatenation in 0.9): union
            # the member tables' raw segment scans (allowMissingColumns —
            # same evolving-dimension semantics as multi-version segment
            # reads) and run the query once over the concatenation. Each
            # member scan stays partition/interval-pruned; the union is
            # lazy, so Catalyst pushes the query's filters into EVERY
            # member scan.
            names = ds.get("dataSources") or []
            if not names:
                raise ValueError("union dataSource needs dataSources: [...]")
            if not isinstance(source, str):
                raise ValueError(
                    "union dataSource requires a managed table root path"
                )
            from druid_hadoop_utils_spark.intervals import (
                Interval as _Iv,
                parse_intervals as _pi,
            )
            from druid_hadoop_utils_spark.plans.planner import _scan_segments

            u_ivs = _pi(q.get("intervals") or q.get("interval")
                        or ["0001-01-01T00:00:00/9999-12-31T00:00:00"])
            span = _Iv(u_ivs[0].start, u_ivs[-1].end)
            from druid_hadoop_utils_spark.sources.fs import get_fs
            from druid_hadoop_utils_spark.sources.segments import MANIFEST_DIR

            _fs = get_fs(source)
            missing = [n for n in names if not _fs.isdir(
                _fs.join(source, n, MANIFEST_DIR))]
            if missing:
                # a member that was never created is a query error (a
                # typo'd name must not silently contribute nothing)
                raise FileNotFoundError(
                    f"union dataSource member(s) do not exist: {missing}")
            parts = []
            for n in names:
                try:
                    # dim_filter gives each member the same manifest
                    # stats/bloom segment pruning the single-datasource
                    # path gets; AllSegmentsPruned subclasses
                    # FileNotFoundError, so a fully-pruned member falls
                    # through to the contributes-nothing branch below
                    parts.append(_scan_segments(
                        spark, source, n, span,
                        dim_filter=q.get("filter"),
                        as_of=q.get("asOf")))
                except FileNotFoundError:
                    # Druid union semantics: an EXISTING member with no
                    # visible segments in the interval contributes
                    # nothing — it does not fail the query
                    continue
            if not parts:
                # every member is empty in the interval: defer to the
                # single-datasource machinery, which produces the same
                # correctly-shaped empty (or zero-filled) result a plain
                # datasource query would
                return druid_query(
                    spark, source, dict(q, dataSource=names[0]),
                    data_source=None, time_column=time_column,
                )
            merged = parts[0]
            for p in parts[1:]:
                merged = merged.unionByName(p, allowMissingColumns=True)
            return druid_query(
                spark, merged, dict(q, dataSource="union"),
                data_source=None, time_column="__time",
            )
        if ds.get("type") != "query":
            raise ValueError(f"unknown dataSource spec: {ds!r}")
        inner = druid_query(spark, source, ds["query"],
                            data_source=data_source, time_column=time_column)
        inner_ds = ds["query"].get("dataSource")
        return druid_query(
            spark, inner, dict(q, dataSource=None),
            data_source=inner_ds if isinstance(inner_ds, str) else None,
            time_column="__time",
        )
    from druid_hadoop_utils_spark.intervals import parse_intervals

    # Druid native queries carry an "intervals" LIST; condensed and OR-ed
    # at plan time (the reference took only one — DruidInputFormat.java:87).
    # dataSourceMetadata is the one 0.9 query type with no intervals field:
    # it inspects the whole datasource (eternity).
    raw_intervals = q.get("intervals") or q.get("interval")
    if raw_intervals is None and qtype == "dataSourceMetadata":
        raw_intervals = ["0001-01-01T00:00:00/9999-12-31T00:00:00"]
    interval = parse_intervals(raw_intervals)
    if not interval:
        raise ValueError("at least one interval is required")

    raw_dims = q.get("dimensions") or ([q["dimension"]] if q.get("dimension") else [])
    dim_specs = [_normalize_dimension_spec(d) for d in raw_dims]
    # scan-input names; __time is always carried by the scan, so an
    # extraction dimension over it (e.g. timeFormat) must not re-declare it
    dims = [d["dimension"] for d in dim_specs if d["dimension"] != "__time"]
    aggs = q.get("aggregations") or []
    posts = q.get("postAggregations") or []

    # columns the scan must carry: every aggregated field, plus any
    # dimension referenced by a filtered-aggregator's inner filter
    def filter_dims(node: dict | None) -> list[str]:
        if not node:
            return []
        out = []
        if node.get("dimension"):
            out.append(node["dimension"])
        for child in node.get("fields", []) or []:
            out += filter_dims(child)
        if node.get("field"):
            out += filter_dims(node["field"])
        return out

    needed: list[dict] = []
    seen = set(dims) | {"__time"}

    def need(name: str, typ: str) -> None:
        if name and name not in seen:
            seen.add(name)
            needed.append({"name": name, "type": typ})

    for a in aggs:
        inner = a.get("aggregator", a)
        need(inner.get("fieldName"), "double")
        if inner.get("type") == "cardinality":
            for fname2 in cardinality_fields(inner):
                need(fname2, "string")
        if a.get("type") == "filtered":
            for d in filter_dims(a.get("filter")):
                need(d, "string")
    spec = LoadSpec.from_json({
        "granularity": q.get("granularity", "ALL" if qtype == "timeseries" else "NONE"),
        "dimensions": dims,
        "metrics": needed,
        "filter": q.get("filter"),
        "asOf": q.get("asOf"),
    }, data_source=ds, interval=interval)

    if qtype in {"select", "scan"}:
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        # select: pagingSpec.threshold caps rows, descending flips time
        # order; scan: "order" ascending/descending (none by default)
        order = q.get("order")
        if q.get("descending") or (isinstance(order, str) and
                                   order.lower() == "descending"):
            df = df.orderBy(F.desc("__time"))
        elif isinstance(order, str) and order.lower() == "ascending":
            df = df.orderBy("__time")
        threshold = (q.get("pagingSpec") or {}).get("threshold") or q.get("limit")
        if threshold:
            df = df.limit(int(threshold))
        return df
    if qtype == "search":
        # Druid search query: dimension values matching a search query
        # spec, with per-value counts (Druid 0.9's SearchQuery)
        search_dims = q.get("searchDimensions") or dims
        if not search_dims:
            raise ValueError("search query needs searchDimensions")
        sq = q.get("query", {"type": "insensitive_contains", "value": ""})
        scan_spec = LoadSpec.from_json({
            "granularity": "NONE",
            "dimensions": search_dims,
            "metrics": [],
            "filter": q.get("filter"),
            "asOf": q.get("asOf"),
        }, data_source=ds, interval=interval)
        df = load(spark, source, scan_spec, interval=interval, data_source=ds,
                  time_column=time_column)
        parts = []
        for d in search_dims:
            matches = df.where(
                filter_to_column({"type": "search", "dimension": d, "query": sq},
                                 df.schema)
            )
            col = F.explode(F.col(d)) if _is_array(df.schema, d) else F.col(d)
            parts.append(
                matches.select(F.lit(d).alias("dimension"), col.alias("value"))
                .groupBy("dimension", "value").agg(F.count("*").alias("count"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        limit = int(q.get("limit", 1000))
        # Druid 0.9 SearchSortSpec: lexicographic (default) or strlen
        sort = (q.get("sort") or {}).get("type", "lexicographic")
        if sort == "lexicographic":
            order = [F.col("value"), F.col("dimension")]
        elif sort == "strlen":
            order = [F.length("value"), F.col("value"), F.col("dimension")]
        else:
            raise ValueError(f"unknown search sort type: {sort!r}")
        return out.orderBy(*order).limit(limit)
    if qtype == "timeBoundary":
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        bound = q.get("bound")  # Druid 0.9: minTime | maxTime | absent=both
        aggs_tb = []
        if bound in (None, "minTime"):
            aggs_tb.append(F.min("__time").alias("minTime"))
        if bound in (None, "maxTime"):
            aggs_tb.append(F.max("__time").alias("maxTime"))
        if not aggs_tb:
            raise ValueError(f"unknown timeBoundary bound: {bound!r}")
        return df.agg(*aggs_tb)
    if qtype == "dataSourceMetadata":
        # Druid 0.9 DataSourceMetadataQuery: the most recent ingested event
        # timestamp (DataSourceMetadataResultValue.maxIngestedEventTime).
        # One partial+final max — no shuffle of data rows, scan prunes to
        # the time column only.
        df = load(spark, source, spec, interval=interval, data_source=ds,
                  time_column=time_column)
        return df.agg(F.max("__time").alias("maxIngestedEventTime"))
    if qtype == "segmentMetadata":
        # driver-side manifest inventory as a DataFrame (the reference's
        # metadata surface, SURVEY.md §2.1 S1)
        from druid_hadoop_utils_spark.sources.segments import (
            list_manifests,
            resolve_visible_windows,
        )

        if not isinstance(source, str):
            raise ValueError("segmentMetadata needs a table root path")
        analysis = q.get("analysisTypes") or []
        if analysis:
            # Druid's column-analysis mode: one row per column over the
            # VISIBLE data of the interval — cardinality (exact
            # count_distinct) and/or min/max, computed by ONE aggregate
            # over the pruned scan (metadata-only inventory is the
            # default no-analysisTypes shape below)
            unknown = set(analysis) - {"cardinality", "minmax"}
            if unknown:
                raise ValueError(
                    f"unsupported analysisTypes: {sorted(unknown)} "
                    "(supported: cardinality, minmax)"
                )
            from druid_hadoop_utils_spark.intervals import Interval
            from druid_hadoop_utils_spark.plans.planner import (
                _interval_pred,
                _scan_segments,
            )

            span = Interval(interval[0].start, interval[-1].end)
            df = _scan_segments(spark, source, ds, span, as_of=q.get("asOf"))
            # normalize the stored time column exactly as load() does
            # before comparing against timestamp literals (epoch-nanos
            # bigint from imported segments, or TIMESTAMP_NTZ)
            ttype = dict(df.dtypes).get("__time")
            if ttype == "bigint":
                df = df.withColumn(
                    "__time", F.timestamp_micros(F.expr("`__time` DIV 1000"))
                )
            elif ttype == "timestamp_ntz":
                df = df.withColumn("__time", F.col("__time").cast("timestamp"))
            pred = _interval_pred(interval[0], F.col("__time"))
            for iv2 in interval[1:]:
                pred = pred | _interval_pred(iv2, F.col("__time"))
            df = df.where(pred)
            # MapType has no ordering/equality in Spark: skip those
            # columns rather than failing the whole analysis
            dtypes = dict(df.dtypes)
            cols = [c for c in df.columns
                    if c != "__time" and not dtypes[c].startswith("map<")]
            schema_str = ("column string, type string, cardinality long, "
                          "min_value string, max_value string")
            if not cols:
                return spark.createDataFrame([], schema_str)
            aggs = []
            for c in cols:
                if "cardinality" in analysis:
                    aggs.append(F.count_distinct(F.col(c)).alias(f"__card_{c}"))
                if "minmax" in analysis:
                    aggs += [
                        F.min(c).cast("string").alias(f"__min_{c}"),
                        F.max(c).cast("string").alias(f"__max_{c}"),
                    ]
            row = df.agg(*aggs).collect()[0]
            out_rows = [
                (
                    c, dtypes[c],
                    row[f"__card_{c}"] if "cardinality" in analysis else None,
                    row[f"__min_{c}"] if "minmax" in analysis else None,
                    row[f"__max_{c}"] if "minmax" in analysis else None,
                )
                for c in cols
            ]
            return spark.createDataFrame(out_rows, schema_str)
        manifests = list_manifests(source, ds, as_of=q.get("asOf"))
        visible = {
            w.manifest
            for iv in interval
            for w in resolve_visible_windows(manifests, iv)
        }
        import json as _j

        rows = [
            (m.identifier, m.interval.iso(), m.version, m.shard_num, m.path,
             m in visible, _j.dumps(m.stats, sort_keys=True) if m.stats else None)
            for m in manifests
        ]
        return spark.createDataFrame(
            rows, "identifier string, interval string, version string, "
                  "shard_num int, path string, visible boolean, "
                  "column_stats string"
        )
    if qtype == "timeseries":
        skip = bool((q.get("context") or {}).get("skipEmptyBuckets", False))
        out = timeseries(spark, source, spec, aggs, posts,
                         interval=interval, data_source=ds,
                         time_column=time_column, skip_empty_buckets=skip)
        # Druid 0.9 timeseries "descending": true — newest bucket first
        if q.get("descending"):
            out = out.orderBy(F.desc("__time"))
        return out
    if qtype == "topN":
        return topn(spark, source, spec, dimension=q["dimension"],
                    metric=q["metric"], threshold=int(q["threshold"]),
                    aggregations=aggs, post_aggregations=posts,
                    interval=interval, data_source=ds, time_column=time_column)
    if qtype == "groupBy":
        out = None
        ctx = q.get("context") or {}
        use_mat = ctx.get("useMaterialized", True)
        # transparent rollup rewrite (sources/materialize.py): when the
        # source is a managed table root with a materialized rollup
        # covering this query, answer from per-segment states — raw
        # segments never scan. Any coverage miss falls back silently to
        # the raw path; context {"useMaterialized": false} opts out,
        # {"useMaterialized": "require"} makes a miss an error (tests /
        # latency-critical callers that must not fall back to a scan).
        # dim_specs are NORMALIZED dicts (dimension/outputName/extractionFn
        # — no "type" key): a spec is rewrite-eligible when it is a plain
        # pass-through default dim (no extractionFn, output under the raw
        # name — rewrite_groupby_from_states returns columns under raw
        # dimension names) and not the __time pseudo-column.
        if (use_mat and isinstance(source, str) and isinstance(ds, str)
                and q.get("asOf") is None  # states reflect the CURRENT
                # timeline; a time-travel query must re-resolve from the
                # as-of manifests, so it always takes the raw path
                and all(d["extractionFn"] is None
                        and d["outputName"] == d["dimension"]
                        and d["dimension"] != "__time" for d in dim_specs)):
            from druid_hadoop_utils_spark.sources.materialize import (
                rewrite_groupby_from_states,
            )

            out = rewrite_groupby_from_states(
                spark, source, ds, dims, aggs,
                q.get("granularity", "NONE"), interval,
                dim_filter=q.get("filter"), post_aggregations=posts,
                require=(use_mat == "require"),
            )
        elif use_mat == "require":
            raise ValueError(
                "useMaterialized=require needs a managed table root, a "
                "plain dataSource, default dimension specs, and no asOf "
                "(materialized states cover only the current timeline)"
            )
        if out is None:
            out = groupby(spark, source, spec, raw_dims, aggs, posts,
                          interval=interval, data_source=ds,
                          time_column=time_column)
        if q.get("having"):
            out = out.where(having_to_column(q["having"]))
        if q.get("limitSpec"):
            out = _apply_limit_spec(out, q["limitSpec"])
        if q.get("limit"):
            out = out.limit(int(q["limit"]))
        return out
    raise ValueError(f"unsupported queryType: {qtype!r}")


def groupby(
    spark: SparkSession,
    source,
    spec: LoadSpec | dict | str,
    dimensions: list[str] | None,
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    interval=None,
    data_source: str | None = None,
    time_column: str = "__time",
    explode_multivalue: bool = True,
) -> DataFrame:
    """Druid ``groupBy``: group on (bucket, dims). Multi-value dimensions
    explode so each value groups separately (Druid semantics,
    SURVEY.md §7.4), unless ``explode_multivalue=False``. Dimensions may
    be bare names or Druid DimensionSpecs (default / extraction)."""
    from pyspark.sql.types import ArrayType

    df, spec_obj = _base(spark, source, spec, interval, data_source, time_column)
    raw = dimensions if dimensions is not None else spec_obj.dimensions
    df, dims = _apply_dimension_specs(df, [_normalize_dimension_spec(d) for d in raw])
    if explode_multivalue:
        for d in dims:
            if isinstance(df.schema[d].dataType, ArrayType):
                df = df.withColumn(d, F.explode_outer(d))
    return group_aggregate(df, dims, aggregations, post_aggregations)
