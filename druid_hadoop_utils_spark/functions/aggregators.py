"""Druid AggregatorFactory / PostAggregator JSON → Spark Columns.

Re-expresses the reference's two-phase aggregation protocol (SURVEY.md §2.5,
§2.6). The reference wraps Druid factories in Pig UDFs with explicit
partial (bytes) vs final (estimate) variants:

- NonFinalizingAggregatorFactoryAdapter — partial sketch bytes for re-merge
  (reference: NonFinalizingAggregatorFactoryAdapter.java:19-31)
- Long/Float/DoubleFinalizingAggregatorFactoryAdapter — finalizeComputation
  cast to the host type (reference: LongFinalizingAggregatorFactoryAdapter
  .java:17-29 and siblings)
- PostAggregatorAdapter — arithmetic / fieldAccess / constant /
  hyperUniqueCardinality over aggregate outputs (reference:
  PostAggregatorAdapter.java:38-99, druid_exporter.pig:3-4,15)

In Spark the partial/merge split is automatic inside ``agg()`` (Catalyst
plans partial+final HashAggregate), so the adapter layer reduces to: JSON
spec → the right builtin Column expression. Sketch state rides as
``BinaryType`` through the DataSketches ``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate`` family and never crosses into
Python — the per-row Python path would be the 100 TB perf cliff.

Supported factory grammar (Druid 0.9.1, SURVEY.md §2.5 A5): ``count``,
``longSum``, ``doubleSum``, ``longMin``, ``longMax``, ``doubleMin``,
``doubleMax``, ``hyperUnique``, ``cardinality``, ``filtered``.
``javascript`` is deliberately rejected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from druid_hadoop_utils_spark.functions.filters import filter_to_column

# Default HLL precision: lgK=12 is the DataSketches default; the sketch is
# exact (coupon mode) for small cardinalities and ~1.6% RSE beyond.
DEFAULT_LGK = 12

_SIMPLE = {
    "count": lambda c: F.count(c),
    "longSum": lambda c: F.sum(c.cast("long")).cast("long"),
    "doubleSum": lambda c: F.sum(c.cast("double")),
    "longMin": lambda c: F.min(c.cast("long")),
    "longMax": lambda c: F.max(c.cast("long")),
    "doubleMin": lambda c: F.min(c.cast("double")),
    "doubleMax": lambda c: F.max(c.cast("double")),
}

_FINAL_CASTS = {"long": "long", "float": "float", "double": "double"}


def _is_binary(schema: StructType | None, name: str) -> bool:
    if schema is None:
        return False
    try:
        return isinstance(schema[name].dataType, BinaryType)
    except KeyError:
        return False


def _hll_partial(col: Column, is_sketch: bool, lgk: int) -> Column:
    """Partial HLL state: build from raw values, or merge pre-built sketches
    (the reference merges pre-rolled ``hyperUnique`` columns the same way)."""
    if is_sketch:
        return F.hll_union_agg(col, F.lit(True))
    return F.hll_sketch_agg(col, F.lit(lgk))


def cardinality_fields(spec: dict) -> list[str]:
    """Columns a ``cardinality`` aggregator reads, from either spelling of
    its field list: ``fieldNames`` (Druid 0.9) or ``fields`` (0.10+).
    Entries are column names or default dimension specs
    (``{"type": "default", "dimension": ...}``)."""
    out = []
    for f in spec.get("fieldNames") or spec.get("fields") or []:
        if isinstance(f, dict):
            if f.get("type", "default") != "default" or "dimension" not in f:
                raise ValueError(
                    f"cardinality fields take column names or default "
                    f"dimension specs: {f!r}")
            f = f["dimension"]
        out.append(f)
    return out


def agg_expr(
    spec: dict,
    schema: StructType | DataFrame | None = None,
    finalize: bool = True,
    finalize_type: str = "double",
    lgk: int = DEFAULT_LGK,
    _cond: Column | None = None,
) -> Column:
    """Build the aggregate Column for one AggregatorFactory JSON spec.

    ``finalize=False`` is the NonFinalizing path (sketch state as binary,
    re-mergeable); ``finalize=True`` finalizes (HLL → estimate, cast per
    ``finalize_type`` like the reference's Long/Float/Double adapters).
    The result is aliased to ``spec['name']``.
    """
    if isinstance(schema, DataFrame):
        schema = schema.schema
    atype = spec.get("type")
    name = spec.get("name") or spec.get("fieldName") or atype

    if atype == "filtered":
        cond = filter_to_column(spec["filter"], schema)
        inner = dict(spec["aggregator"])
        inner.setdefault("name", spec.get("name", inner.get("name")))
        return agg_expr(inner, schema, finalize, finalize_type, lgk, _cond=cond).alias(
            inner.get("name") or name
        )

    def value(field: str | None) -> Column:
        col = F.col(field) if field else F.lit(1)
        if _cond is not None:
            col = F.when(_cond, col)
        return col

    if atype == "count":
        return F.count(value(None)).alias(name)

    field = spec.get("fieldName")
    if atype in _SIMPLE:
        if field is None:
            raise ValueError(f"{atype} aggregator needs fieldName: {spec!r}")
        return _SIMPLE[atype](value(field)).alias(name)

    if atype in {"longFirst", "longLast", "doubleFirst", "doubleLast"}:
        # Druid 0.9.1 first/last aggregators: the metric value at the
        # min/max __time of the group — Spark's min_by/max_by exactly
        if field is None:
            raise ValueError(f"{atype} aggregator needs fieldName: {spec!r}")
        pick = F.min_by if atype.endswith("First") else F.max_by
        cast = "long" if atype.startswith("long") else "double"
        return pick(value(field).cast(cast), F.col("__time")).alias(name)

    if atype == "hyperUnique":
        if field is None:
            raise ValueError(f"hyperUnique needs fieldName: {spec!r}")
        partial = _hll_partial(value(field), _is_binary(schema, field), lgk)
        if not finalize:
            return partial.alias(name)
        return (
            F.hll_sketch_estimate(partial).cast(_FINAL_CASTS[finalize_type]).alias(name)
        )

    if atype == "cardinality":
        fields = cardinality_fields(spec) or ([field] if field else [])
        if not fields:
            raise ValueError(f"cardinality needs fieldNames: {spec!r}")
        if spec.get("byRow") and len(fields) > 1:
            # tuple cardinality: hash the combined row value
            # \x01 separator keeps value boundaries distinct (('ab','c') vs
            # ('a','bc')); the \x00 null sentinel matters because concat_ws
            # SKIPS nulls, which would collapse (null,'x') with ('x',null)
            combined = F.concat_ws(
                "\x01",
                *[F.coalesce(F.col(f).cast("string"), F.lit("\x00")) for f in fields],
            )
            if _cond is not None:
                combined = F.when(_cond, combined)
            partial = F.hll_sketch_agg(combined, F.lit(lgk))
        else:
            sketches = [F.hll_sketch_agg(value(f), F.lit(lgk)) for f in fields]
            partial = sketches[0]
            for s in sketches[1:]:
                partial = F.hll_union(partial, s)
        if not finalize:
            return partial.alias(name)
        return (
            F.hll_sketch_estimate(partial).cast(_FINAL_CASTS[finalize_type]).alias(name)
        )

    if atype == "thetaSketch":
        # KMV theta-style distinct (functions/theta): array<long> state,
        # mergeable; Druid DataSketches-extension JSON shape {type, name,
        # fieldName, size}. A field that is ALREADY a state (array<long>)
        # merges instead of rebuilding — same convention as hyperUnique.
        from druid_hadoop_utils_spark.functions.theta import (
            DEFAULT_K,
            is_kmv_state,
            kmv_estimate,
            kmv_merge,
            kmv_state,
        )

        if field is None:
            raise ValueError(f"thetaSketch needs fieldName: {spec!r}")
        k = int(spec.get("size", DEFAULT_K))
        try:
            already_state = schema is not None and is_kmv_state(schema[field].dataType)
        except KeyError:
            already_state = False
        partial = (
            kmv_merge(value(field), k) if already_state else kmv_state(value(field), k)
        )
        if not finalize:
            return partial.alias(name)
        return kmv_estimate(partial, k).cast(_FINAL_CASTS[finalize_type]).alias(name)

    if atype in {"approxHistogram", "approxHistogramFold"}:
        # Druid's approximate-histogram extension, re-expressed on the
        # engine's mergeable binned-histogram state (functions/quantiles);
        # the state is self-describing, so `quantile` post-aggs need no
        # side-channel parameters. "Fold" (merging pre-built states) is
        # detected from a struct-typed input column.
        from pyspark.sql.types import StructType as _St

        from druid_hadoop_utils_spark.functions.quantiles import (
            DEFAULT_BINS,
            qhist_merge,
            qhist_quantile,
            qhist_state,
        )

        if field is None:
            raise ValueError(f"{atype} needs fieldName: {spec!r}")
        bins = int(spec.get("numBuckets", DEFAULT_BINS))
        is_state = False
        if schema is not None:
            try:
                is_state = isinstance(schema[field].dataType, _St)
            except KeyError:
                pass
        if is_state:
            partial = qhist_merge(F.col(field), bins)
        else:
            lo = float(spec.get("lowerLimit", 0.0))
            hi = float(spec.get("upperLimit", 1.0))
            partial = qhist_state(value(field), lo, hi, bins)
        if not finalize:
            return partial.alias(name)
        prob = float(spec.get("probability", 0.5))
        return qhist_quantile(partial, prob).alias(name)

    if atype == "javascript":
        raise NotImplementedError(
            "javascript aggregator is not supported; use builtin factories "
            "(SURVEY.md §2.5 A5 — excluded as a non-scalable path)"
        )
    raise ValueError(f"unknown AggregatorFactory type: {atype!r}")


def post_agg_expr(spec: dict) -> Column:
    """Build a Column for one PostAggregator JSON spec, evaluated over the
    output of ``agg()`` (SURVEY.md §2.6 PA3). Aliased to ``spec['name']``
    when present."""
    col = _post_expr(spec)
    name = spec.get("name")
    return col.alias(name) if name else col


def agg_inner(a: dict) -> dict:
    """The aggregator carrying type/fieldName/size — unwraps a
    ``filtered`` wrapper."""
    return a.get("aggregator") or a


def agg_out_name(a: dict) -> str:
    """The output column name an aggregator spec aliases to — mirrors
    ``agg_expr``'s rule (name, else fieldName, else type; filtered
    wrappers prefer the inner name)."""
    inner = agg_inner(a)
    return (
        inner.get("name") or a.get("name")
        or inner.get("fieldName") or inner.get("type")
    )


def finalize_sketch_columns(
    df: DataFrame,
    aggregations: list[dict],
    names: set[str],
) -> DataFrame:
    """Druid's broker step: after post-aggregators have read the raw
    sketch state, the response finalizes the aggregator columns. Replaces
    each named hyperUnique/cardinality/thetaSketch state column with its
    double estimate (empty/null state — an empty filled bucket — reads
    0.0, Druid's empty-sketch estimate)."""
    from druid_hadoop_utils_spark.functions.theta import DEFAULT_K, kmv_estimate

    for a in aggregations:
        name = agg_out_name(a)
        if name not in names:
            continue
        t = agg_inner(a).get("type")
        if t in ("hyperUnique", "cardinality"):
            df = df.withColumn(
                name,
                F.coalesce(
                    F.hll_sketch_estimate(F.col(name)).cast("double"),
                    F.lit(0.0),
                ),
            )
        elif t == "thetaSketch":
            k = int(agg_inner(a).get("size", DEFAULT_K))
            df = df.withColumn(
                name, F.coalesce(kmv_estimate(F.col(name), k), F.lit(0.0))
            )
    return df


def sketch_post_agg_refs(post_aggregations: list[dict] | None) -> set[str]:
    """Aggregator names that post-aggregators consume AS SKETCHES —
    Druid's rule: those aggregators must not finalize before post-agg
    evaluation (hyperUniqueCardinality / thetaSketchEstimate /
    thetaSketchSetOp / quantile(s) all read the raw state)."""
    refs: set[str] = set()

    def walk(p: dict) -> None:
        t = p.get("type")
        if t in {"hyperUniqueCardinality", "quantile", "quantiles"}:
            if p.get("fieldName"):
                refs.add(p["fieldName"])
        elif t == "thetaSketchEstimate":
            if p.get("fieldName"):
                refs.add(p["fieldName"])
            inner = p.get("field")
            if inner:
                walk_sketch_operand(inner)
        elif t == "thetaSketchSetOp":
            for f in p.get("fields", []) or []:
                walk_sketch_operand(f)
        elif t == "arithmetic":
            for f in p.get("fields", []) or []:
                walk(f)

    def walk_sketch_operand(p: dict) -> None:
        # a field in sketch position: fieldAccess names a sketch column
        if p.get("type") == "fieldAccess":
            refs.add(p["fieldName"])
        else:
            walk(p)

    for p in post_aggregations or []:
        walk(p)
    return refs


def _post_expr(spec: dict) -> Column:
    ptype = spec.get("type")
    if ptype == "fieldAccess":
        return F.col(spec["fieldName"])
    if ptype == "constant":
        return F.lit(spec["value"])
    if ptype == "hyperUniqueCardinality":
        # finalize a non-finalized sketch column → double estimate
        # (reference: druid_exporter.pig:4,15 + PostAggregatorAdapter.java:94)
        return F.hll_sketch_estimate(F.col(spec["fieldName"])).cast("double")
    if ptype == "thetaSketchEstimate":
        # finalize a non-finalized KMV theta state column → double estimate
        # (Druid DataSketches extension post-agg shape). A nested
        # thetaSketchSetOp field yields a set-op struct, which finalizes
        # through the unified size/theta estimator instead.
        from druid_hadoop_utils_spark.functions.theta import (
            DEFAULT_K,
            kmv_estimate,
            kmv_setop_estimate,
        )

        inner = spec.get("field")
        if inner and inner.get("type") == "thetaSketchSetOp":
            return kmv_setop_estimate(_post_expr(inner))
        target = _post_expr(inner) if inner else F.col(spec["fieldName"])
        return kmv_estimate(target, int(spec.get("size", DEFAULT_K)))
    if ptype == "thetaSketchSetOp":
        # Druid DataSketches thetaSketchSetOp: {"func": "UNION|INTERSECT|
        # NOT", "fields": [postAggs...]} → a composable set-op sketch
        # struct. Raw array-state fields are lifted; nested setOp fields
        # compose directly; ops fold left across >2 fields (Druid
        # semantics).
        from druid_hadoop_utils_spark.functions.theta import (
            DEFAULT_K,
            kmv_setop,
            to_setop_sketch,
        )

        k = int(spec.get("size", DEFAULT_K))
        fields = spec.get("fields", [])
        if len(fields) < 2:
            raise ValueError(f"thetaSketchSetOp needs >=2 fields: {spec!r}")

        def lifted(f: dict) -> Column:
            e = _post_expr(f)
            return e if f.get("type") == "thetaSketchSetOp" else to_setop_sketch(e, k)

        out = lifted(fields[0])
        for f in fields[1:]:
            out = kmv_setop(spec["func"], out, lifted(f), k)
        return out
    if ptype == "arithmetic":
        fn = spec["fn"]
        parts = [_post_expr(f).cast("double") for f in spec["fields"]]
        if len(parts) < 2:
            raise ValueError(f"arithmetic needs >=2 fields: {spec!r}")
        out = parts[0]
        for p in parts[1:]:
            if fn == "+":
                out = out + p
            elif fn == "-":
                out = out - p
            elif fn == "*":
                out = out * p
            elif fn == "/":
                # Druid's "/" returns 0 on division by zero
                out = F.when(p == 0, F.lit(0.0)).otherwise(out / p)
            elif fn == "quotient":
                # Druid's quotient is IEEE double division (±Inf / NaN on
                # zero divisor); spelled out because Spark's ANSI mode would
                # otherwise raise on /0
                out = (
                    F.when((p == 0) & (out > 0), F.lit(float("inf")))
                    .when((p == 0) & (out < 0), F.lit(float("-inf")))
                    .when((p == 0), F.lit(float("nan")))
                    .otherwise(out / p)
                )
            else:
                raise ValueError(f"unknown arithmetic fn: {fn!r}")
        return out
    if ptype == "quantile":
        # Druid approximate-histogram `quantile` post-agg over a
        # non-finalized histogram state column
        from druid_hadoop_utils_spark.functions.quantiles import qhist_quantile

        return qhist_quantile(F.col(spec["fieldName"]), float(spec["probability"]))
    if ptype == "quantiles":
        from druid_hadoop_utils_spark.functions.quantiles import qhist_quantile

        return F.array(
            *[
                qhist_quantile(F.col(spec["fieldName"]), float(p))
                for p in spec["probabilities"]
            ]
        )
    if ptype == "javascript":
        raise NotImplementedError("javascript post-aggregator is not supported")
    raise ValueError(f"unknown PostAggregator type: {ptype!r}")


def group_aggregate(
    df: DataFrame,
    dimensions: list[str],
    aggregations: list[dict],
    post_aggregations: list[dict] | None = None,
    finalize: bool = True,
    time_column: str | None = "__time",
    lgk: int = DEFAULT_LGK,
    no_finalize: set[str] | None = None,
) -> DataFrame:
    """The engine's groupBy query: the Spark equivalent of the reference's
    Pig ``GROUP BY (druid_timestamp, host)`` + adapter-UDF workflow
    (reference: druid_exporter.pig:9-15).

    One shuffle on the group keys; Catalyst plans partial+final hash
    aggregation automatically (map-side combine), so sketch partials merge
    exactly like the reference's NonFinalizing → merge → Finalizing chain.

    Finalizing ``thetaSketch`` aggregations over RAW (non-state) columns
    route through ``kmv_distinct``'s memory-bounded two-shuffle build and
    join back on the group keys: the expression state's transient
    ``collect_set`` is O(group distinct count), which is a cliff for
    unbounded groups (VERDICT r2). The expression path remains for
    ``finalize=False`` (a mergeable state column is the point there), for
    re-merging existing state columns, for filtered-wrapped thetas, and
    for global (keyless) aggregation where both paths funnel one group
    through one reducer anyway.
    """
    keys = ([time_column] if time_column else []) + list(dimensions)
    skip_final = (no_finalize or set()) | sketch_post_agg_refs(post_aggregations)

    def _fin(a: dict) -> bool:
        # Druid semantics: an aggregator a post-aggregator consumes as a
        # SKETCH (hyperUniqueCardinality / thetaSketchEstimate /
        # thetaSketchSetOp / quantile) must stay non-finalized while the
        # post-aggs evaluate; the OUTPUT column re-finalizes afterwards
        # (the broker step — finalize_sketch_columns below), so ordering/
        # having/limit over the aggregator name still see a double.
        return finalize and agg_out_name(a) not in skip_final

    def _bounded_theta(a: dict) -> bool:
        # the memory-bounded kmv_distinct route applies to keyed
        # thetaSketch over RAW columns whether or not the column finalizes
        # (it produces both the bounded state and the estimate)
        if not (finalize and keys) or a.get("type") != "thetaSketch":
            return False
        from druid_hadoop_utils_spark.functions.theta import is_kmv_state

        f = a.get("fieldName")
        try:
            return f is not None and not is_kmv_state(df.schema[f].dataType)
        except KeyError:
            return False

    bounded = [a for a in aggregations if _bounded_theta(a)]
    rest = [a for a in aggregations if not _bounded_theta(a)]

    aggs = [agg_expr(a, df.schema, finalize=_fin(a), lgk=lgk) for a in rest]
    if bounded and not rest:
        # base frame still defines the group universe (incl. groups whose
        # theta field is entirely null)
        aggs = [F.count(F.lit(1)).alias("__ga_n")]
    out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if bounded:
        from druid_hadoop_utils_spark.functions.theta import DEFAULT_K, kmv_distinct

        for a in bounded:
            k = int(a.get("size", DEFAULT_K))
            pick = "estimate" if _fin(a) else "kmv"
            th = kmv_distinct(df, keys, a["fieldName"], k).select(
                *keys, F.col(pick).alias(agg_out_name(a))
            )
            out = out.join(th, keys, "left")
        # an absent group in the theta frame means zero non-null values —
        # estimate 0.0 / empty state, matching the expression path
        fills = [
            F.coalesce(F.col(agg_out_name(a)), F.lit(0.0)).cast("double")
            .alias(agg_out_name(a))
            if _fin(a)
            else F.coalesce(
                F.col(agg_out_name(a)), F.array().cast("array<long>")
            ).alias(agg_out_name(a))
            for a in bounded
        ]
        out = out.select(
            *keys,
            *[F.col(agg_out_name(a)) for a in rest],
            *fills,
        ).select(*keys, *[agg_out_name(a) for a in aggregations])
    if post_aggregations:
        out = out.select("*", *[post_agg_expr(p) for p in post_aggregations])
        if finalize:
            out = finalize_sketch_columns(out, aggregations, skip_final)
    return out
