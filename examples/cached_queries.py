"""The three read-acceleration layers composed, end to end:

1. publish three day-segments of events and materialize a DAY rollup —
   per-segment state files (sources/materialize.py);
2. run a native Druid groupBy through ``cached_druid_query``: the
   miss-fill is answered by the TRANSPARENT materialized-rollup rewrite
   (api.py — raw segments never scan) and the result parquet lands in
   the timeline-stamped cache (sources/cache.py);
3. run it again: the cache serves it — zero query execution and zero
   Spark jobs (the entry is read on the driver);
4. publish a fourth day: the timeline stamp changes, so the same call
   recomputes (never serves stale rows), and after a materialize
   catch-up the refill takes the rewrite again;
5. ``vacuum_result_cache`` reclaims the superseded entry.

Run: python examples/cached_queries.py
"""

import os
import sys
import tempfile
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row

from druid_hadoop_utils_spark.session import get_spark
from druid_hadoop_utils_spark.sources.cache import (
    cached_druid_query,
    vacuum_result_cache,
)
from druid_hadoop_utils_spark.sources.ingest import publish_segments
from druid_hadoop_utils_spark.sources.materialize import materialize_aggs

AGGS = [{"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"}]

QUERY = {
    "queryType": "groupBy",
    "dataSource": "events",
    "intervals": ["2024-01-01/2024-01-31"],
    "granularity": "DAY",
    "dimensions": ["event_type"],
    "aggregations": AGGS,
}


def events(spark, days):
    rows = [Row(ts=datetime(2024, 1, d, h),
                event_type=("click" if h % 2 else "view"),
                value=float(d * 100 + h))
            for d in days for h in range(24)]
    return spark.createDataFrame(rows)


def main() -> None:
    spark = get_spark("cached-queries-example")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="cached_queries_")

    publish_segments(events(spark, [1, 2, 3]), root, "events",
                     version="v1", time_column="ts", bucket="DAY")
    materialize_aggs(spark, root, "events", "daily", ["event_type"], AGGS)

    print("== miss-fill (materialized rewrite -> cache publish)")
    out = cached_druid_query(spark, root, "events", QUERY)
    out.orderBy("__time", "event_type").show()
    # the entry is read on the driver: a local relation, no file scan
    assert out.inputFiles() == []

    print("== hit (served from the cache entry: no query, no Spark job)")
    sc = spark.sparkContext
    sc.setJobGroup("hit", "cache hit")
    cached_druid_query(spark, root, "events", QUERY).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("hit")) == []

    print("== a new publish invalidates; catch-up re-enables the rewrite")
    publish_segments(events(spark, [4]), root, "events",
                     version="v1", time_column="ts", bucket="DAY")
    materialize_aggs(spark, root, "events", "daily", ["event_type"], AGGS)
    refreshed = cached_druid_query(spark, root, "events", QUERY)
    print(f"rows now: {refreshed.count()} (was {out.count()})")

    removed = vacuum_result_cache(root, "events")
    print(f"vacuumed {len(removed)} superseded cache entr"
          f"{'y' if len(removed) == 1 else 'ies'}")


if __name__ == "__main__":
    main()
