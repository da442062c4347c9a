"""A managed table on an OBJECT-STORE-SHAPED root, end to end.

Runs the full lifecycle against the ``objectsim://`` backend — the
local simulation of an object store (atomic single-object PUTs, NO
directory rename) that shares every protocol decision with real
S3/GCS roots through ``sources/fs.py``:

    publish → query → materialized rollup answers it → result cache →
    compaction flips the timeline → manifest snapshot → vacuum sweeps

For a REAL object store, the only change is the root string
(``s3://bucket/path`` — pyarrow picks up credentials from the standard
env/instance metadata; Spark reads the data side via its own s3a
configuration).

Usage: python examples/object_store_table.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Row

import druid_hadoop_utils_spark as eng
from druid_hadoop_utils_spark.session import get_spark
from druid_hadoop_utils_spark.sources.cache import (
    cached_druid_query,
    vacuum_result_cache,
)
from druid_hadoop_utils_spark.sources.maintenance import (
    compact_segments,
    table_stats,
    vacuum,
)
from druid_hadoop_utils_spark.sources.materialize import materialize_aggs

spark = get_spark("object-store-example")
root = "objectsim://" + tempfile.mkdtemp(prefix="objstore_example_")
print(f"table root: {root}  (swap for s3://... in production)")

from datetime import datetime  # noqa: E402

rows = [Row(ts=datetime(2024, 1, 1 + d, h),
            event_type=("click" if h % 2 else "view"),
            value=float(d * 100 + h))
        for d in range(3) for h in range(24)]
eng.publish_segments(spark.createDataFrame(rows), root, "ev", version="v1",
                     time_column="ts", bucket="DAY", sort_by=["event_type"])
print("published:", [m.identifier for m in eng.list_manifests(root, "ev")])

AGGS = [{"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"}]
Q = {"queryType": "groupBy", "dataSource": "ev",
     "intervals": ["2024-01-01/2024-01-04"], "granularity": "DAY",
     "dimensions": ["event_type"], "aggregations": AGGS}

# a rollup materializes per segment; the groupBy below is answered from
# KB of state without touching the raw segments (context: require
# proves it)
materialize_aggs(spark, root, "ev", "daily", ["event_type"], AGGS)
hit = eng.api.druid_query(spark, root, dict(
    Q, context={"useMaterialized": "require"}))
hit.orderBy("__time", "event_type").show()

# the result cache: the second call reads one small parquet on the
# driver — zero data scan, zero Spark jobs
cached_druid_query(spark, root, "ev", Q).count()
print("cache hit rows:", cached_druid_query(spark, root, "ev", Q).count())

# compaction rewrites under a new version (atomic flip via the
# timeline), the manifest snapshot folds planning metadata into one
# object, and the sweeps reclaim what nothing references anymore
compact_segments(spark, root, "ev", "2024-01-01/2024-01-04", bucket="DAY")
eng.compact_manifests(root, "ev")
print("vacuumed segments:", len(vacuum(root, "ev")))
print("vacuumed cache entries:", len(vacuum_result_cache(root, "ev")))
stats = table_stats(root, "ev")
print("visible:", stats["segments_visible"], "files:",
      stats["visible_files"], "bytes:", stats["visible_bytes"])

after = eng.api.druid_query(spark, root, Q)
assert sorted(tuple(r) for r in after.collect()) == \
    sorted(tuple(r) for r in hit.select(*after.columns).collect())
print("post-compaction results identical — lifecycle complete")
spark.stop()
