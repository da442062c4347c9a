"""The filesystem seam (sources/fs.py) and the full managed-table
lifecycle over a simulated OBJECT STORE root (``objectsim://``) —
VERDICT r6 item 1: the metadata layer must not assume POSIX rename.

``ObjectStoreSimFS`` stores bytes on local disk (so the Spark JVM can
read/write them via ``file://``) but forbids directory rename — calling
``rename_dir`` raises. Every test here therefore proves, by running,
that the code path under test publishes through single-object PUTs,
per-file copies, or the pointer protocol only. The belt-and-braces spy
(`_no_dir_renames`) additionally asserts that NO ``os.replace`` under
the table root ever moves a directory (the only replaces allowed are
the simulator's own whole-object PUT emulation on single files).

Reference parity: the reference engine was HDFS-native throughout —
schema files resolve HDFS-first (DruidStorage.java:267-282), segments
load from the HDFS loadSpec of descriptor.json:7-10. This seam is that
capability for the Spark engine, generalized to no-rename stores.
"""

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.api import druid_query
from druid_hadoop_utils_spark.plans.planner import load
from druid_hadoop_utils_spark.sources.cache import (
    cached_druid_query,
    vacuum_result_cache,
)
from druid_hadoop_utils_spark.sources.fs import (
    LocalMetaFS,
    ObjectStoreSimFS,
    get_fs,
    publish_parquet_dir,
    published_entries,
    remove_published_dir,
    resolve_parquet_dir,
)
from druid_hadoop_utils_spark.sources.ingest import publish_segments
from druid_hadoop_utils_spark.sources.maintenance import (
    compact_segments,
    drop_interval,
    table_stats,
    vacuum,
)
from druid_hadoop_utils_spark.sources.materialize import (
    materialize_aggs,
    query_materialized,
    vacuum_materialized,
)
from druid_hadoop_utils_spark.sources.segments import (
    list_manifests,
    write_segment,
)

AGGS = [
    {"type": "count", "name": "n"},
    {"type": "doubleSum", "name": "total", "fieldName": "value"},
]


def _events(spark, days, per_day=6, tag="a"):
    rows = [
        Row(ts=datetime(2024, 1, d, h),
            event_type=("click" if h % 2 else "view"),
            value=float(d * 100 + h), user_id=(d * 7 + h) % 11, tag=tag)
        for d in days for h in range(per_day)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(autouse=True, scope="module")
def _register_arrowsim():
    from druid_hadoop_utils_spark.sources import fs as fsmod
    from druid_hadoop_utils_spark.sources.fs import ArrowMetaFS

    class ArrowSim(ArrowMetaFS):
        def __init__(self):
            from pyarrow import fs as pafs

            self._fs = pafs.LocalFileSystem()
            self._scheme = "arrowsim"
            self.atomic_dir_rename = False

        def spark_url(self, path):
            return "file://" + self._p(path)

    fsmod.register_fs_scheme("arrowsim", ArrowSim)
    yield


@pytest.fixture(params=["objectsim", "arrowsim"])
def objroot(tmp_path, request):
    """No-rename table root backed by tmp_path: the local object-store
    simulation, and the SAME protocols through ArrowMetaFS's pyarrow
    call mapping (arrowsim://)."""
    local = tmp_path / "objstore"
    local.mkdir()
    return f"{request.param}://" + str(local)


@pytest.fixture(autouse=True)
def _no_dir_renames(monkeypatch, tmp_path):
    """Belt and braces: under the objectsim root, os.replace may only be
    the simulator's own single-file PUT emulation — never a directory
    move (which real object stores cannot do)."""
    real = os.replace
    root = str(tmp_path / "objstore")

    def spy(src, dst):
        if str(dst).startswith(root) and os.path.isdir(src):
            raise AssertionError(
                f"directory rename under the object-store root: {src} -> {dst}"
            )
        if str(dst).startswith(root) and ".__put-" not in str(src):
            raise AssertionError(
                f"non-PUT file replace under the object-store root: {src}"
            )
        return real(src, dst)

    monkeypatch.setattr(os, "replace", spy)
    yield


# ------------------------------------------------------------ fs primitives


@pytest.mark.parametrize("fs_kind", ["local", "objectsim"])
def test_put_text_read_ls(tmp_path, fs_kind):
    if fs_kind == "local":
        fs, root = LocalMetaFS(), str(tmp_path)
    else:
        fs, root = ObjectStoreSimFS(), "objectsim://" + str(tmp_path)
    p = fs.join(root, "sub", "x.json")
    fs.put_text(p, '{"a": 1}')
    assert fs.exists(p)
    assert json.loads(fs.read_text(p)) == {"a": 1}
    assert fs.ls(fs.join(root, "sub")) == ["x.json"]
    assert fs.ls(fs.join(root, "nope")) == []
    assert fs.mtime(p) > 0
    fs.delete_file(p)
    assert not fs.exists(p)
    fs.delete_file(p)  # missing is not an error


def test_objectsim_refuses_rename(tmp_path):
    fs = ObjectStoreSimFS()
    with pytest.raises(NotImplementedError, match="rename"):
        fs.rename_dir("objectsim:///a", "objectsim:///b")
    assert fs.atomic_dir_rename is False


def test_get_fs_dispatch(tmp_path):
    assert isinstance(get_fs(str(tmp_path)), LocalMetaFS)
    assert isinstance(get_fs("file:///x"), LocalMetaFS)
    assert isinstance(get_fs("objectsim:///x"), ObjectStoreSimFS)


@pytest.mark.parametrize("fs_kind", ["local", "objectsim"])
def test_publish_resolve_remove_dir(spark, tmp_path, fs_kind):
    if fs_kind == "local":
        fs, root = LocalMetaFS(), str(tmp_path)
    else:
        fs, root = ObjectStoreSimFS(), "objectsim://" + str(tmp_path)
    dest = fs.join(root, "out.parquet")
    assert resolve_parquet_dir(fs, dest) is None
    df = spark.range(10).withColumn("v", F.col("id") * 2)

    publish_parquet_dir(
        fs, lambda url: df.write.mode("overwrite").parquet(url), dest)
    phys = resolve_parquet_dir(fs, dest)
    assert phys is not None
    back = spark.read.parquet(fs.spark_url(phys))
    assert back.count() == 10
    assert published_entries(fs, root, suffix=".parquet") \
        == {"out.parquet": phys}
    remove_published_dir(fs, dest)
    assert resolve_parquet_dir(fs, dest) is None


def test_pointer_republish_is_last_writer_wins(spark, tmp_path):
    fs, root = ObjectStoreSimFS(), "objectsim://" + str(tmp_path)
    dest = fs.join(root, "out.parquet")
    df1 = spark.range(5)
    df2 = spark.range(7)
    publish_parquet_dir(fs, lambda u: df1.write.parquet(u), dest)
    first = resolve_parquet_dir(fs, dest)
    publish_parquet_dir(fs, lambda u: df2.write.parquet(u), dest)
    second = resolve_parquet_dir(fs, dest)
    assert first != second
    assert spark.read.parquet(fs.spark_url(second)).count() == 7
    # the loser's dir still exists (garbage) but is unreferenced
    assert fs.isdir(first)


@pytest.mark.parametrize("fs_kind", ["local", "objectsim"])
def test_bulk_delete_files_and_dirs(tmp_path, fs_kind):
    if fs_kind == "local":
        fs, root = LocalMetaFS(), str(tmp_path)
    else:
        fs, root = ObjectStoreSimFS(), "objectsim://" + str(tmp_path)
    files = [fs.join(root, f"f{i}.json") for i in range(5)]
    dirs = [fs.join(root, f"d{i}") for i in range(5)]
    for p in files:
        fs.put_text(p, "{}")
    for d in dirs:
        fs.put_text(fs.join(d, "part"), "x")
    fs.delete_files(files + [fs.join(root, "missing.json")])
    fs.delete_dirs(dirs + [fs.join(root, "missing_dir")])
    assert not any(fs.exists(p) for p in files)
    assert not any(fs.isdir(d) for d in dirs)
    fs.delete_files(files)  # idempotent
    fs.delete_dirs(dirs)


def test_remove_published_dirs_pointers_drop_before_data(tmp_path):
    """The bulk unpublish must stop readers resolving (pointer deletes)
    before any data bytes vanish — same ordering contract as the single
    remove_published_dir, kept under pool parallelism."""
    from druid_hadoop_utils_spark.sources.fs import remove_published_dirs

    calls = []

    class SpyFS(ObjectStoreSimFS):
        def delete_file(self, path):
            calls.append(("file", path))
            super().delete_file(path)

        def delete_dir(self, path):
            calls.append(("dir", path))
            super().delete_dir(path)

    fs = SpyFS()
    root = "objectsim://" + str(tmp_path)
    dests = [fs.join(root, f"e{i}.parquet") for i in range(3)]
    for d in dests:
        def _write(url, d=d):
            local = url[len("file://"):]
            os.makedirs(local, exist_ok=True)
            with open(os.path.join(local, "part-0"), "w") as f:
                f.write("data")
        publish_parquet_dir(fs, _write, d)
    assert all(resolve_parquet_dir(fs, d) for d in dests)
    calls.clear()
    remove_published_dirs(fs, dests)
    kinds = [k for k, _p in calls]
    assert kinds.count("file") == 3 and kinds.count("dir") == 3
    # every pointer delete happens before the first data-dir delete
    assert max(i for i, k in enumerate(kinds) if k == "file") \
        < min(i for i, k in enumerate(kinds) if k == "dir")
    assert all(resolve_parquet_dir(fs, d) is None for d in dests)


def test_configure_object_store_primes_both_halves():
    """One call wires explicit credentials into the metadata seam (a
    primed ArrowMetaFS under the root's scheme+bucket) AND produces the
    matching s3a conf for the Spark data side. Construct-only — no
    network is touched (explicit region skips bucket resolution)."""
    import druid_hadoop_utils_spark.sources.fs as fsmod
    from druid_hadoop_utils_spark.sources.fs import (
        ArrowMetaFS,
        configure_object_store,
    )

    key = "s3://unit-test-bucket"
    try:
        conf = configure_object_store(
            "s3://unit-test-bucket/warehouse",
            access_key="AK", secret_key="SK",
            endpoint="http://localhost:9000", region="us-east-1",
        )
        fs = get_fs("s3://unit-test-bucket/warehouse/ds/_segments")
        assert isinstance(fs, ArrowMetaFS)
        assert fs is fsmod._CACHE[key]
        assert fs.atomic_dir_rename is False
        assert fs.spark_url("s3://unit-test-bucket/warehouse/x.parquet") \
            == "s3a://unit-test-bucket/warehouse/x.parquet"
        # backend paths keep the bucket (S3 'bucket/key' convention)
        assert fs._p("s3://unit-test-bucket/warehouse/x") \
            == "unit-test-bucket/warehouse/x"
        assert conf["fs.s3a.access.key"] == "AK"
        assert conf["fs.s3a.secret.key"] == "SK"
        assert conf["fs.s3a.endpoint"] == "http://localhost:9000"
        assert conf["fs.s3a.path.style.access"] == "true"
        assert conf["fs.s3a.endpoint.region"] == "us-east-1"
        with pytest.raises(ValueError, match="s3:// and gs://"):
            configure_object_store("wasb://x/y", region="r")
    finally:
        fsmod._CACHE.pop(key, None)


# ------------------------------------------------------- managed lifecycle


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_full_lifecycle_on_object_store(spark, objroot):
    """publish → load → overshadow → materialize → rewrite → cache →
    compact → vacuum, all with a table root that cannot rename."""
    # ---- publish v1 (3 DAY segments, with stats for pruning)
    publish_segments(_events(spark, [1, 2, 3]), objroot, "ev", version="v1",
                     time_column="ts", bucket="DAY", sort_by=["user_id"])
    ms = list_manifests(objroot, "ev")
    assert len(ms) == 3
    assert all(m.path.startswith("file://") for m in ms)

    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "doubleSum"},
                        {"name": "user_id", "type": "longSum"}]}
    out = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
               data_source="ev")
    assert out.count() == 18

    # ---- overshadow day 2 with a v2 rewrite (write_segment path)
    v2 = _events(spark, [2], per_day=6, tag="b").withColumn(
        "value", F.col("value") + 1000.0)
    write_segment(v2.withColumnRenamed("ts", "__time"), objroot, "ev",
                  "2024-01-02/2024-01-03", version="v2")
    got = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
               data_source="ev")
    day2 = got.where(F.col("__time") >= "2024-01-02") \
              .where(F.col("__time") < "2024-01-03")
    assert day2.agg(F.min("value")).collect()[0][0] >= 1000.0
    assert got.count() == 18

    # ---- materialized rollup over the object-store root
    materialize_aggs(spark, objroot, "ev", "daily", ["event_type"], AGGS,
                     granularity="DAY", time_column="__time")
    mat = query_materialized(spark, objroot, "ev", "daily")
    mat_rows = _rows(mat)
    assert len(mat_rows) == 6  # 3 days x 2 event types

    q = {"queryType": "groupBy", "dataSource": "ev",
         "intervals": ["2024-01-01/2024-01-04"], "granularity": "DAY",
         "dimensions": ["event_type"], "aggregations": AGGS}
    # the transparent rewrite must answer from states (require mode)
    hit = druid_query(spark, objroot, dict(
        q, context={"useMaterialized": "require"}))
    raw = druid_query(spark, objroot, dict(
        q, context={"useMaterialized": False}))
    assert _rows(hit) == _rows(raw)
    files = hit.inputFiles()
    assert files and all("_materialized" in f for f in files)

    # ---- result cache: fill then zero-execution hit
    c1 = cached_druid_query(spark, objroot, "ev", q)
    assert _rows(c1) == _rows(raw)
    import druid_hadoop_utils_spark.api as api_mod
    real_dq = api_mod.druid_query
    api_mod.druid_query = None  # poison: a hit must not execute
    try:
        c2 = cached_druid_query(spark, objroot, "ev", q)
        assert _rows(c2) == _rows(c1)
    finally:
        api_mod.druid_query = real_dq

    # ---- compaction flips the timeline; stale cache + states recover
    compact_segments(spark, objroot, "ev", "2024-01-01/2024-01-04",
                     bucket="DAY")
    got2 = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
                data_source="ev")
    assert _rows(got2.select("event_type", "value", "user_id")) == \
        _rows(got.select("event_type", "value", "user_id"))

    # old cache entry is stale (timeline changed) → vacuum reclaims it
    stale = vacuum_result_cache(objroot, "ev", dry_run=True)
    assert stale
    assert vacuum_result_cache(objroot, "ev") == stale

    # refill under the new timeline still equals raw
    c3 = cached_druid_query(spark, objroot, "ev", q)
    assert _rows(c3) == _rows(raw)

    # ---- vacuum overshadowed segments + orphaned states
    removed = vacuum(objroot, "ev")
    assert removed  # v1 day-2 + all pre-compaction segments
    mat_gone = vacuum_materialized(objroot, "ev", "daily", tmp_min_age_s=0)
    assert mat_gone  # states of vacuumed segments reclaimed
    # catch-up rematerializes the compacted segments, then answers again
    materialize_aggs(spark, objroot, "ev", "daily", ["event_type"], AGGS,
                     granularity="DAY", time_column="__time")
    mat2 = query_materialized(spark, objroot, "ev", "daily")
    assert _rows(mat2) == mat_rows

    stats = table_stats(objroot, "ev")
    assert stats["segments_visible"] == 3
    assert stats["visible_bytes"] > 0


def test_sharded_publish_on_object_store(spark, objroot):
    """Multi-shard buckets promote by per-file copy and announce via ONE
    group manifest per bucket."""
    publish_segments(_events(spark, [1, 2], per_day=8), objroot, "ev",
                     version="v1", time_column="ts", bucket="DAY",
                     shards_per_bucket=2)
    ms = list_manifests(objroot, "ev")
    assert len(ms) == 4  # 2 days x 2 shards
    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "doubleSum"}]}
    out = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
               data_source="ev")
    assert out.count() == 16


def test_drop_interval_and_stats_pruning_on_object_store(spark, objroot):
    publish_segments(_events(spark, [1, 2]), objroot, "ev", version="v1",
                     time_column="ts", bucket="DAY",
                     stats_columns=["user_id"])
    drop_interval(objroot, "ev", "2024-01-01/2024-01-02")
    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "doubleSum"}]}
    out = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
               data_source="ev")
    assert out.count() == 6  # day 1 hidden
    removed = vacuum(objroot, "ev")
    assert len(removed) == 1


def test_ann_index_roundtrip_on_object_store(tmp_path):
    from druid_hadoop_utils_spark.operators.similarity import (
        load_ann_index,
        save_ann_index,
    )

    idx = {"format": 1, "corpus_version": "42",
           "kind": "ivf", "centroids": [[0.0, 1.0], [1.0, 0.0]],
           "codebooks": None, "assign": {"0": [1, 2]}}
    path = "objectsim://" + str(tmp_path / "ann" / "idx.json")
    save_ann_index(dict(idx), path)
    back = load_ann_index(path, expect_corpus_version="42")
    assert back["kind"] == "ivf"
    with pytest.raises(ValueError, match="stale"):
        load_ann_index(path, expect_corpus_version="43")


def test_republish_same_version_does_not_duplicate(spark, objroot):
    """Review r7 + ADVICE r8: re-publishing the same (interval, version)
    over a LIVE manifest-referenced segment refuses loudly by default
    (clearing it opens a reader-visible missing-dir window and a
    crash-window dangling manifest); with overwrite=True the copy
    promotion CLEARS the destination first, so a retried publish must
    not merge two runs' part files into doubled rows."""
    import pytest

    publish_segments(_events(spark, [1]), objroot, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    with pytest.raises(FileExistsError, match="overwrite=True"):
        publish_segments(_events(spark, [1]), objroot, "ev", version="v1",
                         time_column="ts", bucket="DAY")
    publish_segments(_events(spark, [1]), objroot, "ev", version="v1",
                     time_column="ts", bucket="DAY", overwrite=True)
    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "doubleSum"}]}
    out = load(spark, objroot, spec, interval="2024-01-01/2024-02-01",
               data_source="ev")
    assert out.count() == 6  # not 12


def test_tag_restore_clone_lifecycle_no_rename(spark, objroot, tmp_path):
    """Round-7 timeline surface through BOTH no-rename backends: tag the
    good view, overshadow it, diff the views, restore, refcounted
    vacuum, and clone the restored view out — every metadata write an
    atomic put, no directory rename anywhere (module-level spy)."""
    from pyspark.sql import functions as F

    from druid_hadoop_utils_spark import load
    from druid_hadoop_utils_spark.sources.ingest import (
        clone_view,
        publish_segments,
    )
    from druid_hadoop_utils_spark.sources.maintenance import (
        restore_to,
        vacuum,
    )
    from druid_hadoop_utils_spark.sources.segments import (
        create_tag,
        delete_tag,
        diff_views,
    )

    spec = {"granularity": "NONE", "dimensions": ["event_type"],
            "metrics": [{"name": "value", "type": "double"}]}
    iv = "2024-01-01/2024-02-01"

    publish_segments(_events(spark, [1, 2]), objroot, "ev", version="v1",
                     time_column="ts",
                     published_at="2024-06-01T00:00:00+00:00")
    create_tag(objroot, "ev", "good")
    publish_segments(
        _events(spark, [1, 2]).withColumn("value", F.col("value") * 100),
        objroot, "ev", version="v2", time_column="ts",
        published_at="2024-06-02T00:00:00+00:00")

    def total(as_of=None):
        df = load(spark, objroot, spec, interval=iv, data_source="ev",
                  as_of=as_of)
        return round(df.agg(F.sum("value")).first()[0], 2)

    want = total("tag:good")
    assert total() == want * 100
    d = diff_views(objroot, "ev", "tag:good")
    assert len(d["added"]) == 2 and len(d["removed"]) == 2
    assert restore_to(objroot, "ev", "tag:good")
    assert total() == want
    delete_tag(objroot, "ev", "good")
    assert vacuum(objroot, "ev")  # v2 + overshadowed originals
    assert total() == want       # shared dirs survived the refcount
    dest = str(tmp_path / "clone_out")
    clone_view(spark, objroot, "ev", dest)
    got = load(spark, dest, spec, interval=iv, data_source="ev")
    assert round(got.agg(F.sum("value")).first()[0], 2) == want


# ------------------------------------------- driver-side parquet reads


@pytest.mark.parametrize("fs_kind", ["local", "objectsim", "arrowsim"])
def test_read_parquet_dir_backends(spark, tmp_path, fs_kind):
    """``read_parquet_dir`` reads a published parquet dir on the driver
    on every backend: Spark's footer schema key, every row, the size
    guard refusing the data but keeping the footer, None for no data."""
    # the local backend renames its publishes: keep it off the
    # no-rename root the autouse spy guards
    local = tmp_path / ("posix" if fs_kind == "local" else "objstore")
    local.mkdir()
    root = str(local) if fs_kind == "local" else f"{fs_kind}://{local}"
    fs = get_fs(root)
    dest = fs.join(root, "out.parquet")
    df = spark.range(10).withColumn("v", F.col("id") * 2).repartition(3)
    publish_parquet_dir(fs, lambda u: df.write.parquet(u), dest)
    phys = resolve_parquet_dir(fs, dest)

    footer, table = fs.read_parquet_dir(phys)
    assert b"org.apache.spark.sql.parquet.row.metadata" in footer
    assert sorted(zip(table.column("id").to_pylist(),
                      table.column("v").to_pylist())) == \
        [(i, 2 * i) for i in range(10)]
    footer2, refused = fs.read_parquet_dir(phys, max_bytes=1)
    assert refused is None and footer2 == footer
    assert fs.read_parquet_dir(fs.join(root, "missing")) is None


def test_delay_fs_read_parquet_dir_is_one_round_trip(spark, tmp_path):
    from druid_hadoop_utils_spark.sources.fs import DelayFS

    inner = ObjectStoreSimFS()
    root = "objectsim://" + str(tmp_path / "objstore")
    dest = inner.join(root, "out.parquet")
    publish_parquet_dir(inner, lambda u: spark.range(4).write.parquet(u), dest)
    fs = DelayFS(inner, delay_s=0)
    _footer, table = fs.read_parquet_dir(resolve_parquet_dir(inner, dest))
    assert table.num_rows == 4
    assert fs.op_counts == {"read_parquet_dir": 1}


def test_cache_hit_reads_through_metafs_on_object_store(spark, objroot,
                                                        monkeypatch):
    """On a no-rename root the hit resolves the entry's pointer and reads
    it with the backend's ``read_parquet_dir`` — one call, on the
    committed token dir — and never executes the query."""
    publish_segments(_events(spark, [1, 2]), objroot, "ev", version="v1",
                     time_column="ts", bucket="DAY")
    q = {"queryType": "groupBy", "dataSource": "ev",
         "intervals": ["2024-01-01/2024-01-03"], "granularity": "DAY",
         "dimensions": ["event_type"], "aggregations": AGGS}
    filled = cached_druid_query(spark, objroot, "ev", q)

    fs = get_fs(objroot)
    reads = []
    real = type(fs).read_parquet_dir

    def spy(self, path, max_bytes=None):
        reads.append(path)
        return real(self, path, max_bytes)

    monkeypatch.setattr(type(fs), "read_parquet_dir", spy)
    monkeypatch.setattr("druid_hadoop_utils_spark.api.druid_query", None)
    hit = cached_druid_query(spark, objroot, "ev", q)
    assert len(reads) == 1 and "_result_cache" in reads[0]
    assert fs.name(reads[0]).count(".") == 1  # the pointer's token dir
    assert _rows(hit) == _rows(filled) and len(_rows(hit)) == 4
    assert hit.schema == filled.schema
