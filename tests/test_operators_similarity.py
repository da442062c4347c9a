import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from druid_hadoop_utils_spark.operators import similarity as S
from druid_hadoop_utils_spark.sources.tables import load_table


def test_cosine_expression(spark):
    df = spark.createDataFrame([Row(a=[1.0, 0.0], b=[1.0, 0.0]),
                                Row(a=[1.0, 0.0], b=[0.0, 1.0]),
                                Row(a=[1.0, 2.0], b=[2.0, 4.0])])
    got = [r.c for r in df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)


def test_brute_force_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    out = S.brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, nbrs in by_q.items():
        assert len(nbrs) == 5
        assert all(n.neighbor_id != q for n in nbrs)
        sims = [n.cos_sim for n in nbrs]
        assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = S.lsh_topk(emb, queries, k=5, bits=4, tables=12)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_topk_battery_params_equal_brute_force(spark, sf_dir):
    """The battery's convergent parameterization (bits=2, tables=32) must
    reproduce exact brute-force top-k — this is what makes
    q_similarity_lsh_topk oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in S.lsh_topk(emb, queries, k=5, bits=2, tables=32).collect()}
    assert approx == exact


def test_lsh_topk_prod_params_shape_and_quality(spark, sf_dir):
    """The PRODUCTION config (bits=8, tables=16 — q_similarity_lsh_topk_prod,
    the benched path) still returns a full exact-cosine-ranked top-k per
    query, and the best neighbor it finds is within a constant factor of
    the true best (this corpus has no strong pairs — max cos ≈ 0.51 — so
    set-equality with brute force is unattainable at real selectivity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    prod = S.lsh_topk(emb, queries, k=5, bits=8, tables=16).collect()
    by_q = {}
    for r in prod:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    for q, nbrs in by_q.items():
        assert len(nbrs) == 5
        sims = [n.cos_sim for n in nbrs]
        assert sims == sorted(sims, reverse=True)
    exact_best = {r.query_id: r.cos_sim
                  for r in S.brute_force_topk(emb, queries, k=1).collect()}
    for q, nbrs in by_q.items():
        assert nbrs[0].cos_sim >= 0.5 * exact_best[q], (
            f"query {q}: prod best {nbrs[0].cos_sim} vs exact {exact_best[q]}"
        )


def test_minhash_prod_bands_equal_exact_on_testdata(spark, sf_dir):
    """q_dedup_minhash_lsh_prod's bands=16 finds the identical pair set as
    the convergent bands=32 config on this data (high-Jaccard duplicates) —
    the empirical property that lets the prod bench entry keep the exact
    oracle."""
    from druid_hadoop_utils_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents")
    a = {tuple(r) for r in DD.minhash_lsh_dedup_pairs(
        docs, "doc_id", threshold=0.5, num_hashes=64, bands=32
    ).drop("jaccard").collect()}
    b = {tuple(r) for r in DD.minhash_lsh_dedup_pairs(
        docs, "doc_id", threshold=0.5, num_hashes=64, bands=16
    ).drop("jaccard").collect()}
    assert a == b


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe = n_cells probes every cell, so IVF degenerates to exact
    brute force by construction (the q_similarity_ivf_topk oracle basis)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    full = {(r.query_id, r.neighbor_id)
            for r in S.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=16).collect()}
    assert full == exact


def test_similar_pairs_threshold(spark):
    df = spark.createDataFrame([
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.1, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
    ])
    out = {(r.id_a, r.id_b) for r in S.similar_pairs(df, 0.9).collect()}
    assert out == {(1, 2)}


def test_ivf_topk_recall(spark, sf_dir):
    from druid_hadoop_utils_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = S.brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_cells=16, nprobe=6)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_centroids_layout_stable(spark, sf_dir):
    """Centroids must be identical across repartitioned copies of the same
    data (the sample is hash-ordered, not file-order-dependent)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    a = S.kmeans_centroids(emb, n_cells=8, sample=256)
    b = S.kmeans_centroids(emb.repartition(17), n_cells=8, sample=256)
    c = S.kmeans_centroids(emb.coalesce(1), n_cells=8, sample=256)
    assert np.array_equal(a, b) and np.array_equal(a, c)


def test_ivf_deterministic(spark, sf_dir):
    from druid_hadoop_utils_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
    assert a == b


def test_mean_pool_and_normalize(spark):
    df = spark.createDataFrame([
        Row(doc=1, embedding=[1.0, 0.0, 2.0]),
        Row(doc=1, embedding=[3.0, 2.0, 0.0]),
        Row(doc=2, embedding=[0.0, 4.0, 0.0]),
    ])
    pooled = {r.doc: r.embedding for r in S.mean_pool(df, ["doc"]).collect()}
    assert pooled[1] == [2.0, 1.0, 1.0]
    assert pooled[2] == [0.0, 4.0, 0.0]

    normed = df.select(S.normalize(F.col("embedding")).alias("e")).collect()
    import math
    for r in normed:
        assert math.isclose(sum(v * v for v in r.e), 1.0, rel_tol=1e-5)
    zero = spark.createDataFrame([Row(embedding=[0.0, 0.0])])
    assert zero.select(S.normalize(F.col("embedding")).alias("e")).first().e == [0.0, 0.0]


def test_ivfpq_oracle_config_equals_brute_force(spark, sf_dir):
    """nprobe = n_cells + refine >= corpus: IVF-PQ must return EXACTLY the
    brute-force top-k (quantization only orders the shortlist, which covers
    everything)."""
    from druid_hadoop_utils_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    exact = sorted((r.query_id, r.neighbor_id)
                   for r in brute_force_topk(emb, queries, k=5).collect())
    pq = sorted((r.query_id, r.neighbor_id)
                for r in ivfpq_topk(emb, queries, k=5, n_cells=8, nprobe=8,
                                    refine=10**9).collect())
    assert pq == exact


def test_ivfpq_production_recall_floor(spark, sf_dir):
    from druid_hadoop_utils_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivfpq_topk(emb, queries, k=5, n_cells=16, nprobe=4,
                                  m=8, ks=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # 4/16 cells probed; floor, not a target


def test_pq_train_deterministic_and_layout_independent(spark, sf_dir):
    import numpy as np

    from druid_hadoop_utils_spark.operators.similarity import pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    a = pq_train(emb, m=8, ks=8, sample=256)
    b = pq_train(emb.repartition(11), m=8, ks=8, sample=256)
    assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        pq_train(emb, m=7, ks=8, sample=64)  # dim 64 not divisible by 7


def test_ann_index_roundtrip_and_query_equivalence(spark, sf_dir, tmp_path):
    """train_ann_index → save → load must reproduce the exact same arrays,
    and ivf_topk/ivfpq_topk driven by the loaded artifact must equal the
    same query driven by in-memory training — the train-once lifecycle."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    idx = S.train_ann_index(emb, n_cells=8, m=8, ks=8, sample=512,
                            corpus_version="v1")
    path = str(tmp_path / "_ann_index.json")
    S.save_ann_index(idx, path)
    loaded = S.load_ann_index(path, expect_corpus_version="v1")
    assert np.array_equal(loaded["centroids"], idx["centroids"])
    assert np.array_equal(loaded["codebooks"], idx["codebooks"])
    assert (loaded["n_cells"], loaded["m"], loaded["ks"]) == (8, 8, 8)

    queries = emb.where(F.col("vec_id") < 3)
    from_artifact = sorted(map(tuple,
        S.ivf_topk(emb, queries, k=3, nprobe=2, index=path).collect()))
    from_memory = sorted(map(tuple,
        S.ivf_topk(emb, queries, k=3, nprobe=2,
                   centroids=idx["centroids"]).collect()))
    assert from_artifact == from_memory

    pq_artifact = sorted(map(tuple,
        S.ivfpq_topk(emb, queries, k=3, nprobe=2, index=loaded).collect()))
    pq_memory = sorted(map(tuple,
        S.ivfpq_topk(emb, queries, k=3, n_cells=8, nprobe=2, m=8, ks=8,
                     centroids=idx["centroids"],
                     codebooks=idx["codebooks"]).collect()))
    assert pq_artifact == pq_memory


def test_ann_index_staleness_invalidation(spark, sf_dir, tmp_path):
    """A corpus-version mismatch must refuse the artifact loudly (the
    retrain-on-republish rule), and an IVF-only artifact must refuse the
    PQ path."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = S.train_ann_index(emb, n_cells=8, sample=256, corpus_version="v1")
    path = str(tmp_path / "_ann_index.json")
    S.save_ann_index(idx, path)
    with pytest.raises(ValueError, match="stale index"):
        S.load_ann_index(path, expect_corpus_version="v2")
    queries = emb.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="no PQ codebooks"):
        S.ivfpq_topk(emb, queries, k=2, index=path)


def test_ivf_prod_config_recall_floor(spark, sf_dir):
    """The benched production IVF config (nprobe=4 of n_cells=16, pre-trained
    index — q_similarity_ivf_topk_prod): full k rows per query, exact-cosine
    ranked, recall floor vs brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = S.train_ann_index(emb, n_cells=16, m=8, ks=16)
    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    prod = S.ivf_topk(emb, queries, k=5, nprobe=4, index=idx).collect()
    by_q = {}
    for r in prod:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5
    for nbrs in by_q.values():
        assert len(nbrs) == 5
        sims = [n.cos_sim for n in nbrs]
        assert sims == sorted(sims, reverse=True)
    recall = len(exact & {(r.query_id, r.neighbor_id) for r in prod}) / len(exact)
    assert recall >= 0.5, recall  # 4/16 cells probed; floor, not a target


def test_training_sample_size_validation(spark):
    """Tiny corpus / small sample must fail with a named-parameter error,
    not an opaque numpy raise (ADVICE r3)."""
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(4)]
    )
    with pytest.raises(ValueError, match="n_cells=8"):
        S.kmeans_centroids(df, n_cells=8, sample=4)
    df64 = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * 64) for i in range(4)]
    )
    with pytest.raises(ValueError, match="ks=16"):
        S.pq_train(df64, m=8, ks=16, sample=4)


def test_pq_codes_reconstruct_better_with_more_centroids(spark, sf_dir):
    """Quantization error must drop as ks grows — sanity that the codebook
    training actually trains."""
    import numpy as np

    from druid_hadoop_utils_spark.operators.similarity import pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.limit(200).collect()
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)

    def mse(ks):
        books = pq_train(emb, m=8, ks=ks, sample=512)
        dsub = mat.shape[1] // 8
        err = 0.0
        for j in range(8):
            sub = mat[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).mean()
        return err

    assert mse(32) < mse(4)


def test_published_ann_index_table_lifecycle(spark, sf_dir, tmp_path):
    """Index artifact lives beside the managed table's _segments/ and is
    stamped with the segment-timeline version: train at publish time,
    load+query later, REFUSE automatically once the timeline moves."""
    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    publish_segments(emb.where(F.col("vec_id") % 2 == 0), root, "emb",
                     version="v1", time_column="ts", bucket="DAY")

    spec = {"granularity": "NONE", "dimensions": ["vec_id"],
            "metrics": [{"name": "embedding", "type": "complex"}]}
    path = S.publish_ann_index(spark, root, "emb", spec=spec,
                               n_cells=8, m=8, ks=8, sample=512)
    assert path.endswith("emb/_ann_index.json")

    idx = S.load_published_ann_index(root, "emb")
    assert int(idx["n_cells"]) == 8

    from druid_hadoop_utils_spark.plans.planner import load as eng_load
    corpus = eng_load(spark, root, spec,
                      interval="1970-01-01/3000-01-01", data_source="emb")
    queries = corpus.where(F.col("vec_id") < 6)
    out = S.ivf_topk(corpus, queries, k=3, nprobe=8, id_col="vec_id",
                     index=idx).collect()
    exact = S.brute_force_topk(corpus, queries, k=3,
                               id_col="vec_id").collect()
    assert {(r.query_id, r.neighbor_id) for r in out} == \
           {(r.query_id, r.neighbor_id) for r in exact}  # full probe = exact

    # the timeline moves (append more vectors) -> stale index refused
    publish_segments(emb.where(F.col("vec_id") % 2 == 1), root, "emb",
                     version="v2", time_column="ts", bucket="DAY")
    with pytest.raises(ValueError, match="stale index"):
        S.load_published_ann_index(root, "emb")
    # retrain against the new timeline and it loads again
    S.publish_ann_index(spark, root, "emb", spec=spec,
                        n_cells=8, m=8, ks=8, sample=512)
    assert S.load_published_ann_index(root, "emb")["corpus_version"] == \
           S.table_corpus_version(root, "emb")


def test_residual_pq_oracle_config_equals_brute_force(spark, sf_dir):
    """Residual mode changes only the compressed-domain ordering; with
    nprobe = n_cells and refine >= corpus the exact re-rank still equals
    brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    exact = sorted((r.query_id, r.neighbor_id)
                   for r in S.brute_force_topk(emb, queries, k=5).collect())
    res = sorted((r.query_id, r.neighbor_id)
                 for r in S.ivfpq_topk(emb, queries, k=5, n_cells=8, nprobe=8,
                                       refine=10**9, residual=True).collect())
    assert res == exact


def test_residual_pq_quantization_error_improves_on_clustered_data(spark):
    """Residual codebooks quantize what the coarse quantizer left over, so
    on CLUSTERED data reconstruction error must drop vs plain PQ at the
    same m/ks. (On unclustered corpora — like the synthetic testdata
    embeddings, max pairwise cosine ~0.5 — residuals are LARGER than the
    originals and residual mode does not help; that is a property of the
    data, documented in pq_train.)"""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[rng.randint(0, 16, 2000)] + 0.03 * rng.standard_normal((2000, 64))
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(pts)],
        "vec_id: long, embedding: array<double>")

    cents = S.kmeans_centroids(df, n_cells=16, sample=1024)
    mat = pts / np.maximum(np.linalg.norm(pts, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(mat @ cents.T, axis=1)

    def recon_err(books, use_residual):
        base = mat - cents[assign] if use_residual else mat
        dsub = mat.shape[1] // 8
        err = 0.0
        for j in range(8):
            sub = base[:, j * dsub:(j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).mean()
        return err

    plain = recon_err(S.pq_train(df, m=8, ks=16, sample=1024), False)
    res = recon_err(
        S.pq_train(df, m=8, ks=16, sample=1024, centroids=cents), True)
    assert res < plain * 0.5, (res, plain)  # structural win, not noise


def test_residual_pq_prod_recall_floor_and_artifact(spark, sf_dir, tmp_path):
    """Production residual config keeps the recall floor, and the residual
    flag round-trips through the persisted artifact (ivfpq_topk picks it
    up without the caller passing residual=)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = S.train_ann_index(emb, n_cells=16, m=8, ks=16, residual=True)
    assert idx["residual"] is True
    path = str(tmp_path / "_ann_index.json")
    S.save_ann_index(idx, path)
    loaded = S.load_ann_index(path)
    assert loaded["residual"] is True

    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(emb, queries, k=5).collect()}
    prod = S.ivfpq_topk(emb, queries, k=5, nprobe=4, index=path).collect()
    by_q = {}
    for r in prod:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5 and all(len(v) == 5 for v in by_q.values())
    recall = len(exact & {(r.query_id, r.neighbor_id) for r in prod}) / len(exact)
    assert recall >= 0.5, recall


def _clustered_df(spark, n=2000, n_centers=16, dim=64, noise=0.05, seed=11):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_centers, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[rng.randint(0, n_centers, n)] \
        + noise * rng.standard_normal((n, dim))
    return pts, spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(pts)],
        "vec_id: long, embedding: array<double>")


def _spherical_objective(pts, cents):
    import numpy as np

    mat = pts / np.maximum(np.linalg.norm(pts, axis=1, keepdims=True), 1e-12)
    return (mat @ cents.T).max(axis=1).mean()


def test_refine_centroids_improves_objective_on_full_corpus(spark):
    """A tiny driver sample mis-places centroids; full-corpus Lloyd's
    iterations must raise the spherical k-means objective (mean cosine to
    the assigned centroid) on the WHOLE dataset."""
    pts, df = _clustered_df(spark)
    seeded = S.kmeans_centroids(df, n_cells=16, sample=64, iterations=2)
    refined = S.refine_centroids(df, seeded, iterations=3)
    before = _spherical_objective(pts, seeded)
    after = _spherical_objective(pts, refined)
    assert after > before + 1e-4, (before, after)
    # refined centroids stay unit-norm
    import numpy as np
    assert np.allclose(np.linalg.norm(refined, axis=1), 1.0)


def test_refine_centroids_layout_independent(spark):
    import numpy as np

    pts, df = _clustered_df(spark, n=800)
    seeded = S.kmeans_centroids(df, n_cells=8, sample=256)
    a = S.refine_centroids(df, seeded, iterations=2)
    b = S.refine_centroids(df.repartition(13), seeded, iterations=2)
    assert np.allclose(a, b, atol=1e-9)


def test_refine_centroids_empty_cells_keep_previous(spark):
    """A centroid no vector maps to must survive unchanged (standard
    Lloyd's convention) rather than collapsing to zero."""
    import numpy as np

    pts, df = _clustered_df(spark, n=300, n_centers=2, dim=8)
    # plant one far-away centroid that will own no points
    seeded = S.kmeans_centroids(df, n_cells=2, sample=128)
    orphan = -seeded[0] * 0.0
    orphan[0] = 1e-6  # direction that matches nothing strongly
    cents = np.vstack([seeded, orphan / np.linalg.norm(orphan)])
    refined = S.refine_centroids(df, cents, iterations=1)
    # every refined row is finite and unit-norm; orphan either kept or
    # unchanged — never NaN/zero
    assert np.all(np.isfinite(refined))
    assert np.allclose(np.linalg.norm(refined, axis=1), 1.0)


def test_train_ann_index_refine_iters_wired(spark):
    import numpy as np

    pts, df = _clustered_df(spark, n=600)
    base = S.train_ann_index(df, n_cells=8, sample=64)
    ref = S.train_ann_index(df, n_cells=8, sample=64, refine_iters=2)
    assert not np.allclose(base["centroids"], ref["centroids"])
    # exhaustive probe stays exact regardless of centroid quality
    q = df.limit(3)
    exact = {(r.query_id, r.neighbor_id) for r in S.brute_force_topk(
        df, q, k=3).collect()}
    got = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(
        df, q, k=3, nprobe=8, index=ref).collect()}
    assert got == exact


class TestRandomProjection:
    def test_deterministic_and_layout_independent(self, spark):
        import numpy as np

        _, df = _clustered_df(spark, n=300, dim=64)
        a = {r.vec_id: np.array(r.embedding) for r in
             S.random_projection(df, out_dim=16).collect()}
        b = {r.vec_id: np.array(r.embedding) for r in
             S.random_projection(df.repartition(7), out_dim=16).collect()}
        # same projection matrix on every layout; values equal up to the
        # last-ulp associativity of the batched BLAS matmul
        assert all(np.allclose(a[k], b[k], atol=1e-12) for k in a)
        assert all(len(v) == 16 for v in a.values())

    def test_jl_preserves_pairwise_distances(self, spark):
        """JL bound: projecting 128 → 48 dims keeps pairwise distances
        within a loose relative distortion for a small point set."""
        import numpy as np

        pts, df = _clustered_df(spark, n=40, n_centers=8, dim=128, noise=0.2)
        out = {r.vec_id: np.array(r.embedding) for r in
               S.random_projection(df, out_dim=48).collect()}
        ratios = []
        for i in range(0, 40, 3):
            for j in range(i + 1, 40, 5):
                d0 = np.linalg.norm(pts[i] - pts[j])
                d1 = np.linalg.norm(out[i] - out[j])
                if d0 > 1e-9:
                    ratios.append(d1 / d0)
        ratios = np.array(ratios)
        assert 0.5 < ratios.min() and ratios.max() < 1.7, (
            ratios.min(), ratios.max())

    def test_out_col_and_validation(self, spark):
        _, df = _clustered_df(spark, n=20, dim=16)
        out = S.random_projection(df, out_dim=4, out_col="proj")
        assert set(out.columns) == {"vec_id", "embedding", "proj"}
        with pytest.raises(ValueError, match="out_dim"):
            S.random_projection(df, out_dim=0)

    def test_topk_on_projection_preserves_cluster_structure(self, spark):
        """Neighbor STRUCTURE survives projection: within a cluster the
        exact top-k ordering is near-tied (noise-rank sensitive), so the
        stable property is that projected top-k neighbors still come from
        the query's own cluster."""
        import numpy as np

        pts, df = _clustered_df(spark, n=300, n_centers=6, dim=64, noise=0.05)
        mat = pts / np.linalg.norm(pts, axis=1, keepdims=True)
        # recover each point's cluster from the data itself
        cents = S.kmeans_centroids(df, n_cells=6, sample=300)
        cluster = np.argmax(mat @ cents.T, axis=1)
        q = df.limit(5)
        proj = S.random_projection(df, out_dim=32)
        qp = S.random_projection(q, out_dim=32)
        approx = S.brute_force_topk(proj, qp, k=10).collect()
        same = [cluster[r.query_id] == cluster[r.neighbor_id] for r in approx]
        assert sum(same) / len(same) >= 0.8, sum(same) / len(same)


class TestQuantization:
    def test_roundtrip_error_bounded(self, spark):
        import numpy as np

        pts, df = _clustered_df(spark, n=100, dim=64)
        q = S.quantize_embeddings(df)
        back = S.dequantize_embeddings(q, out_col="deq")
        rows = back.select("vec_id", "embedding", "deq", "qscale").collect()
        for r in rows:
            orig = np.array(r.embedding)
            deq = np.array(r.deq)
            step = r.qscale / 127
            assert np.all(np.abs(orig - deq) <= step / 2 + 1e-9)

    def test_cosine_distortion_small(self, spark):
        import numpy as np

        pts, df = _clustered_df(spark, n=50, dim=64)
        back = S.dequantize_embeddings(S.quantize_embeddings(df), out_col="deq")
        for r in back.collect():
            a, b = np.array(r.embedding), np.array(r.deq)
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert cos > 0.995, cos

    def test_codes_in_int8_range_and_zero_vector(self, spark):
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[0.0, 0.0]),
             Row(vec_id=2, embedding=[1.0, -1.0, 0.5])])
        rows = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
        assert rows[1].qvec == [0, 0] and rows[1].qscale == 0.0
        assert rows[2].qvec == [127, -127, 64]
        assert all(-127 <= c <= 127 for r in rows.values() for c in r.qvec)


@pytest.mark.slow
def test_residual_vs_plain_pq_recall_on_clustered_data(spark):
    """VERDICT r4 stretch: the residual option's value MEASURED as
    recall@k, not just reconstruction error. Same m/ks/nprobe, same
    clustered corpus (where residual coding is designed to win): the
    residual codebooks must beat plain PQ by a clear margin. Measured
    0.40 vs 0.19 recall@5 at these parameters; floors leave slack for
    arithmetic drift, the GAP assertion is the point."""
    pts, df = _clustered_df(spark, noise=0.05)
    df = df.cache()
    df.count()
    queries = df.where(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.brute_force_topk(df, queries, k=5).collect()}
    recalls = {}
    for residual in (False, True):
        idx = S.train_ann_index(df, n_cells=16, m=8, ks=16,
                                residual=residual)
        got = {(r.query_id, r.neighbor_id)
               for r in S.ivfpq_topk(df, queries, k=5, nprobe=4,
                                     index=idx).collect()}
        recalls[residual] = len(exact & got) / len(exact)
    df.unpersist()
    assert recalls[True] >= 0.30, recalls
    assert recalls[True] >= recalls[False] + 0.10, recalls


def test_refresh_ann_index_retrains_only_when_stale(spark, sf_dir, tmp_path):
    """The ensure-current policy (round 12): absent -> trains; fresh ->
    one metadata read, NO retraining; timeline moved -> retrains once."""
    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    publish_segments(emb.where(F.col("vec_id") % 2 == 0), root, "emb",
                     version="v1", time_column="ts", bucket="DAY")
    spec = {"granularity": "NONE", "dimensions": ["vec_id"],
            "metrics": [{"name": "embedding", "type": "complex"}]}
    kw = dict(spec=spec, n_cells=8, m=8, ks=8, sample=512)

    idx, refreshed = S.refresh_ann_index(spark, root, "emb", **kw)
    assert refreshed and int(idx["n_cells"]) == 8

    # fresh: same artifact back, no retrain
    idx2, refreshed2 = S.refresh_ann_index(spark, root, "emb", **kw)
    assert not refreshed2
    assert idx2["corpus_version"] == idx["corpus_version"]

    # timeline moves -> exactly one retrain against the new view
    publish_segments(emb.where(F.col("vec_id") % 2 == 1), root, "emb",
                     version="v2", time_column="ts", bucket="DAY")
    idx3, refreshed3 = S.refresh_ann_index(spark, root, "emb", **kw)
    assert refreshed3
    assert idx3["corpus_version"] == S.table_corpus_version(root, "emb")
    assert idx3["corpus_version"] != idx["corpus_version"]
    _, refreshed4 = S.refresh_ann_index(spark, root, "emb", **kw)
    assert not refreshed4


def test_materialized_ivf_postings_lifecycle(spark, sf_dir, tmp_path):
    """Persisted IVF postings (round 12): per-segment (id, vec, cell)
    files through the materialization scaffold — query == the raw-path
    ivf_topk with the same index, incremental build computes only new
    segments, and a RETRAIN (different centroids) refuses both build
    and read while a drift re-stamp stays valid."""
    from druid_hadoop_utils_spark.sources.dml import delete_where
    from druid_hadoop_utils_spark.sources.ingest import publish_segments
    from druid_hadoop_utils_spark.sources.materialize import (
        materialize_postings,
        read_postings,
    )

    root = str(tmp_path)
    # even vec_ids on day 1, odd on day 2 — the two publishes land in
    # DIFFERENT buckets (same-bucket same-interval would overshadow)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "ts", F.when(F.col("vec_id") % 2 == 0,
                     F.lit("2024-01-01 00:00:00"))
              .otherwise(F.lit("2024-01-02 00:00:00"))
              .cast("timestamp"))
    publish_segments(emb.where(F.col("vec_id") % 2 == 0), root, "emb",
                     version="v1", time_column="ts", bucket="DAY")
    spec = {"granularity": "NONE", "dimensions": ["vec_id"],
            "metrics": [{"name": "embedding", "type": "complex"}]}
    S.publish_ann_index(spark, root, "emb", spec=spec, n_cells=8,
                        sample=512)
    idx = S.load_published_ann_index(root, "emb")

    done = materialize_postings(spark, root, "emb", "ivf")
    assert len(done) == 1
    post = read_postings(spark, root, "emb", "ivf")
    n_corpus = emb.where(F.col("vec_id") % 2 == 0).count()
    assert post.count() == n_corpus
    assert post.agg(F.max("__cell")).collect()[0][0] < 8

    # query equivalence: postings path == raw assignment path, exactly
    from druid_hadoop_utils_spark.plans.planner import load as eng_load

    corpus = eng_load(spark, root, spec,
                      interval="1970-01-01/3000-01-01",
                      data_source="emb")
    queries = corpus.where(F.col("vec_id") < 6)
    raw = {(r.query_id, r.neighbor_id, round(r.cos_sim, 9))
           for r in S.ivf_topk(corpus, queries, k=5, nprobe=3,
                               index=idx).collect()}
    via = {(r.query_id, r.neighbor_id, round(r.cos_sim, 9))
           for r in S.ivf_topk_from_postings(post, queries, k=5,
                                             nprobe=3,
                                             index=idx).collect()}
    assert via == raw and raw

    # incremental: a second publish computes ONLY its own segment (the
    # existing centroids keep quantizing new data — no retrain needed)
    publish_segments(emb.where(F.col("vec_id") % 2 == 1), root, "emb",
                     version="v2", time_column="ts", bucket="DAY")
    done2 = materialize_postings(spark, root, "emb", "ivf")
    assert len(done2) == 1 and done2[0] not in done
    assert read_postings(spark, root, "emb", "ivf").count() == emb.count()

    # a real RETRAIN (new centroids) must refuse build AND read
    S.publish_ann_index(spark, root, "emb", spec=spec, n_cells=4,
                        sample=256)
    with pytest.raises(ValueError, match="retrained|different spec"):
        materialize_postings(spark, root, "emb", "ivf")
    with pytest.raises(ValueError, match="retrained"):
        read_postings(spark, root, "emb", "ivf")

    # rebuild under a new name against the retrained index; then a
    # small DML + drift RE-STAMP keeps the same centroids, so the
    # postings stay valid and catch-up covers only the rewritten bucket
    materialize_postings(spark, root, "emb", "ivf2")
    delete_where(spark, root, "emb",
                 {"type": "selector", "dimension": "vec_id",
                  "value": "1"})
    _, retrained = S.refresh_ann_index(spark, root, "emb",
                                       max_drift_fraction=0.5,
                                       spec=spec, n_cells=4, sample=256)
    assert not retrained  # re-stamped: 1 net change / 500 trained rows
    materialize_postings(spark, root, "emb", "ivf2")
    assert read_postings(spark, root, "emb", "ivf2").count() == \
        emb.count() - 1


def test_compact_postings(spark, sf_dir, tmp_path):
    """compact_postings (round 12): the per-segment postings union
    collapses to ONE timeline-version-named tree; any table change
    makes it stale by NAME (readers fall back to the union), and
    vacuum reclaims only stale trees."""
    import os

    from druid_hadoop_utils_spark.sources.dml import delete_where
    from druid_hadoop_utils_spark.sources.ingest import publish_segments
    from druid_hadoop_utils_spark.sources.materialize import (
        compact_postings,
        materialize_postings,
        read_postings,
        vacuum_materialized,
    )

    root = str(tmp_path)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "ts", F.when(F.col("vec_id") % 2 == 0,
                     F.lit("2024-01-01 00:00:00"))
              .otherwise(F.lit("2024-01-02 00:00:00"))
              .cast("timestamp"))
    publish_segments(emb, root, "emb", version="v1", time_column="ts",
                     bucket="DAY")  # 2 day segments
    spec = {"granularity": "NONE", "dimensions": ["vec_id"],
            "metrics": [{"name": "embedding", "type": "complex"}]}
    S.publish_ann_index(spark, root, "emb", spec=spec, n_cells=8,
                        sample=512)
    materialize_postings(spark, root, "emb", "ivf")
    before = {(r["vec_id"], r["__cell"])
              for r in read_postings(spark, root, "emb", "ivf")
              .select("vec_id", "__cell").collect()}

    path = compact_postings(spark, root, "emb", "ivf")
    assert "_compact." in path
    post = read_postings(spark, root, "emb", "ivf")
    # the read now serves from the single compact tree
    assert all("_compact." in f for f in post.inputFiles())
    got = {(r["vec_id"], r["__cell"])
           for r in post.select("vec_id", "__cell").collect()}
    assert got == before
    # idempotent: already-current tree returned without a rewrite
    assert compact_postings(spark, root, "emb", "ivf") == path

    # DML flips the timeline version: the compact tree is stale by
    # NAME, the read refuses until catch-up (missing new-bucket state),
    # then serves the per-segment union again
    delete_where(spark, root, "emb",
                 {"type": "selector", "dimension": "vec_id",
                  "value": "2"})
    with pytest.raises(FileNotFoundError, match="no state"):
        read_postings(spark, root, "emb", "ivf")
    materialize_postings(spark, root, "emb", "ivf")
    union_again = read_postings(spark, root, "emb", "ivf")
    assert not any("_compact." in f for f in union_again.inputFiles())
    assert union_again.count() == emb.count() - 1

    # re-compact: a NEW tree; vacuum reclaims exactly the stale one —
    # but only past the age floor (r13 / ADVICE r12): Spark reads are
    # lazy, so an in-flight reader of the just-staled tree must get
    # grace before reclamation
    path2 = compact_postings(spark, root, "emb", "ivf")
    assert path2 != path
    stale_stem = os.path.basename(path)[:-len(".parquet")]
    kept = vacuum_materialized(root, "emb", "ivf")  # default 6 h floor
    assert stale_stem not in kept
    reclaimed = vacuum_materialized(root, "emb", "ivf", tmp_min_age_s=0)
    assert stale_stem in reclaimed
    served = read_postings(spark, root, "emb", "ivf")
    assert all("_compact." in f for f in served.inputFiles())
    assert served.count() == emb.count() - 1


def test_refresh_ann_index_drift_tolerance(spark, sf_dir, tmp_path):
    """max_drift_fraction (round 12): small DML re-stamps the artifact
    instead of retraining (the quantizer is a density sketch — 100 TB
    tables cannot afford a full retrain per 0.1% merge); drift is
    CUMULATIVE since training, so repeated small changes eventually
    cross the bound and force the retrain."""
    import numpy as np

    from druid_hadoop_utils_spark.sources.dml import delete_where
    from druid_hadoop_utils_spark.sources.ingest import publish_segments

    root = str(tmp_path)
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    publish_segments(emb, root, "emb", version="v1", time_column="ts",
                     bucket="DAY")  # 500 rows at sf0.001
    spec = {"granularity": "NONE", "dimensions": ["vec_id"],
            "metrics": [{"name": "embedding", "type": "complex"}]}
    kw = dict(spec=spec, n_cells=8, sample=512)

    idx, trained = S.refresh_ann_index(spark, root, "emb", **kw)
    assert trained and idx["trained_rows"] == 500
    assert idx["trained_as_of"] is not None

    # ~4% of rows deleted: stale by timeline version, inside the bound
    delete_where(spark, root, "emb",
                 {"type": "bound", "dimension": "vec_id", "upper": "20",
                  "upperStrict": True, "ordering": "numeric"})
    idx2, r2 = S.refresh_ann_index(spark, root, "emb",
                                   max_drift_fraction=0.2, **kw)
    assert not r2  # re-stamped, NOT retrained
    assert np.array_equal(idx2["centroids"], idx["centroids"])
    assert idx2["trained_as_of"] == idx["trained_as_of"]
    # the restamp makes the strict loader accept the artifact again
    got = S.load_published_ann_index(root, "emb")
    assert got["corpus_version"] == S.table_corpus_version(root, "emb")

    # another ~16%: CUMULATIVE drift (~20% of 500) crosses the bound
    delete_where(spark, root, "emb",
                 {"type": "bound", "dimension": "vec_id", "upper": "101",
                  "upperStrict": True, "ordering": "numeric"})
    idx3, r3 = S.refresh_ann_index(spark, root, "emb",
                                   max_drift_fraction=0.2, **kw)
    assert r3  # retrained against the current view
    assert idx3["trained_rows"] == 399
    assert idx3["trained_as_of"] != idx["trained_as_of"]

    # default (0.0) keeps the strict behavior: any move retrains
    delete_where(spark, root, "emb",
                 {"type": "selector", "dimension": "vec_id",
                  "value": "499"})
    _, r4 = S.refresh_ann_index(spark, root, "emb", **kw)
    assert r4


@pytest.mark.parametrize("residual", [False, True])
def test_fused_assign_encode_equals_separate_udfs(spark, residual):
    """The fused corpus-side UDF must emit exactly the cell of
    ``_cell_assign_udf`` (nprobe=1) and the codes of ``_pq_encode_udf``
    (with centroids in residual mode) — bit-identical, row by row."""
    import numpy as np

    pts, df = _clustered_df(spark, n=300, n_centers=6, dim=16, seed=5)
    rng = np.random.RandomState(3)
    centroids = rng.standard_normal((6, 16))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    codebooks = rng.standard_normal((4, 8, 4)) * 0.3
    fused = S._assign_encode_udf(codebooks, centroids, residual)
    encode = S._pq_encode_udf(codebooks, centroids if residual else None)
    cells = S._cell_assign_udf(centroids, 1)
    out = (df.withColumn("f", fused("embedding"))
             .select("vec_id", "f.cell", "f.code",
                     cells("embedding")[0].alias("cell_sep"),
                     encode("embedding").alias("code_sep"))
             .collect())
    assert len(out) == 300
    for r in out:
        assert r.cell == r.cell_sep
        assert list(r.code) == list(r.code_sep)
