"""Similarity search over embedding columns (``array<float>``).

Two paths, as a 100 TB design demands:

- ``brute_force_topk``: exact cosine top-k of a SMALL query set against the
  full corpus. The query side is broadcast (no shuffle of the corpus); the
  dot product is a built-in ``zip_with``/``aggregate`` fold in codegen; the
  per-query top-k is a window over (query, score). Corpus is scanned once.
- ``lsh_topk``: approximate top-k at corpus scale via random-hyperplane LSH
  (SimHash for cosine): L independent tables of b-bit signatures; candidate
  = signature match in any table; exact cosine re-ranking only on
  candidates. Hyperplanes are seeded numpy — deterministic — and enter the
  plan as broadcast literals.

Embedding near-duplicate detection reuses the same machinery with a
threshold instead of k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with the norms supplied as PRE-COMPUTED columns.

    ``cosine()`` inlines three O(dim) aggregate folds per evaluation (dot
    + both norms); inside a candidate join each corpus/query row is
    scored against many counterparts, so the norm folds re-run once per
    PAIR. Projecting ``norm(v)`` once per ROW before the join and
    dividing by the product leaves one fold (the dot) per pair — same
    expression tree for the norm, evaluated earlier, so the doubles (and
    the division) are bit-identical to ``cosine()`` (guide §1.2 step 2:
    per-task work; oracle-pinned at every call site)."""
    return dot(a, b) / (na * nb)


def normalize(a: Column) -> Column:
    """L2-normalized copy of an embedding (zero vectors pass through)."""
    n = norm(a)
    return F.when(n == 0, a).otherwise(
        F.transform(a, lambda x: (x.cast("double") / n).cast("float"))
    )


def mean_pool(df: DataFrame, keys: list[str], vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean embedding per key group — pooling chunk embeddings
    back to document level. Positional explode → (key, pos) average →
    re-assemble sorted — all builtins with map-side partial aggregation,
    no UDF, no collect; works for any dimensionality without declaring it."""
    exploded = df.select(
        *keys, F.posexplode(F.col(vec_col)).alias("__pos", "__v")
    )
    pooled = exploded.groupBy(*keys, "__pos").agg(
        F.avg(F.col("__v").cast("double")).alias("__m")
    )
    return (
        pooled.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__m")))
            ).alias("__pm")
        )
        .select(
            *keys,
            F.transform(F.col("__pm"), lambda s: s["__m"]).alias(vec_col),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self-matches excluded).

    Returns (query_id, neighbor_id, cos_sim) with rank ties broken by
    neighbor id for determinism.
    """
    from druid_hadoop_utils_spark.operators.dedup import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    ))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), F.col("__cn")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def similar_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold — exact all-pairs comparison, for
    oracle verification at test scales. The scale path is
    ``lsh_similar_pairs``."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                  norm(F.col(vec_col)).alias("__na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                  norm(F.col(vec_col)).alias("__nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                _cosine_pre(F.col("__va"), F.col("__vb"),
                            F.col("__na"), F.col("__nb")).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((tables, bits, dim))


def _signature_udf(planes: np.ndarray):
    """Per-table b-bit hyperplane signatures as ``array<long>``.

    Implemented as an Arrow-batched pandas UDF doing ONE numpy matmul per
    batch: the builtin-expression alternative (tables×bits literal-array
    dot folds) generates a multi-thousand-node codegen tree that takes
    longer to compile and run than the actual math. The planes matrix
    rides to executors inside the closure (a few KB).
    """
    from pyspark.sql.functions import pandas_udf

    tables, bits, dim = planes.shape
    flat = planes.reshape(tables * bits, dim).T  # dim × (tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # n × dim
        signs = (mat.astype(np.float64) @ flat) >= 0  # n × tables*bits
        per_table = signs.reshape(len(mat), tables, bits) @ weights  # n × tables
        return pd.Series(list(per_table))

    return sigs


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 8,
    sample: int = 4096,
    seed: int = 42,
) -> np.ndarray:
    """Coarse-quantizer centroids for IVF: Lloyd's k-means on a driver-side
    sample (deterministic seed). At 100 TB the sample is still thousands of
    rows — the centroids are tiny and ride to executors as a closure.

    The sample is ordered by a seeded hash of the vector itself, so it —
    and therefore the centroids — is identical across repartitioned /
    re-laid-out copies of the same data (a bare ``limit`` would depend on
    file order). ``orderBy + limit`` plans as TakeOrderedAndProject: a
    per-partition top-k, no global sort shuffle."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "kmeans_centroids: no vectors to sample — empty corpus or "
            "all-null vector column"
        )
    mat = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    if len(mat) < n_cells:
        raise ValueError(
            f"kmeans_centroids: sample yielded {len(mat)} vectors but "
            f"n_cells={n_cells} — shrink n_cells or raise sample"
        )
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=n_cells, replace=False)]
    for _ in range(iterations):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
    return centroids


def refine_centroids(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    iterations: int = 2,
) -> np.ndarray:
    """Distributed Lloyd's refinement over the FULL corpus: the driver
    sample that seeds ``kmeans_centroids`` stops being representative when
    the corpus is 100 TB and the sample is 4096 rows — a couple of
    full-data iterations fix the centroids where the mass actually is.

    Each iteration is one distributed job: map-side nearest-centroid
    assignment (one numpy matmul per Arrow batch), then per-(cell, dim)
    partial sums — posexplode feeds a hash aggregate whose map-side
    combine reduces every partition to ≤ n_cells × dim rows before the
    shuffle, so the exchange and the driver collect are O(n_cells × dim)
    regardless of corpus size. Empty cells keep their previous centroid
    (standard Lloyd's convention). Spherical k-means: vectors and the
    resulting means are L2-normalized.
    """
    cent = np.asarray(centroids, dtype=np.float64)
    if cent.ndim != 2:
        raise ValueError(
            f"refine_centroids: centroids must be 2-D (n_cells × dim), "
            f"got shape {cent.shape}"
        )
    n_cells, dim = cent.shape
    for _ in range(iterations):
        assign = _cell_assign_udf(cent, 1)
        stats = (
            corpus.select(
                F.explode(assign(F.col(vec_col))).alias("__cell"),
                normalize(F.col(vec_col)).alias("__nv"),
            )
            .select("__cell", F.posexplode("__nv").alias("__pos", "__x"))
            .groupBy("__cell", "__pos")
            .agg(F.sum("__x").alias("__s"), F.count("*").alias("__n"))
            .collect()
        )
        sums = np.zeros((n_cells, dim))
        counts = np.zeros(n_cells)
        for r in stats:
            sums[r["__cell"], r["__pos"]] = r["__s"]
            counts[r["__cell"]] = r["__n"]
        new = cent.copy()
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        cent = new / np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
    return cent


def _cell_assign_udf(centroids: np.ndarray, nprobe: int):
    """Top-``nprobe`` nearest centroid ids per vector — one numpy matmul
    per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids.T  # dim × cells

    @pandas_udf("array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent  # n × cells
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    index: dict | str | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single nearest
    cell; each query probes its ``nprobe`` nearest cells; exact cosine
    re-ranks the probed candidates.

    Plan shape: corpus assigned map-side (one matmul per batch), ONE
    shuffle on the cell id to meet the broadcast query probes, window
    top-k. Candidate volume ≈ corpus × nprobe / n_cells — tunable recall
    vs cost, independent of corpus size.

    Pass ``index`` (a ``train_ann_index`` artifact or a path to one) to
    skip in-plan training entirely — the production path: train once at
    publish time, every query is then distributed work only.
    """
    idx = _resolve_index(index)
    if idx is not None:
        centroids = np.asarray(idx["centroids"], dtype=np.float64)
        n_cells = int(idx["n_cells"])
    if centroids is None:
        centroids = kmeans_centroids(corpus, vec_col, n_cells, seed=seed)
    assign1 = _cell_assign_udf(centroids, 1)
    assignp = _cell_assign_udf(centroids, nprobe)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        F.explode(assign1(F.col(vec_col))).alias("__cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        F.explode(assignp(F.col(vec_col))).alias("__cell"),
    )
    cands = (
        c.join(F.broadcast(q), "__cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), F.col("__cn")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any of the L
    table signatures with the query; exact cosine re-rank of candidates.

    Plan shape: corpus scanned once per plan, signatures computed map-side,
    one shuffle on (table, signature) to meet query buckets (query side
    broadcast), then window top-k. Recall is tunable via bits/tables.
    """
    planes = _hyperplanes(dim, bits, tables, seed)

    from druid_hadoop_utils_spark.operators.dedup import spread

    sig_udf = _signature_udf(planes)

    def with_sigs(df: DataFrame, idname: str) -> DataFrame:
        df = spread(df.select(F.col(id_col), F.col(vec_col)))
        # the norm projects BEFORE the posexplode: one O(dim) fold per
        # row, carried (not recomputed) through the ×tables Generate and
        # the candidate join
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"__{idname}_v"),
            norm(F.col(vec_col)).alias(f"__{idname}_n"),
            F.posexplode(sig_udf(F.col(vec_col))).alias("__t", "__sig"),
        )

    cq = with_sigs(queries, "query_id")
    cc = with_sigs(corpus, "neighbor_id")
    cands = (
        cc.join(F.broadcast(cq), ["__t", "__sig"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        # cosine BEFORE the pair-dedup: a multi-table hit re-scores the
        # same pair (bounded by `tables`, cheap map-side math), but the
        # dedup exchange then carries one double per row instead of two
        # float vectors (guide §2.3 — shuffle keys and scalars, not
        # payloads), and the aggregate is a codegen HashAggregate on
        # min(double) rather than the r14 SortAggregate buffering
        # first(array<float>) twice (duplicate hits score identically,
        # so min == first — pinned by the oracle hash)
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(F.col("__query_id_v"), F.col("__neighbor_id_v"),
                        F.col("__query_id_n"), F.col("__neighbor_id_n")).alias("__cos"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("__cos").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


# ------------------------------------------------------------- product quantization


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    iterations: int = 8,
    sample: int = 4096,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` contiguous subvectors and k-means each subspace to ``ks``
    centroids — trained on the same layout-stable hash-ordered driver
    sample as ``kmeans_centroids``. Returns m × ks × (dim/m) float64.

    The codebooks are tiny (m·ks·dsub floats) and ride to executors as a
    closure; at 100 TB the corpus stores m small codes per vector instead
    of dim floats (32× compression at dim=64/m=8/float32) — the memory
    lever that makes billion-vector ANN fit a cluster.

    Pass IVF ``centroids`` to train RESIDUAL codebooks (Jégou et al.'s
    IVFADC): each sample vector is replaced by ``v − centroid[cell(v)]``
    before subspace k-means. Residuals have the coarse structure
    explained away, so the same m/ks budget quantizes what's LEFT more
    finely — the standard billion-vector recall lever."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col), F.lit(seed)))
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError(
            "pq_train: no vectors to sample — empty corpus or all-null "
            "vector column"
        )
    mat = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    if len(mat) < ks:
        raise ValueError(
            f"pq_train: sample yielded {len(mat)} vectors but ks={ks} — "
            f"shrink ks or raise sample"
        )
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    if centroids is not None:
        assign = np.argmax(mat @ centroids.T, axis=1)
        mat = mat - centroids[assign]
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, ks, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=ks, replace=False)]
        for _ in range(iterations):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ks):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


# ------------------------------------------------------------- index lifecycle


ANN_INDEX_FORMAT = 1


def train_ann_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int | None = None,
    ks: int = 16,
    iterations: int = 8,
    sample: int = 4096,
    seed: int = 42,
    corpus_version: str | None = None,
    residual: bool = False,
    refine_iters: int = 0,
) -> dict:
    """Train the ANN index ONCE and return a small persistable artifact.

    ``refine_iters > 0`` runs that many distributed full-corpus Lloyd's
    iterations (``refine_centroids``) after the sample-seeded k-means —
    at 100 TB the 4096-row driver sample only sketches the density, and
    index build is exactly the place to spend full scans so query time
    never has to.

    ``residual=True`` trains the PQ codebooks on IVF residuals
    (``v − centroid[cell]``) — Jégou et al.'s IVFADC — and stamps the
    artifact so ``ivfpq_topk`` encodes/scores consistently.

    A real pipeline builds the coarse quantizer (and, with ``m`` set, the
    PQ codebooks) when the corpus is published, stores the artifact beside
    the segment metadata (``save_ann_index(idx, f"{table}/_ann_index.json")``
    is the convention), and every later query loads it — query time never
    re-scans the corpus for a training sample. ``corpus_version`` is the
    invalidation hook: stamp it with the corpus' publish version (or row
    count) and ``load_ann_index(path, expect_corpus_version=...)`` refuses
    a stale artifact, forcing a retrain on corpus change.

    The artifact is tiny — n_cells×dim centroids plus, for IVF-PQ,
    m×ks×(dim/m) codebook floats (a few hundred KB even at production
    n_cells=65k/dim=768) — so JSON beside the segments is fine; it rides
    to executors as a broadcast-sized closure exactly like the per-call
    training path did.
    """
    centroids = kmeans_centroids(
        corpus, vec_col, n_cells, iterations=iterations, sample=sample, seed=seed
    )
    if refine_iters > 0:
        centroids = refine_centroids(
            corpus, centroids, vec_col, iterations=refine_iters
        )
    index: dict = {
        "format": ANN_INDEX_FORMAT,
        "n_cells": n_cells,
        "dim": int(centroids.shape[1]),
        "seed": seed,
        "corpus_version": corpus_version,
        "centroids": centroids,
        "codebooks": None,
        "m": None,
        "ks": None,
        "residual": bool(residual and m is not None),
    }
    if m is not None:
        index["codebooks"] = pq_train(
            corpus, vec_col, m=m, ks=ks, iterations=iterations,
            sample=sample, seed=seed,
            centroids=centroids if residual else None,
        )
        index["m"], index["ks"] = m, ks
    return index


def centroid_hash(centroids) -> str:
    """Content identity of a coarse quantizer — what persisted IVF
    postings bind to (sources/materialize.py). Deliberately NOT the
    index's ``corpus_version``: a drift-tolerant re-stamp keeps the
    centroid values (postings stay valid), a retrain changes them
    (postings must refuse)."""
    import hashlib

    arr = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    return hashlib.md5(arr.tobytes()).hexdigest()


def ivf_topk_from_postings(
    postings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    index: dict | str | None = None,
) -> DataFrame:
    """``ivf_topk`` over PRE-ASSIGNED postings (``materialize_postings``
    / ``read_postings``): identical results to ``ivf_topk`` with the
    same index and nprobe, but the corpus-side cell assignment — a
    full-corpus Arrow pass per query batch — is already on disk. Only
    the (tiny, broadcast) query side runs the assign UDF; the plan is
    the cell join + exact cosine re-rank + window top-k, so query cost
    is the candidate volume (corpus × nprobe / n_cells), never the
    corpus."""
    idx = _resolve_index(index)
    if idx is None:
        raise ValueError(
            "ivf_topk_from_postings requires the index the postings "
            "were built against (artifact dict or path)")
    centroids = np.asarray(idx["centroids"], dtype=np.float64)
    assignp = _cell_assign_udf(centroids, nprobe)
    q_plan = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        F.explode(assignp(F.col(vec_col))).alias("__cell"),
    )
    # queries are the tiny broadcast side by contract, so collecting the
    # assigned rows is bounded driver metadata (≤ |queries| × nprobe).
    # Recreating them as a LOCAL frame (collect-and-recreate, not
    # persist) means the assign UDF's Arrow pass runs exactly ONCE and
    # nothing stays cached past this call — a persist() here would
    # accumulate query frames across calls in a long-lived session
    # until LRU eviction. The probed-cell set (≤ n_cells) becomes a
    # literal IN predicate that prunes the cell-partitioned postings
    # directories — the scan reads ~nprobe/n_cells of the bytes instead
    # of the whole postings table.
    q_rows = q_plan.collect()
    probed = sorted({r["__cell"] for r in q_rows})
    q = queries.sparkSession.createDataFrame(q_rows, q_plan.schema)
    c = postings.where(F.col("__cell").isin(probed)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
        F.col("__cell"),
    )
    cands = (
        c.join(F.broadcast(q), "__cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), F.col("__cn")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.col("neighbor_id"))
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def save_ann_index(index: dict, path: str) -> str:
    """Persist an ANN index artifact as JSON through the filesystem
    seam's atomic put (sources/fs.py) — a crashed writer never leaves a
    truncated artifact beside live segments, on POSIX or object-store
    roots alike."""
    import json
    import os

    from druid_hadoop_utils_spark.sources.fs import get_fs

    doc = dict(index)
    doc["centroids"] = np.asarray(index["centroids"]).tolist()
    if index.get("codebooks") is not None:
        doc["codebooks"] = np.asarray(index["codebooks"]).tolist()
    fs = get_fs(path)
    if "://" not in path:
        path = os.path.abspath(path)
    fs.put_text(path, json.dumps(doc))
    return path


def load_ann_index(path: str, expect_corpus_version: str | None = None) -> dict:
    """Load a persisted ANN index; numpy arrays restored. When
    ``expect_corpus_version`` is given, a mismatch raises — the caller
    retrains instead of silently querying a stale quantizer."""
    import json

    from druid_hadoop_utils_spark.sources.fs import get_fs

    doc = json.loads(get_fs(path).read_text(path))
    if doc.get("format") != ANN_INDEX_FORMAT:
        raise ValueError(
            f"load_ann_index: unsupported artifact format {doc.get('format')!r} "
            f"(supported: {ANN_INDEX_FORMAT}) at {path}"
        )
    if expect_corpus_version is not None and doc.get("corpus_version") != expect_corpus_version:
        raise ValueError(
            f"load_ann_index: stale index at {path} — trained on corpus_version="
            f"{doc.get('corpus_version')!r}, current is {expect_corpus_version!r}; "
            "retrain with train_ann_index"
        )
    doc["centroids"] = np.asarray(doc["centroids"], dtype=np.float64)
    if doc.get("codebooks") is not None:
        doc["codebooks"] = np.asarray(doc["codebooks"], dtype=np.float64)
    return doc


def _resolve_index(index: dict | str | None) -> dict | None:
    if index is None:
        return None
    if isinstance(index, str):
        return load_ann_index(index)
    return index


def table_corpus_version(table_root: str, data_source: str) -> str:
    """Corpus-version stamp for a MANAGED segment table: the md5 of the
    sorted visible manifest identifiers. Any publish, compaction, drop,
    or vacuum changes it, so an ANN index trained against one timeline
    state refuses to load after the corpus changes — without scanning a
    single data row. Alias of ``sources.segments.timeline_version`` (the
    same stamp also keys the query result cache)."""
    from druid_hadoop_utils_spark.sources.segments import timeline_version

    return timeline_version(table_root, data_source)


def ann_index_path(table_root: str, data_source: str) -> str:
    """Convention: the artifact lives beside the table's ``_segments/``."""
    import os

    return os.path.join(table_root, data_source, "_ann_index.json")


def publish_ann_index(
    spark,
    table_root: str,
    data_source: str,
    spec: dict | None = None,
    vec_col: str = "embedding",
    interval: str = "1970-01-01/3000-01-01",
    **train_kwargs,
) -> str:
    """Train the ANN index over a managed segment table's CURRENT visible
    rows and persist it beside ``_segments/``, stamped with the table's
    timeline version — the publish-time half of the index lifecycle. Call
    after (re)publishing embedding segments; queries then use
    ``load_published_ann_index`` and get automatic staleness refusal when
    the timeline has moved."""
    from druid_hadoop_utils_spark.plans.planner import load

    from druid_hadoop_utils_spark.sources.changes import latest_stamp

    spec = spec or {"granularity": "NONE", "dimensions": [],
                    "metrics": [{"name": vec_col, "type": "complex"}]}
    # drift anchor CAPTURED BEFORE the training view resolves, so
    # trained_as_of LOWER-bounds the trained corpus: a publish landing
    # mid-train is then stamped ABOVE the anchor and counts as drift
    # (conservative — forces refresh), instead of sitting at-or-below it
    # where refresh_ann_index's read_changes(from=trained_as_of) would
    # never count those untrained rows.
    try:
        trained_as_of = latest_stamp(table_root, data_source)
    except FileNotFoundError:
        trained_as_of = None
    df = load(spark, table_root, spec, interval=interval,
              data_source=data_source)
    index = train_ann_index(
        df, vec_col=vec_col,
        corpus_version=table_corpus_version(table_root, data_source),
        **train_kwargs,
    )
    # the anchor stamp + corpus size this quantizer was trained against
    # — refresh_ann_index(max_drift_fraction=...) measures net change
    # since trained_as_of against trained_rows. One extra count job
    # (parquet footer metadata) at publish time.
    index["trained_as_of"] = trained_as_of
    index["trained_rows"] = int(df.count())
    return save_ann_index(index, ann_index_path(table_root, data_source))


def load_published_ann_index(table_root: str, data_source: str) -> dict:
    """Query-time half: load the table's index artifact, refusing it if
    the segment timeline changed since training (publish/compact/drop) —
    the caller re-runs ``publish_ann_index`` on refusal."""
    return load_ann_index(
        ann_index_path(table_root, data_source),
        expect_corpus_version=table_corpus_version(table_root, data_source),
    )


def refresh_ann_index(
    spark,
    table_root: str,
    data_source: str,
    max_drift_fraction: float = 0.0,
    **publish_kwargs,
) -> tuple[dict, bool]:
    """The ensure-current policy that closes the index lifecycle loop:
    return the table's published ANN index, retraining ONLY when it is
    absent or stale (the segment timeline moved since training).
    Returns ``(index, refreshed)``.

    The staleness check is one metadata read (the timeline version the
    artifact was stamped with vs the table's current one), so calling
    this before every query batch — or from the same cron that runs
    compaction/vacuum — costs nothing while the table is quiet and
    retrains exactly once per timeline change. Training cost stays
    where ``publish_ann_index`` put it: a driver-side k-means over a
    bounded sample plus one distributed encode pass, amortized across
    every query until the next publish. ``publish_kwargs`` pass through
    to ``publish_ann_index`` (kind, n_cells, m, sample sizes...).

    ``max_drift_fraction > 0`` makes refresh DRIFT-TOLERANT — the
    100 TB policy: a k-means quantizer is a density sketch, and a 0.1%
    daily DML does not move the density, so retraining the whole index
    on every timeline flip wastes the full encode pass. On staleness,
    the net changed-row count since the artifact's TRAINING instant
    (``read_changes`` — O(changed bytes), never a corpus rescan) is
    compared against the trained corpus size; at or under the
    threshold the artifact is re-stamped to the current timeline
    version (one metadata put, ``refreshed=False``), above it the
    index retrains. Drift accumulates against the original training
    instant — repeated small changes cannot creep past the bound — and
    a training instant already vacuumed past the horizon forces a
    retrain.

    Concurrency: the artifact put is last-wins, exactly like two
    concurrent ``publish_ann_index`` retrains always were — a restamp
    racing a retrain can briefly resurrect the pre-retrain centroids.
    Run refresh from the table's single maintenance cron (where
    compaction/vacuum already live); postings readers are safe either
    way (they bind to centroid content, sources/materialize.py)."""
    try:
        return load_published_ann_index(table_root, data_source), False
    except FileNotFoundError:
        pass
    except ValueError:
        # staleness refusal: maybe the drift is small enough to keep
        if max_drift_fraction > 0:
            kept = _restamp_within_drift(spark, table_root, data_source,
                                         max_drift_fraction)
            if kept is not None:
                return kept, False
    # absent, or drifted past the bound: retrain against the CURRENT view
    publish_ann_index(spark, table_root, data_source, **publish_kwargs)
    return load_published_ann_index(table_root, data_source), True


def _restamp_within_drift(spark, table_root: str, data_source: str,
                          max_drift_fraction: float) -> dict | None:
    """Re-stamp the stale artifact if the corpus drifted at or under the
    bound since TRAINING; None = caller must retrain."""
    from druid_hadoop_utils_spark.sources.changes import read_changes

    path = ann_index_path(table_root, data_source)
    try:
        raw = load_ann_index(path)
    except (FileNotFoundError, ValueError):
        return None
    t0 = raw.get("trained_as_of")
    n0 = raw.get("trained_rows")
    if not t0 or not n0:
        return None  # pre-drift-anchor artifact: retrain once to gain them
    try:
        feed = read_changes(spark, table_root, data_source, t0)
        changed = feed.agg(F.sum("_n")).collect()[0][0] or 0
    except (ValueError, FileNotFoundError):
        # training instant behind the vacuum horizon, or view unreadable
        return None
    if changed / max(int(n0), 1) > max_drift_fraction:
        return None
    raw["corpus_version"] = table_corpus_version(table_root, data_source)
    # trained_as_of / trained_rows stay at the ORIGINAL training values:
    # the next drift check measures cumulative change since training
    save_ann_index(raw, path)
    return raw


def _pq_encode_udf(codebooks: np.ndarray, centroids: np.ndarray | None = None):
    """vector → array<int> of m nearest-centroid codes (one numpy pass per
    Arrow batch; vectors normalized first, matching training). With
    ``centroids`` the RESIDUAL ``v − centroid[cell(v)]`` is encoded (cell
    = argmax dot, identical to ``_cell_assign_udf``'s top-1)."""
    from pyspark.sql.functions import pandas_udf

    m, ks, dsub = codebooks.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        if centroids is not None:
            assign = np.argmax(mat @ centroids.T, axis=1)
            mat = mat - centroids[assign]
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            # ||s - c||² argmin == argmax(s·c - ||c||²/2)
            scores = sub @ codebooks[j].T - 0.5 * (codebooks[j] ** 2).sum(axis=1)
            codes[:, j] = np.argmax(scores, axis=1)
        return pd.Series(list(codes))

    return encode


def _assign_encode_udf(
    codebooks: np.ndarray, centroids: np.ndarray, residual: bool
):
    """Fused corpus-side IVF cell assignment + PQ encoding: ONE Arrow
    crossing per corpus row instead of two. ``ivfpq_topk``'s r15 plan ran
    ``_cell_assign_udf`` and ``_pq_encode_udf`` as two ArrowEvalPython
    nodes, each shipping the full embedding column JVM→Python→JVM and
    each normalizing the batch (guide §4.1: you control how many columns
    cross and how often). The math is byte-for-byte the originals':
    cell = ``argsort(-sims)[:, 0]`` (``_cell_assign_udf``'s nprobe=1
    column, including its tie behavior), codes use ``argmax`` assignment
    in residual mode (``_pq_encode_udf``'s convention) — so outputs are
    identical, there is just one boundary crossing."""
    from pyspark.sql.functions import pandas_udf

    m, ks, dsub = codebooks.shape
    cent_t = centroids.T  # dim × cells

    @pandas_udf("struct<cell:int, code:array<int>>")
    def assign_encode(vecs: pd.Series) -> pd.DataFrame:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent_t  # n × cells
        cells = np.argsort(-sims, axis=1)[:, 0].astype(np.int32)
        enc = mat
        if residual:
            # same operands as _pq_encode_udf's mat @ centroids.T
            enc = mat - centroids[np.argmax(sims, axis=1)]
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = enc[:, j * dsub : (j + 1) * dsub]
            scores = sub @ codebooks[j].T - 0.5 * (codebooks[j] ** 2).sum(axis=1)
            codes[:, j] = np.argmax(scores, axis=1)
        return pd.DataFrame({"cell": cells, "code": list(codes)})

    # asNondeterministic: the cell-join's isnotnull(cell) filter otherwise
    # pushes below the struct projection and the optimizer DUPLICATES the
    # UDF — one ArrowEvalPython under the filter, one above for the code
    # field (guide §4.4; observed: two assign_encode nodes, 1.24x slower
    # than unfused). The function is pure; the marker only pins a single
    # evaluation. Values unchanged.
    return assign_encode.asNondeterministic()


def _adc_score_udf(codebooks: np.ndarray, centroids: np.ndarray | None = None):
    """(query_vector, codes[, cell]) → approximate cosine: decode the
    candidate from its codes and dot with the normalized query —
    asymmetric distance computation, all numpy, vectorized across mixed
    queries in a batch. In residual mode the decoded vector is
    ``centroid[cell] + residual``, so the score adds ``q·centroid[cell]``
    (the candidate's OWN cell, not the probed one)."""
    from pyspark.sql.functions import pandas_udf

    m, ks, dsub = codebooks.shape

    if centroids is None:

        @pandas_udf("double")
        def score(qvecs: pd.Series, codes: pd.Series) -> pd.Series:
            q = np.stack(qvecs.to_numpy()).astype(np.float64)
            q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            cd = np.stack(codes.to_numpy()).astype(np.int64)  # n × m
            acc = np.zeros(len(q))
            for j in range(m):
                qsub = q[:, j * dsub : (j + 1) * dsub]
                acc += np.einsum("nd,nd->n", qsub, codebooks[j][cd[:, j]])
            return pd.Series(acc)

        return score

    @pandas_udf("double")
    def score_res(qvecs: pd.Series, codes: pd.Series, cells: pd.Series) -> pd.Series:
        q = np.stack(qvecs.to_numpy()).astype(np.float64)
        q = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
        cd = np.stack(codes.to_numpy()).astype(np.int64)
        cl = cells.to_numpy().astype(np.int64)
        acc = np.einsum("nd,nd->n", q, centroids[cl])
        for j in range(m):
            qsub = q[:, j * dsub : (j + 1) * dsub]
            acc += np.einsum("nd,nd->n", qsub, codebooks[j][cd[:, j]])
        return pd.Series(acc)

    return score_res


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    refine: int | None = None,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    index: dict | str | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ approximate top-k: IVF cells prune the candidate set, PQ
    codes score it in the compressed domain (ADC), and an exact-cosine
    refine pass re-ranks the ``refine`` best ADC candidates per query
    (default 4k; pass ``refine >= corpus size`` with ``nprobe = n_cells``
    and the result EQUALS exact brute force — the oracle configuration).

    Plan shape mirrors ``ivf_topk``: corpus encodes map-side (cell id +
    m-byte code — the full vector is needed only by the refine join), one
    shuffle on the cell id against broadcast query probes, ADC-scored
    window keeps ``refine`` per query, exact cosine re-ranks to k. The
    heavy join carries CODES not vectors, so the shuffled bytes shrink
    ~dim·4/m per candidate even though this demo keeps vectors alongside.
    """
    idx = _resolve_index(index)
    if idx is not None:
        centroids = np.asarray(idx["centroids"], dtype=np.float64)
        n_cells = int(idx["n_cells"])
        if idx.get("codebooks") is None:
            raise ValueError(
                "ivfpq_topk: index artifact has no PQ codebooks — train with "
                "train_ann_index(..., m=...) for the IVF-PQ path"
            )
        codebooks = np.asarray(idx["codebooks"], dtype=np.float64)
        m, ks = int(idx["m"]), int(idx["ks"])
        residual = bool(idx.get("residual", False))
    if centroids is None:
        centroids = kmeans_centroids(corpus, vec_col, n_cells, seed=seed)
    if codebooks is None:
        codebooks = pq_train(
            corpus, vec_col, m=m, ks=ks, seed=seed,
            centroids=centroids if residual else None,
        )
    refine = refine if refine is not None else 4 * k
    if refine < k:
        raise ValueError(f"refine {refine} < k {k}")
    assignp = _cell_assign_udf(centroids, nprobe)
    assign_encode = _assign_encode_udf(codebooks, centroids, residual)
    adc = _adc_score_udf(codebooks, centroids if residual else None)

    # NO corpus-side norm precompute here, unlike ivf_topk/lsh_topk: the
    # exact cosine runs only on the ≤ refine×queries ADC survivors, a set
    # far smaller than the corpus, so a per-corpus-row norm fold would
    # cost more folds than it saves — the survivor's norm is computed
    # inline in the refine projection instead (the query side IS
    # precomputed: |queries| folds pay for themselves immediately).
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        assign_encode(F.col(vec_col)).alias("__ae"),
    ).select(
        "neighbor_id", "__cv",
        F.col("__ae.code").alias("__code"),
        F.col("__ae.cell").alias("__cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
        F.explode(assignp(F.col(vec_col))).alias("__cell"),
    )
    adc_col = (
        adc(F.col("__qv"), F.col("__code"), F.col("__cell"))
        if residual
        else adc(F.col("__qv"), F.col("__code"))
    )
    cands = (
        c.join(F.broadcast(q), "__cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc", adc_col)
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("__adc"), F.col("neighbor_id")
    )
    shortlist = (
        cands.withColumn("__rn", F.row_number().over(w_adc))
        .where(F.col("__rn") <= refine)
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(F.col("__qv"), F.col("__cv"),
                        F.col("__qn"), norm(F.col("__cv"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        shortlist.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    dim: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: map vectors to ``out_dim``
    dimensions through a fixed Gaussian matrix scaled by 1/sqrt(out_dim),
    preserving pairwise distances within the JL distortion bound. The
    dimensionality lever for billion-vector pipelines: shrink embeddings
    BEFORE shuffling/storing them (LSH signatures, cluster assignment,
    near-dup scans all work on the projected vectors at a fraction of the
    I/O).

    The matrix is a deterministic function of (seed, dim, out_dim) — tiny,
    rides as a closure, identical on every executor and every rerun — so
    projected corpora from different jobs remain comparable (values agree
    to the last ulp of the batched BLAS matmul; Arrow batch boundaries can
    flip that final bit, which no downstream approximate op can observe).
    Projection is one numpy matmul per Arrow batch (no per-row Python).
    ``dim`` is inferred from one row when not given (a bounded driver
    lookup; pass it explicitly in pipelines that must not touch the data
    early).
    """
    from pyspark.sql.functions import pandas_udf

    if out_dim <= 0:
        raise ValueError(f"random_projection: out_dim must be positive: {out_dim}")
    if dim is None:
        row = df.where(F.col(vec_col).isNotNull()).select(
            F.size(F.col(vec_col)).alias("n")).first()
        if row is None or row["n"] is None:
            raise ValueError(
                "random_projection: no non-null vectors to infer dim from "
                "— pass dim explicitly"
            )
        dim = int(row["n"])
    if dim <= 0:
        raise ValueError(f"random_projection: dim must be positive: {dim}")
    rng = np.random.RandomState(seed)
    proj = rng.standard_normal((dim, out_dim)) / np.sqrt(out_dim)

    @pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(list(mat @ proj))

    return df.withColumn(out_col or vec_col, project(F.col(vec_col)))


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric int8 scalar quantization: each vector stores as
    ``round(v / scale * 127)`` with ``scale = max(|v|)`` kept per row —
    4× smaller than float32 at <0.5% cosine distortion for typical
    embeddings, composable with IVF (assign on dequantized or original
    vectors). Pure expressions: one ``aggregate`` fold for the scale, one
    ``transform`` for the codes; the rounding is ``floor(x + 0.5)`` so
    the codes are bit-reproducible across engines (SQL-oracle-able,
    unlike IEEE round-half-even).

    Zero vectors quantize to all-zero codes with scale 0.
    """
    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    code = F.when(amax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") / amax * 127 + 0.5).cast("int"),
        )
    )
    return df.withColumn(scale_col, amax).withColumn(out_col, code)


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Invert ``quantize_embeddings``: ``code * scale / 127`` back to
    floats (within one quantization step of the original per element)."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col),
            lambda c: (c.cast("double") * F.col(scale_col) / 127).cast("float"),
        ),
    )
