"""corpus_pipeline: the training-data operators over fresh document
batches. Each pass runs text analysis, exact dedup, MinHash-LSH near-dup
detection, a leakage-safe split, one IVF top-k batch and three BM25 searches.
Python/Arrow operator kernels do the work; no manifest or planner code
runs."""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

import gen
from harness import JobStats, OpLog, error_class, mean, median

FRACTIONS = {"train": 0.9, "valid": 0.05, "test": 0.05}
# minhash_lsh_dedup_pairs' default verification threshold
NEAR_DUP_THRESHOLD = 0.5
TOP_K = 10
NPROBE = 4
N_CELLS = 16
PASS_S = 8.0  # nominal seconds of one pass
# three searches per IVF batch: the median read falls among the BM25
# searches and p90 among the IVF batches, not on the edge between them
BM25_PER_PASS = 3


def setup(ctx, rep_dir: str) -> dict:
    from druid_hadoop_utils_spark.operators import similarity

    rng = np.random.default_rng([ctx.seed, 1])
    corpus = gen.Corpus(rng)
    ids, vecs = corpus.vectors(gen.CORPUS_VECTORS)
    corpus_df = ctx.spark.createDataFrame(gen.vectors_frame(ids, vecs))
    index = similarity.train_ann_index(corpus_df, n_cells=N_CELLS, seed=ctx.seed)
    return {"corpus": corpus, "corpus_df": corpus_df, "ids": ids, "vecs": vecs, "index": index}


def instrument(ctx, captured: list) -> None:
    from druid_hadoop_utils_spark.operators import dedup

    ctx.tracer.instrument(dedup, "lsh_candidate_pairs", "operators.dedup.lsh_candidate_pairs",
                          on_return=lambda rec, df: captured.append(df))


class Pass:
    """One pass over one batch: every stage is one timed op, the
    operator call that builds the DataFrame plus the action that
    consumes it. A traced run also counts the op's Spark tasks."""

    def __init__(self, ctx, state: dict):
        self.ctx = ctx
        self.state = state
        self.jobs = JobStats(ctx.spark) if ctx.tracer.enabled else None

    def stage(self, log: OpLog, kind: str, build, action=lambda df: df.collect()):
        t = self.ctx.tracer
        op_id = f"{kind}-{len(log.ops)}"
        t.op = op_id
        if self.jobs:
            self.jobs.begin(op_id)
        t0 = time.perf_counter()
        try:
            with t.span("op"):
                df = build()
                with t.span("spark.exec"):
                    out = action(df)
        except Exception as e:  # noqa: BLE001 - every failure is counted, by class
            log.record(kind, (time.perf_counter() - t0) * 1e3, False, error_class(e))
            return None
        finally:
            if self.jobs:
                self.jobs.end()
        log.record(kind, (time.perf_counter() - t0) * 1e3, True)
        if self.jobs:
            t.count("spark.tasks", self.jobs.tasks(self.jobs.jobs(op_id)))
        return out

    def run(self, log: OpLog, docs, qvecs, qids, queries) -> dict:
        from druid_hadoop_utils_spark.operators import dedup, sampling, search, similarity, text

        spark = self.ctx.spark
        b = spark.createDataFrame(docs)
        q = spark.createDataFrame(gen.vectors_frame(qids, qvecs))
        return {
            "analysis": self.stage(log, "analysis", lambda: text.with_text_analysis(b),
                                   lambda df: df.write.format("noop").mode("overwrite").save()),
            "groups": self.stage(log, "exact", lambda: dedup.duplicate_groups(
                b, ["text"], "doc_id")),
            "pairs": self.stage(log, "minhash", lambda: dedup.minhash_lsh_dedup_pairs(
                b, "doc_id", threshold=NEAR_DUP_THRESHOLD)),
            "split": self.stage(log, "split", lambda: sampling.leakage_safe_split(
                b, "text", FRACTIONS).select("doc_id", "split")),
            "ivf": self.stage(log, "ivf", lambda: similarity.ivf_topk(
                self.state["corpus_df"], q, k=TOP_K, index=self.state["index"],
                nprobe=NPROBE)),
            "bm25": [self.stage(log, "bm25", lambda: search.bm25_topk(b, terms, k=TOP_K))
                     for terms in queries],
        }


def _brute_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    return np.argsort(-(qn @ cn.T), axis=1)[:, :k]


def _ivf_candidates(index: dict, corpus: np.ndarray, queries: np.ndarray) -> float:
    """Mean corpus vectors a query re-ranks: the sizes of its ``NPROBE``
    nearest cells, with the index's own cosine cell assignment."""
    cent = np.asarray(index["centroids"], dtype=np.float64)
    cent_t = cent.T
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sizes = np.bincount(np.argmax(cn @ cent_t, axis=1), minlength=len(cent))
    probes = np.argsort(-(qn @ cent_t), axis=1)[:, :NPROBE]
    return float(sizes[probes].sum(axis=1).mean())


def check_pass(docs, planted, out, state, qids, qvecs) -> tuple[list[str], dict]:
    """Correctness (exact dedup, split leakage) and quality (near-dup and
    ANN recall) of one pass, computed outside the timed stages."""
    errs = []
    by_text = defaultdict(list)
    for i, txt in zip(docs["doc_id"], docs["text"]):
        by_text[txt].append(int(i))
    if out["groups"] is not None:
        want = sorted((min(v), len(v)) for v in by_text.values())
        have = sorted((int(r["doc_id"]), int(r["dup_count"])) for r in out["groups"])
        if have != want:
            errs.append(f"exact dedup: {len(have)} groups vs {len(want)} by Python hashing")
    if out["split"] is not None:
        split = {int(r["doc_id"]): r["split"] for r in out["split"]}
        if len(split) != len(docs):
            errs.append(f"split: {len(split)} of {len(docs)} docs assigned")
        for ids in by_text.values():
            if len({split.get(i) for i in ids}) > 1:
                errs.append("split: exact duplicates landed in different splits")
                break
    quality = {}
    if out["pairs"] is not None:
        found = {(min(int(r["id_a"]), int(r["id_b"])), max(int(r["id_a"]), int(r["id_b"])))
                 for r in out["pairs"]}
        truth = [(min(a, b), max(a, b)) for a, b, j in planted if j >= NEAR_DUP_THRESHOLD]
        quality["dedup_found"] = sum(1 for p in truth if p in found)
        quality["dedup_planted"] = len(truth)
        quality["lsh_verified"] = len(found)
    if out["ivf"] is not None:
        exact = _brute_topk(state["vecs"], qvecs, TOP_K)
        pos = {int(q): i for i, q in enumerate(qids)}
        got = defaultdict(set)
        for r in out["ivf"]:
            got[int(r["query_id"])].add(int(r["neighbor_id"]))
        hits = sum(len(got[int(q)] & {int(state["ids"][j]) for j in exact[pos[int(q)]]})
                   for q in qids)
        quality["ann_hits"] = hits
        quality["ann_total"] = TOP_K * len(qids)
    return errs, quality


def run(ctx) -> dict:
    state = ctx.setup(setup)
    corpus: gen.Corpus = state["corpus"]
    runner = Pass(ctx, state)

    # warm-up (part of set-up): a full-size pass on a batch the loop
    # never sees starts the Python worker pool, the first Arrow UDF (IVF
    # cell assignment) and codegen at the loop's own batch and query sizes
    warm = gen.Corpus(np.random.default_rng([ctx.seed, 2]))
    wdocs, _ = warm.batch()
    wids, wvecs = corpus.vectors(gen.CORPUS_QUERIES)
    runner.run(OpLog(), wdocs, wvecs, wids,
               [warm.query_terms() for _ in range(BM25_PER_PASS)])
    ctx.setup_done()

    captured: list = []
    instrument(ctx, captured)
    log = OpLog()
    mismatches: list[str] = []
    quality = defaultdict(int)
    lsh_candidates: list[int] = []
    cand_per_query: list[float] = []
    docs_done = 0
    outside = 0.0
    t_start = time.perf_counter()
    for _ in range(ctx.units(PASS_S)):
        t0 = time.perf_counter()
        docs, planted = corpus.batch()
        qids, qvecs = corpus.vectors(gen.CORPUS_QUERIES)
        queries = [corpus.query_terms() for _ in range(BM25_PER_PASS)]
        outside += time.perf_counter() - t0
        out = runner.run(log, docs, qvecs, qids, queries)
        docs_done += len(docs)
        t0 = time.perf_counter()
        errs, qual = check_pass(docs, planted, out, state, qids, qvecs)
        mismatches += errs
        for k, v in qual.items():
            quality[k] += v
        if ctx.tracer.enabled:
            lsh_candidates += [df.count() for df in captured]
            captured.clear()
            cand_per_query.append(_ivf_candidates(state["index"], state["vecs"], qvecs))
        outside += time.perf_counter() - t0
    loop_s = time.perf_counter() - t_start - outside
    ctx.tracer.restore()

    searches = log.ms("ivf", "bm25")
    e2e = {
        "query_p50_ms": ctx.p50(searches), "query_p90_ms": ctx.p90(searches),
        "ops_per_s": sum(1 for o in log.ops if o["ok"]) / loop_s,
        "docs_per_s": docs_done / loop_s,
        "dedup_recall": quality["dedup_found"] / max(1, quality["dedup_planted"]),
        "ann_recall_at_10": quality["ann_hits"] / max(1, quality["ann_total"]),
    }
    verified = quality["lsh_verified"]
    layers = {
        "operators.text.analysis_ms": median(log.ms("analysis")),
        "operators.dedup.exact_ms": median(log.ms("exact")),
        "operators.dedup.minhash_ms": median(log.ms("minhash")),
        "operators.sampling.split_ms": median(log.ms("split")),
        "operators.search.bm25_ms": median(log.ms("bm25")),
        "operators.dedup.lsh_candidates": mean(lsh_candidates),
        "operators.dedup.lsh_verified": verified / max(1, len(log.ms("minhash"))),
        "operators.dedup.lsh_precision": (verified / sum(lsh_candidates)
                                          if sum(lsh_candidates) else 0.0),
        "operators.similarity.ivf_topk_ms": median(log.ms("ivf")),
        "operators.similarity.candidates_per_query": mean(cand_per_query),
        "spark.exec_ms": median(ctx.tracer.durations_ms("spark.exec")),
        "spark.tasks_per_op": mean(ctx.tracer.counts.get("spark.tasks", [])),
    }
    return ctx.finish(log, e2e, mismatches, layers=layers,
                      samples={"search": len(searches), "passes": len(log.ms("minhash"))})
