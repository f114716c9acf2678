"""Hybrid ladder × partitioned ANN + stage-4 vector-fallback parity.

Round-3 verdict items 2 and 5: the vector stage must probe the partitioned
IVF-family index (reference: ES HNSW, ``elasticsearch_adapters.py:819-843``)
instead of a full embeddings scan, and ``search()`` must implement the
reference's ``_should_use_vector_fallback`` gating
(``hybrid_search_service.py:930-955``) plus the cosine / anchor post-boosts
(``:1248-1260``).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)

DIM = 64


def _doc_embeddings(spark, docs, limit=200):
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], DIM))
        for r in docs.select("doc_id", "text").limit(limit).collect()
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke_dir):
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    return docs, _doc_embeddings(spark, docs)


@pytest.fixture(scope="module")
def ivf_plan(spark, corpus, tmp_path_factory):
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    path = str(tmp_path_factory.mktemp("hybrid_ann") / "ivf")
    write_ivf_index(emb, path, n_centroids=8, iters=8)
    return HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf", ann_n_probe=2,
    )


def test_vector_stage_reads_only_probed_partitions(spark, ivf_plan):
    """The IVF layout + probe filter physically reads ≤ n_probe partition
    directories — the scan is pruned, not filtered (verdict item 2).  The
    standing plan additionally CACHES the index (round 5: re-reading the
    ANN parquet cost ~5 s/batch at 960k), so the file-read assertion runs
    against a fresh uncached read of the same layout with the same filter —
    the property a cold or one-shot probe relies on.  (The copy to a fresh
    path is load-bearing: Spark's cache manager substitutes the cached
    InMemoryRelation for any semantically-equal scan of the SAME path,
    which blanks input_file_name.)"""
    import shutil
    import tempfile

    query = "spark query join"
    hits = ivf_plan.vector_stage(query, k=5, rerank=False)
    assert hits.count() > 0
    assert ivf_plan.ann_df.storageLevel.useMemory  # standing cache is on

    qv = np.asarray(pseudo_embedding(query, DIM))
    qv = qv / np.linalg.norm(qv)
    probe = {
        int(c)
        for c in np.argsort(-(ivf_plan.ann_centroids @ qv))[: ivf_plan.ann_n_probe]
    }
    copy_dir = tempfile.mkdtemp(prefix="ivf_pruning_copy_")
    shutil.rmtree(copy_dir)
    try:
        shutil.copytree(ivf_plan.ann_index_dir, copy_dir)
        fresh = spark.read.parquet(copy_dir)
        cands = fresh.where(F.col("ivf_cell").isin(sorted(probe)))
        files = [
            r[0] for r in cands.select(F.input_file_name()).distinct().collect()
        ]
        assert files
        cells_read = {
            int(re.search(r"ivf_cell=(\d+)", f).group(1)) for f in files
        }
        assert cells_read <= probe
    finally:
        shutil.rmtree(copy_dir, ignore_errors=True)


def test_vector_stage_rank_parity_vs_bruteforce(spark, corpus, tmp_path):
    """n_probe = n_centroids ⇒ the probe is exhaustive and must reproduce the
    brute-force ranking exactly (probe correctness, not just recall)."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce,
        write_ivf_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf_all")
    write_ivf_index(emb, path, n_centroids=4, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf", ann_n_probe=4,
    )
    query = "customer order data"
    probed = plan.vector_stage(query, k=10, rerank=False).collect()
    exact = knn_bruteforce(emb, pseudo_embedding(query, DIM), k=10).collect()
    assert [(r["doc_id"], round(r["cos_sim"], 9)) for r in probed] == [
        (r["vec_id"], round(r["cos_sim"], 9)) for r in exact
    ]


def test_pq_backed_vector_stage_rank_parity(spark, corpus, tmp_path):
    """ann_kind='ivf_pq' with probe+refine covering the whole corpus must
    reproduce the brute-force ranking (the ADC stage only SELECTS
    candidates; the exact re-rank emits true cosines, so with full
    coverage the layout is semantically invisible to the ladder)."""
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        write_ivf_pq_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf_pq_all")
    write_ivf_pq_index(emb, path, n_centroids=4, m=16, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_pq", ann_n_probe=4, ann_refine=20,
    )
    query = "customer order data"
    probed = plan.vector_stage(query, k=10, rerank=False).collect()
    exact = knn_bruteforce(emb, pseudo_embedding(query, DIM), k=10).collect()
    assert [(r["doc_id"], round(r["cos_sim"], 9)) for r in probed] == [
        (r["vec_id"], round(r["cos_sim"], 9)) for r in exact
    ]


def test_sq8_backed_vector_stage_rank_parity(spark, corpus, tmp_path):
    """ann_kind='ivf_sq8' with probe+refine covering the whole corpus must
    reproduce the brute-force ranking — same contract as the PQ test: the
    code scan only SELECTS candidates, the exact re-rank emits true
    cosines, so the int8 layout is semantically invisible to the ladder."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        write_ivf_sq8_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf_sq8_all")
    write_ivf_sq8_index(emb, path, n_centroids=4, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_sq8", ann_n_probe=4, ann_refine=20,
    )
    query = "customer order data"
    probed = plan.vector_stage(query, k=10, rerank=False).collect()
    exact = knn_bruteforce(emb, pseudo_embedding(query, DIM), k=10).collect()
    assert [(r["doc_id"], round(r["cos_sim"], 9)) for r in probed] == [
        (r["vec_id"], round(r["cos_sim"], 9)) for r in exact
    ]


@pytest.mark.parametrize("kind", ["lsh", "lsh_mb"])
def test_removed_ann_layouts_are_rejected(spark, corpus, tmp_path, kind):
    """The LSH serving layouts are gone: a plan and a delta fold asked for
    one raise a ValueError naming the three supported kinds."""
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        fold_delta_embeddings,
    )

    docs, emb = corpus
    with pytest.raises(ValueError, match="ivf, ivf_pq, ivf_sq8"):
        HybridSearchPlan(
            docs, embeddings=emb, embedding_dim=DIM,
            ann_index_dir=str(tmp_path), ann_kind=kind,
        )
    with pytest.raises(ValueError, match="ivf, ivf_pq, ivf_sq8"):
        fold_delta_embeddings(spark, str(tmp_path), [], kind=kind)


def test_search_through_ann_matches_bruteforce_ladder(ivf_plan, corpus):
    """End-to-end: an escalated search served through the IVF probe ranks the
    same docs as the brute-force ladder when the probe covers the query's
    clusters (ann_n_probe=2 on this corpus recovers the same top hits)."""
    docs, emb = corpus
    brute = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    opts = SearchOpts(top_k=5)
    a, trace_a = ivf_plan.search("sparc", opts)
    b, trace_b = brute.search("sparc", opts)
    sem_a = next(t for t in trace_a if t.stage == "SEMANTIC")
    sem_b = next(t for t in trace_b if t.stage == "SEMANTIC")
    assert sem_a.meta["ann"] == "ivf"
    assert sem_b.meta["ann"] == "bruteforce"
    ra = [(r["doc_id"], round(r["score"], 6)) for r in a.collect()]
    rb = [(r["doc_id"], round(r["score"], 6)) for r in b.collect()]
    assert ra == rb


# ---------------------------------------------------------------------------
# stage-4 parity: gating + post-boost formulas (verdict item 5)
# ---------------------------------------------------------------------------


def _tiny_plan(spark, texts, vecs):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    return HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)


def _mix(qv: np.ndarray, cos: float, seed: int = 3) -> list[float]:
    """A unit vector with exactly the given cosine to qv."""
    rng = np.random.default_rng(seed)
    r = rng.standard_normal(qv.size)
    orth = r - (r @ qv) * qv
    orth /= np.linalg.norm(orth)
    v = cos * qv + np.sqrt(1 - cos * cos) * orth
    return (v / np.linalg.norm(v)).tolist()


def test_vector_fallback_gating_empty_ac(spark):
    """AC empty ⇒ fallback used (hybrid_search_service.py:938-940)."""
    qv = np.asarray(pseudo_embedding("zzzqqq", DIM))
    qv /= np.linalg.norm(qv)
    plan = _tiny_plan(spark, ["alpha beta", "gamma delta"], [_mix(qv, 0.9), _mix(qv, 0.2)])
    res, trace = plan.search("zzzqqq", SearchOpts(top_k=5, rapidfuzz_rerank=False))
    hybrid = next(t for t in trace if t.stage == "HYBRID")
    assert hybrid.meta["vector_fallback_used"] is True
    assert res.count() > 0


def test_vector_fallback_gating_strong_ac_drops_vectors(spark, corpus):
    """AC strong (best ≥ 0.3) and vectors not 1.5× better ⇒ vector hits are
    NOT fused even though escalation ran (hybrid_search_service.py:942-953)."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    # force escalation on a strong-AC query; BM25 best ≫ 1 ≥ 1.5×cosine
    res, trace = plan.search(
        "spark query join window", SearchOpts(top_k=5, escalation_threshold=99.0)
    )
    stages = [t.stage for t in trace]
    assert "SEMANTIC" in stages  # escalation did run the vector stage
    hybrid = next(t for t in trace if t.stage == "HYBRID")
    assert hybrid.meta["vector_fallback_used"] is False
    # result equals the lexical-only ladder
    res2, _ = plan.search(
        "spark query join window",
        SearchOpts(top_k=5, escalation_threshold=99.0, enable_vector_fallback=False),
    )
    assert [(r["doc_id"], round(r["score"], 9)) for r in res.collect()] == [
        (r["doc_id"], round(r["score"], 9)) for r in res2.collect()
    ]


def test_cosine_boost_formula(spark):
    """cos > 0.7 ⇒ ×1.3, 0.5 < cos ≤ 0.7 ⇒ ×1.1, else ×1.0
    (hybrid_search_service.py:1248-1254).  AC is empty so the fused score is
    exactly the boosted vector score (combine_results escalates the vector
    weight to 1.0 on empty AC)."""
    qv = np.asarray(pseudo_embedding("zzzqqq", DIM))
    qv /= np.linalg.norm(qv)
    plan = _tiny_plan(
        spark,
        ["alpha", "beta", "gamma"],
        [_mix(qv, 0.9), _mix(qv, 0.6), _mix(qv, 0.3)],
    )
    res, trace = plan.search("zzzqqq", SearchOpts(top_k=5, rapidfuzz_rerank=False))
    got = {r["doc_id"]: r["score"] for r in res.collect()}
    assert got[0] == pytest.approx(0.9 * 1.3, abs=1e-9)
    assert got[1] == pytest.approx(0.6 * 1.1, abs=1e-9)
    assert got[2] == pytest.approx(0.3, abs=1e-9)
    # and the boost is switchable off
    res_off, _ = plan.search(
        "zzzqqq", SearchOpts(top_k=5, rapidfuzz_rerank=False, enable_cosine_boost=False)
    )
    got_off = {r["doc_id"]: r["score"] for r in res_off.collect()}
    assert got_off[0] == pytest.approx(0.9, abs=1e-9)


def test_anchor_boost_wired_into_ladder(spark):
    """A query date present verbatim in the candidate text ⇒ ×1.2 on the
    vector-side score (dob anchor, hybrid_search_service.py:1256-1258).

    Both docs tokenize IDENTICALLY ('1980-01-01' and '1980 01 01' both emit
    [1980, 01, 01]) so their AC scores are equal; both share one embedding so
    their cosines are equal; only doc 0 contains the literal date string.
    With vector fallback forced, the fused scores must differ by exactly
    vector_weight · cos · (1.2 − 1)."""
    query = "born 1980-01-01"
    qv = np.asarray(pseudo_embedding(query, DIM))
    qv /= np.linalg.norm(qv)
    cos = 0.4  # below both cosine-boost thresholds: isolates the anchor
    v = _mix(qv, cos)
    plan = _tiny_plan(
        spark, ["born 1980-01-01 in kyiv", "born 1980 01 01 in kyiv"], [v, v]
    )
    opts = SearchOpts(
        top_k=5,
        rapidfuzz_rerank=False,
        escalation_threshold=1e9,   # force escalation despite AC hits
        weak_ac_threshold=1e9,      # force the vector fallback
        enable_cosine_boost=False,
    )
    res, trace = plan.search(query, opts)
    hybrid = next(t for t in trace if t.stage == "HYBRID")
    assert hybrid.meta["vector_fallback_used"] is True
    got = {r["doc_id"]: r["score"] for r in res.collect()}
    # equal AC + equal cosine ⇒ the only difference is the dob-anchor ×1.2
    # applied to doc 0's vector contribution
    expected_delta = opts.vector_weight * cos * 0.2
    assert got[0] - got[1] == pytest.approx(expected_delta, rel=1e-6)


def test_single_query_vector_stage_probes_standing_cache(spark, ivf_plan):
    """Round-6 verdict item 8 (the q_hybrid_escalated_ann drift watch): the
    single-query vector stage must consume the plan's persisted ``ann_df``
    exactly like the batch path — it IS the batch path on a batch of one,
    and NO parquet re-read of the ANN directory (a re-read per stage cost
    ~5 s/batch at 960k before the round-5 standing cache).  Once the cache
    is filled, the stage still serves with the ANN directory moved away —
    a re-read from parquet would fail on the missing files.  (The stage
    returns a driver-built frame of its collected rows, so its own plan
    shows no scan at all.)"""
    ivf_plan.ann_df.count()
    moved = ivf_plan.ann_index_dir + ".moved"
    os.rename(ivf_plan.ann_index_dir, moved)
    try:
        rows = ivf_plan.vector_stage("spark query join", k=5, rerank=False).collect()
    finally:
        os.rename(moved, ivf_plan.ann_index_dir)
    assert len(rows) == 5


def test_batch_vector_stage_probes_standing_cache(spark, ivf_plan):
    """Batch twin of the cache pin: the speculative/batched probe builds on
    ``self.ann_df`` — same InMemoryTableScan, no ANN-dir FileScan."""
    plan_obj = ivf_plan
    qtexts = {1: "spark query join", 2: "merge sort"}
    import numpy as np

    qvecs = {q: plan_obj.encoder.encode_one(t) for q, t in qtexts.items()}
    cells = {
        q: [
            int(c)
            for c in np.argsort(
                -(plan_obj.ann_centroids @ (
                    np.asarray(v) / max(np.linalg.norm(v), 1e-12)
                ))
            )[: plan_obj.ann_n_probe]
        ]
        for q, v in qvecs.items()
    }
    union_cells = sorted({c for cs in cells.values() for c in cs})
    from pyspark.sql import functions as F2

    probe = plan_obj.ann_df.where(F2.col("ivf_cell").isin(union_cells))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
