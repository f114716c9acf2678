"""Hybrid escalation ladder: stage gating, fusion, trace."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)


@pytest.fixture(scope="module")
def plan(spark, sf_smoke_dir):
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    # embeddings keyed by doc_id with the deterministic pseudo-embedding of
    # each doc's text, so the vector stage is semantically aligned
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], 64))
        for r in docs.select("doc_id", "text").limit(200).collect()
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return HybridSearchPlan(docs, embeddings=emb, embedding_dim=64)


def test_strong_ac_no_escalation(plan):
    # common corpus words give BM25 scores well above 0.6
    res, trace = plan.search("spark query join window", SearchOpts(top_k=10))
    stages = [t.stage for t in trace]
    assert "AC" in stages and "FUZZY" not in stages
    rows = res.collect()
    assert 0 < len(rows) <= 10
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))


def test_typo_escalates_to_fuzzy(plan):
    # no such term in the corpus -> AC empty -> fuzzy expands sparc->spark
    res, trace = plan.search("sparc", SearchOpts(top_k=10))
    stages = [t.stage for t in trace]
    assert "FUZZY" in stages and "SEMANTIC" in stages
    assert res.count() > 0


def test_escalation_threshold_gate(plan):
    _, trace_low = plan.search(
        "spark query join window", SearchOpts(escalation_threshold=99.0)
    )
    assert "FUZZY" in [t.stage for t in trace_low]
    _, trace_off = plan.search(
        "sparc", SearchOpts(enable_escalation=False)
    )
    assert [t.stage for t in trace_off if t.stage == "FUZZY"] == []


def test_fusion_bonus_applied(plan):
    res, trace = plan.search("sparc", SearchOpts(top_k=5))
    assert res.columns == ["doc_id", "score"]
    assert all(t.took_ms >= 0 for t in trace)


def test_index_backed_plan_matches_dataframe_plan(
    spark, sf_smoke_dir, tmp_path_factory, monkeypatch
):
    """Hybrid ladder over the compressed index == ladder over DataFrame
    postings (AC stage rank-identity carries through the whole plan).

    The index-backed plan scores its lexical stages in place on its cache;
    strong and escalated results, for msm 1 and "75%", must equal EXACTLY
    those of the same scorer over the cold parquet index (one repartition
    by chunk group, no cache)."""
    import os
    from functools import partial

    from hybrid_sanctions_search_engine_spark.plans.wand import index_rows
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    index_dir = str(tmp_path_factory.mktemp("hybrid_idx"))
    build_index(docs, index_dir, n_shards=4, chunk_bits=7)

    plan_df = HybridSearchPlan(docs)
    plan_idx = HybridSearchPlan(docs, index_dir=index_dir)

    for q in ["spark query join window", "sparc"]:
        a, trace_a = plan_df.search(q, SearchOpts(top_k=10))
        b, trace_b = plan_idx.search(q, SearchOpts(top_k=10))
        ra = [(r["doc_id"], round(r["score"], 9)) for r in a.collect()]
        rb = [(r["doc_id"], round(r["score"], 9)) for r in b.collect()]
        assert ra == rb, q
        assert [t.stage for t in trace_a] == [t.stage for t in trace_b]

    cases = [
        (q, SearchOpts(top_k=10, min_should_match=msm, escalation_threshold=th))
        for q in ["spark query join window", "sparc qurey join"]
        for msm in (1, "75%")
        for th in (0.6, 1e9)  # default gate; every query escalates
    ]

    def served():
        out = []
        for q, opts in cases:
            res, trace = plan_idx.search(q, opts)
            out.append(([t.stage for t in trace], [tuple(r) for r in res.collect()]))
        return out

    in_place = served()
    assert any("FUZZY" not in stages for stages, _ in in_place)
    # the plan's bound base scorer, pointed at the cold parquet index
    cold, meta = load_index(spark, index_dir)
    base = plan_idx._score_base
    monkeypatch.setattr(
        plan_idx, "_score_base",
        partial(base.func, index_rows(spark, meta, cold), **base.keywords),
    )
    assert in_place == served()


def test_homoglyph_query_permutation(plan):
    # 'sраrk' with Cyrillic а/р folds to 'spark' (Latin-dominant) and must
    # find the same docs as the clean query
    clean, _ = plan.search("spark query join window", SearchOpts(top_k=5))
    mixed, _ = plan.search("sраrk query join window", SearchOpts(top_k=5))
    a = [(r["doc_id"], round(r["score"], 6)) for r in clean.collect()]
    b = [(r["doc_id"], round(r["score"], 6)) for r in mixed.collect()]
    assert a == b


def test_no_index_plan_tokenizes_the_corpus_once(spark, sf_smoke_dir, monkeypatch):
    """A plan without an index takes its corpus statistics off its raw
    postings cache: one tokenize across plan open and the first search (a
    separate ``corpus_stats`` pass made it two)."""
    from hybrid_sanctions_search_engine_spark.operators import postings

    calls = []
    tokenize = postings.tokenized_documents

    def spy(*args, **kwargs):
        calls.append(args)
        return tokenize(*args, **kwargs)

    monkeypatch.setattr(postings, "tokenized_documents", spy)
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    plan = HybridSearchPlan(docs)
    try:
        res, _ = plan.search("spark query join window", SearchOpts(top_k=10))
        assert res.collect()
    finally:
        plan.close()
    assert len(calls) == 1


def test_no_index_plan_statistics(spark, sf_smoke_dir, tmp_path):
    """The no-index plan's (n_docs, avgdl) equal ``corpus_stats`` bit for
    bit, an empty-text doc included; with a null-text doc both equal
    ``build_index``'s (the doc counts, at length 0), so the DataFrame
    ``bm25_topk`` scores as the indexed path does."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.operators.postings import corpus_stats
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index
    from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    docs = docs.select("doc_id", "text")
    top = docs.agg(F.max("doc_id")).collect()[0][0]
    extra = "doc_id long, text string"
    with_empty = docs.unionByName(local_frame(spark, [(top + 1, "")], extra))
    with_null = with_empty.unionByName(local_frame(spark, [(top + 2, None)], extra))

    def plan_stats(frame):
        plan = HybridSearchPlan(frame)
        try:
            return plan.stats.n_docs, plan.stats.avgdl
        finally:
            plan.close()

    for frame in (docs, with_empty):
        want = corpus_stats(frame)
        assert plan_stats(frame) == (want.n_docs, want.avgdl)
    idx = str(tmp_path / "idx")
    rep = build_index(with_null, idx, n_shards=2, resume=False)
    null_stats = corpus_stats(with_null)
    assert (null_stats.n_docs, null_stats.avgdl) == (rep["n_docs"], rep["avgdl"])
    assert plan_stats(with_null) == (rep["n_docs"], rep["avgdl"])
    query = "spark query join"
    got = [(r["doc_id"], round(r["score"], 9)) for r in bm25_topk(with_null, query).collect()]
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_search(spark, idx, query).collect()
    ]
    assert got == want and len(got) == 10
