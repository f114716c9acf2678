"""Batched msearch ladder (`search_many`) ≡ per-query `search()`.

The batched path runs the whole query set through the adaptive ladder in a
bounded number of Spark jobs (one fused AC+fuzzy batch, one vector batch);
per-query semantics must be IDENTICAL to the sequential ladder — same stage formulas, same gating, same boosts, same
tie-breaks.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
    TermBloom,
    fuzzy_term_candidates,
)
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.plans.wand import query_terms
from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

DIM = 64

QUERIES = [
    (1, "spark query join window"),   # strong AC — no escalation
    (2, "sparc"),                     # typo — AC empty, full ladder
    (3, "zzzqqq"),                    # nothing lexical — vector only
    (4, "sраrk query"),               # homoglyph-mixed (Cyrillic а/р)
    (5, "merge sort"),                # ordinary
]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke_dir):
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], DIM))
        for r in docs.select("doc_id", "text").limit(200).collect()
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return docs, emb


def _assert_parity(plan, opts):
    batched, meta = plan.search_many(QUERIES, opts)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for qid, text in QUERIES:
        res, trace = plan.search(text, opts)
        want = [
            (i + 1, r["doc_id"], round(r["score"], 9))
            for i, r in enumerate(res.collect())
        ]
        assert sorted(got.get(qid, [])) == want, (qid, text)
        hybrid = next(t for t in trace if t.stage == "HYBRID")
        assert meta[qid]["escalated"] == hybrid.meta["escalated"], qid
        assert (
            meta[qid]["vector_fallback_used"]
            == hybrid.meta["vector_fallback_used"]
        ), qid


def test_search_many_parity_bruteforce(spark, corpus):
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_parity_ivf(spark, corpus, tmp_path):
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=8, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf", ann_n_probe=3,
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_parity_ivf_pq(spark, corpus, tmp_path):
    """PQ-backed ``search_many`` ≡ ``search()`` per query, a batch of one
    through the same ``knn_ivf_pq_probe_many`` (scores at 9dp)."""
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        write_ivf_pq_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivfpqb")
    write_ivf_pq_index(emb, path, n_centroids=8, m=16, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_pq", ann_n_probe=3, ann_refine=4,
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_parity_ivf_sq8(spark, corpus, tmp_path):
    """SQ8-backed ``search_many`` ≡ ``search()`` per query, a batch of one
    through the same ``knn_ivf_sq8_probe_many`` (scores at 9dp)."""
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        write_ivf_sq8_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivfsq8b")
    write_ivf_sq8_index(emb, path, n_centroids=8, iters=8)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_sq8", ann_n_probe=3, ann_refine=4,
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_parity_no_rerank_with_anchor(spark, corpus):
    """Anchor boosts flow through the batched driver-side path identically
    (rerank off isolates the anchor multiplication)."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    opts = SearchOpts(top_k=8, rapidfuzz_rerank=False)
    anchored = [(9, "zzzqqq 1995-06-24")]
    batched, _ = plan.search_many(anchored, opts)
    got = sorted(
        (r["doc_id"], round(r["score"], 9)) for r in batched.collect()
    )
    res, _ = plan.search(anchored[0][1], opts)
    want = sorted((r["doc_id"], round(r["score"], 9)) for r in res.collect())
    assert got == want


def test_search_many_parity_index_backed(spark, sf_smoke_dir, corpus, tmp_path):
    """Index-backed batched ladder (AC via batch_topk_indexed, fuzzy via the
    weighted chunk-group scorer) ≡ the per-query index-backed ladder."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs, emb = corpus
    index_dir = str(tmp_path / "hb_idx")
    build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM, index_dir=index_dir
    )
    _assert_parity(plan, SearchOpts(top_k=8))


def test_search_many_empty_and_unknown(spark, corpus):
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    res, meta = plan.search_many([], SearchOpts(top_k=5))
    assert res.count() == 0 and meta == {}


def test_search_many_no_escalation_skips_vector(spark, corpus, tmp_path):
    """A batch where every query clears the AC threshold must not run (or
    block on) the vector stage at all — the non-speculative future is never
    created and no vector_ms lands in the trace; with an ANN index the
    SPECULATIVE future is abandoned and its job group cancelled instead of
    gating the batch's return on a full ANN probe (round-5 review fixes)."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    strong = [(1, "spark query join window"), (2, "merge sort"),
              (3, "customer order data")]
    ann_path = str(tmp_path / "ivf_noesc")
    write_ivf_index(emb, ann_path, n_centroids=4, iters=6)
    plans = [
        HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM),
        HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM,
                         ann_index_dir=ann_path, ann_kind="ivf"),
    ]
    try:
        for plan in plans:
            batched, meta = plan.search_many(strong, SearchOpts(top_k=5))
            rows = batched.collect()
            assert rows
            assert not any(m["escalated"] for m in meta.values())
            assert "vector_ms" not in plan.last_batch_trace, (
                plan.ann_index_dir, plan.last_batch_trace,
            )
            # parity with the sequential ladder still holds on the fast path
            for qid, text in strong:
                res, _ = plan.search(text, SearchOpts(top_k=5))
                want = [(i + 1, r["doc_id"], round(r["score"], 9))
                        for i, r in enumerate(res.collect())]
                got = sorted(
                    (r["rank"], r["doc_id"], round(r["score"], 9))
                    for r in rows if r["query_id"] == qid
                )
                assert got == want, (qid, text)
    finally:
        for plan in plans:
            plan.close()


def test_search_many_parity_rerank_off_no_anchors(spark, corpus, tmp_path):
    """The rerank-free fast path (no fuzz rerank, no anchors in any query
    → the batched vector stage skips the doc-text join) must stay
    result-identical to the sequential ladder."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    docs, emb = corpus
    path = str(tmp_path / "ivf_fastpath")
    write_ivf_index(emb, path, n_centroids=4, iters=6)
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf", ann_n_probe=4,
    )
    opts = SearchOpts(top_k=6, rapidfuzz_rerank=False)
    try:
        _assert_parity(plan, opts)
    finally:
        plan.close()


def _dense_word_docs(spark, seed: int):
    """Docs over a seeded dictionary of 1–5-letter words on a 5-letter
    alphabet — prefix buckets hold several terms one edit apart, so the
    expansion cap binds — and typo'd queries over it, with 1-char and
    duplicate terms."""
    import numpy as np

    rng = np.random.default_rng(seed)
    letters = list("abcde")
    words = sorted({"".join(rng.choice(letters, n)) for n in rng.integers(1, 6, 400)})
    docs = local_frame(
        spark,
        [(i, " ".join(rng.choice(words, 4))) for i in range(300)],
        "doc_id long, text string",
    )

    def typo(w: str) -> str:
        i = int(rng.integers(len(w)))
        return w[:i] + str(rng.choice(letters + ["f"])) + w[i + 1:]

    queries = [
        (i, " ".join(typo(str(w)) for w in rng.choice(words, 3)))
        for i in range(8)
    ] + [(8, "c abd abd"), (9, "e")]
    return docs, queries


def _reference_expansion(plan, queries, opts) -> set:
    """(query_id, term, term_weight) from ``fuzzy_term_candidates`` run per
    distinct query term, weighted in Spark; best weight per (query, term)."""
    best: dict = {}
    for qid, text in queries:
        for t in dict.fromkeys(query_terms(text)):
            for r in fuzzy_term_candidates(
                plan._expansion_dictionary(), t,
                max_edits=opts.fuzzy_max_edits,
                max_expansions=opts.fuzzy_max_expansions,
            ).select(
                "term",
                (
                    1.0 - F.col("edit_dist")
                    / F.greatest(F.length("term"), F.lit(len(t)))
                ).alias("term_weight"),
            ).collect():
                key = (qid, r["term"])
                best[key] = max(best.get(key, r["term_weight"]), r["term_weight"])
    return {(q, t, w) for (q, t), w in best.items()}


def test_driver_expansion_twin_of_spark_path(spark, corpus):
    """The fuzzy expansion is one function, ``expand_terms``.  Below
    ``driver_expansion_max_terms`` the driver runs it over the in-RAM
    dictionary; above it the scoring job's tasks run it over the candidate
    rows they read and report those terms, and the driver runs it again
    over their union.  Both sides must give EXACTLY the rows of
    ``fuzzy_term_candidates`` run per query term — same candidates, same
    caps (also when ``fuzzy_max_expansions`` = 1 binds), same weights to
    the last bit.  ``search()`` / ``search_many()`` must serve the same
    results on both sides of the dictionary cap, at both expansion caps and
    both minimum_should_match settings, or a plan crossing the cap would
    silently change its answers.  Above the dictionary cap, a query whose
    expansion cap binds is served by the re-score; one that does not bind
    is served by the one job alone."""
    docs, _ = corpus
    dense_docs, dense_queries = _dense_word_docs(spark, seed=11)
    extra = [(6, "s qurey sparc sparc")]  # a 1-char and a duplicate term
    cases = [
        (HybridSearchPlan(docs), QUERIES + extra),
        (HybridSearchPlan(dense_docs), dense_queries),
    ]

    def expansions(plan, queries, opts, cap):
        plan.driver_expansion_max_terms = cap
        plan._driver_dict = ...
        override, fuzzy, how = plan._fuzzy_leg(
            [q for q, _ in queries], dict(queries), opts
        )
        if cap == 0:
            assert (override, how) == (None, "in_job")
            # the terms the scoring job's tasks reported, expanded again
            _, seen = plan._lexical_tops([], opts.top_k, fuzzy=fuzzy)
            return {(q, t, w) for (q, t), w in fuzzy.expand(seen)[0].items()}
        assert (fuzzy, how) == (None, "driver")
        return set(override)

    def served(plan, queries, cap, max_expansions):
        """Every result row; each batch's re-scored query count; per single
        call, (query id, how its expansion was served, re-scored)."""
        plan.driver_expansion_max_terms = cap
        plan._driver_dict = ...
        plan._driver_dictionary()
        out, batches, singles = [], [], []
        for msm in (1, "75%"):
            # every query escalates, so each call runs its fuzzy stage
            opts = SearchOpts(
                top_k=5, min_should_match=msm, escalation_threshold=1e9,
                fuzzy_max_expansions=max_expansions,
            )
            out.append(sorted(
                tuple(r) for r in plan.search_many(queries, opts)[0].collect()
            ))
            batches.append(plan.last_batch_trace["fuzzy_rescored"])
            for qid, text in queries:
                res, trace = plan.search(text, opts)
                out.append([tuple(r) for r in res.collect()])
                fz = next(t for t in trace if t.stage == "FUZZY")
                singles.append((qid, fz.meta["expansion"], fz.meta["rescored"]))
        return out, batches, singles

    try:
        for plan, queries in cases:
            rows = []
            for opts in (SearchOpts(), SearchOpts(fuzzy_max_expansions=1)):
                in_ram = expansions(plan, queries, opts, cap=50_000)
                in_job = expansions(plan, queries, opts, cap=0)
                assert in_ram == in_job == _reference_expansion(plan, queries, opts)
                rows.append(in_ram)
            assert rows[0]  # non-trivial comparison
        # on the dense dictionary the 1-char query term "e" expands through
        # its 1-char bucket, and a cap of 1 binds
        one_char = [{t for q, t, _ in r if q == 9} for r in rows]
        assert len(one_char[0]) > 1 and len(one_char[1]) == 1
        assert len(rows[0]) > len(rows[1])

        for plan, queries in cases:
            for max_expansions in (20, 1):
                in_ram, ram_batches, ram_singles = served(
                    plan, queries, 50_000, max_expansions
                )
                in_job, job_batches, job_singles = served(
                    plan, queries, 0, max_expansions
                )
                assert in_ram == in_job, (queries, max_expansions)
                assert {h[1:] for h in ram_singles} == {("driver", False)}
                assert set(ram_batches) == {0}
                assert {h[1] for h in job_singles} == {"in_job"}
                rescored = {q for q, _, redo in job_singles if redo}
                if plan is cases[1][0] and max_expansions == 1:
                    # "e" has more candidates than the cap: the re-score
                    # serves it, alone and in the batch
                    assert 9 in rescored and min(job_batches) > 0, job_singles
                if max_expansions == 20:
                    assert not rescored and set(job_batches) == {0}
        assert isinstance(cases[0][0]._dict_present_set(), TermBloom)
    finally:
        for plan, _ in cases:
            plan.close()


def test_search_many_parity_min_should_match(spark, corpus):
    """opts.min_should_match="75%" flows through both ladders identically:
    the AC stage (base scorer and, in delta tests elsewhere, the overlay)
    pre-filters under-matched docs in search() and search_many() the same
    way, so batch ≡ single holds with the dial engaged."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    try:
        _assert_parity(
            plan, SearchOpts(top_k=5, min_should_match="75%")
        )
    finally:
        plan.close()


def test_search_many_parity_threshold(spark, corpus):
    """opts.threshold (P2 final filter, reference _process_results) applies
    BEFORE the top-k cut and identically in both ladders; results below it
    never surface."""
    docs, emb = corpus
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    try:
        opts = SearchOpts(top_k=5, threshold=0.9)
        _assert_parity(plan, opts)
        batched, _ = plan.search_many(QUERIES, opts)
        assert all(r["score"] >= 0.9 for r in batched.collect())
        # sanity: the dial actually bites vs threshold-off
        off, _ = plan.search_many(QUERIES, SearchOpts(top_k=5))
        assert any(r["score"] < 0.9 for r in off.collect())
    finally:
        plan.close()
