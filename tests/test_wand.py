"""Rank-identity of the compressed block-max query path vs the reference
DataFrame BM25 plan (the driver-oracle-checked one)."""

from __future__ import annotations

import os

import pytest

from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
from hybrid_sanctions_search_engine_spark.sources.index_io import build_index, load_index

# a grouped-map body with partial type hints makes PySpark warn (and guess
# its eval type) at every applyInPandas call
pytestmark = pytest.mark.filterwarnings("error:Cannot infer the eval type:UserWarning")

QUERIES = [
    "spark query join",
    "window",
    "fast key order",
    "customer data stream batch",
    "nonexistentterm",
    "the",          # stopword-free index: still a term here
    "scan merge sort hash agg",
]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke_dir, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("wand_index"))
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    build_index(docs, index_dir, n_shards=4, chunk_bits=6)  # several chunks
    idx, meta = load_index(spark, index_dir)
    return docs, index_dir, idx, meta


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("k", [5, 20])
def test_rank_identity(spark, corpus, query, k):
    docs, index_dir, idx, meta = corpus
    expected = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in bm25_topk(docs, query, k=k).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in topk_search(spark, index_dir, query, k=k, index_df=idx, meta=meta).collect()
    ]
    assert got == expected


def test_empty_query(spark, corpus):
    _, index_dir, idx, meta = corpus
    assert topk_search(spark, index_dir, "", k=5, index_df=idx, meta=meta).count() == 0


@pytest.fixture(scope="module")
def pos_corpus(spark, sf_smoke_dir, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("pos_index"))
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    build_index(docs, index_dir, n_shards=4, chunk_bits=6, store_positions=True)
    idx, meta = load_index(spark, index_dir)
    return docs, index_dir, idx, meta


@pytest.mark.parametrize(
    "phrase", [["key", "order"], ["fast", "key", "order"], ["merge", "sort"], ["zz", "qq"]]
)
def test_phrase_identity_vs_dataframe(spark, pos_corpus, phrase):
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    docs, index_dir, idx, meta = pos_corpus
    expected = sorted(
        (r["doc_id"], r["n_occurrences"]) for r in phrase_match(docs, phrase).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_search(spark, index_dir, phrase, index_df=idx, meta=meta).collect()
    )
    assert got == expected


def test_phrase_requires_positions(spark, corpus):
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    _, index_dir, idx, meta = corpus
    with pytest.raises(ValueError, match="without positions"):
        phrase_search(spark, index_dir, "key order", index_df=idx, meta=meta)


def test_scoring_identity_with_positions_index(spark, pos_corpus):
    # positions in the index must not perturb BM25 scoring
    docs, index_dir, idx, meta = pos_corpus
    expected = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(docs, "spark query join", k=10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_search(spark, index_dir, "spark query join", k=10, index_df=idx, meta=meta).collect()
    ]
    assert got == expected


def test_topk_collect_is_bounded(spark, sf_smoke_dir, tmp_path_factory, monkeypatch):
    """The driver must never collect an O(corpus) frame: with chunk_bits=2
    the index has ~10× more chunks than the default fixture, yet every
    ``collect()`` during topk_search stays bounded by the seed/probe/k
    constants (this guards the in-cluster θ-pruning design)."""
    import os as _os

    index_dir = str(tmp_path_factory.mktemp("wand_many_chunks"))
    docs = spark.read.parquet(_os.path.join(sf_smoke_dir, "documents.parquet"))
    build_index(docs, index_dir, n_shards=4, chunk_bits=2)
    idx, meta = load_index(spark, index_dir)

    n_chunks = idx.select("chunk").distinct().count()
    assert n_chunks > 20  # the fixture really is chunk-heavy

    # patch the CONCRETE class (pyspark 4's pyspark.sql.DataFrame is an ABC;
    # instances are pyspark.sql.classic.dataframe.DataFrame)
    DataFrame = type(idx)
    collected_sizes: list[int] = []
    orig_collect = DataFrame.collect

    def spy_collect(self):
        rows = orig_collect(self)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    k, seed_chunks, cap = 10, 4, 8
    # cap < chunk count forces the in-cluster semi-join path: the driver may
    # hold at most cap+1 UB rows even though the index has far more chunks
    res = topk_search(spark, index_dir, "spark query join", k=k,
                      seed_chunks=seed_chunks, index_df=idx, meta=meta,
                      max_driver_chunks=cap)
    monkeypatch.undo()
    assert res.count() <= k
    bound = max(k, cap + 1)
    assert collected_sizes and max(collected_sizes) <= bound

    # rank identity must hold on BOTH pruning paths
    in_cluster = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_search(spark, index_dir, "spark query join", k=k,
                             index_df=idx, meta=meta, max_driver_chunks=cap).collect()
    ]
    driver_side = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_search(spark, index_dir, "spark query join", k=k,
                             index_df=idx, meta=meta).collect()
    ]
    assert in_cluster == driver_side


def test_batch_topk_indexed_identity(spark, corpus):
    """Indexed batch serving is rank- AND value-identical to the
    document-side batch_topk plan for the same query set."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import batch_topk
    from hybrid_sanctions_search_engine_spark.plans.wand import batch_topk_indexed

    docs, index_dir, idx, meta = corpus
    queries = [
        (1, "spark query join"),
        (2, "window"),
        (3, "scan merge sort hash agg"),
        (4, "nonexistentterm"),
        (5, "fast key order"),
    ]
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in batch_topk(docs, queries, k=8).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in batch_topk_indexed(spark, index_dir, queries, k=8,
                                    index_df=idx, meta=meta).collect()
    )
    assert got == want


@pytest.mark.parametrize("query", QUERIES)
def test_both_pruning_paths_identical(spark, corpus, query):
    """In-cluster semi-join pruning (forced via a tiny driver cap) returns
    exactly what driver-side pruning returns, for every standard query."""
    docs, index_dir, idx, meta = corpus
    a = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in topk_search(spark, index_dir, query, k=10,
                             index_df=idx, meta=meta, max_driver_chunks=1).collect()
    ]
    b = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in topk_search(spark, index_dir, query, k=10,
                             index_df=idx, meta=meta).collect()
    ]
    assert a == b


@pytest.mark.parametrize(
    "phrase,slop",
    [
        (["table", "value"], 1),
        (["table", "value", "row"], 1),
        (["table", "value", "row"], 2),
        (["key", "order"], 2),
    ],
)
def test_phrase_slop_identity_vs_dataframe(spark, pos_corpus, phrase, slop):
    """Sloppy phrase: indexed packed-key path ≡ DataFrame positions path
    under the anchored slop contract, and slop strictly widens the match
    set (slop=0 matches ⊆ slop=s matches)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    docs, index_dir, idx, meta = pos_corpus
    expected = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_match(docs, phrase, slop=slop).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_search(
            spark, index_dir, phrase, index_df=idx, meta=meta, slop=slop
        ).collect()
    )
    assert got == expected
    exact_docs = {
        r["doc_id"] for r in phrase_match(docs, phrase, slop=0).collect()
    }
    assert exact_docs <= {d for d, _ in expected}


def test_phrase_slop_semantics_unit(spark):
    """Pin the anchored contract on a hand-built doc: in 'a x b y c' with
    phrase [a,b,c] anchored at p=0, b sits at slot+1 and c at slot+2 — so
    slop=1 admits b but not c (needs slop 2); 'a b c' matches at every
    slop; reversed 'c b a' never matches (the contract keeps order)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match

    docs = spark.createDataFrame(
        [(1, "a x b y c"), (2, "a b c"), (3, "c b a")],
        "doc_id long, text string",
    )
    def match(slop):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_match(docs, ["a", "b", "c"], slop=slop).collect()
        }

    assert match(0) == {2: 1}
    assert match(1) == {2: 1}
    assert match(2) == {1: 1, 2: 1}


@pytest.mark.parametrize("slop", [0, 1])
def test_batch_phrase_parity(spark, pos_corpus, slop):
    """batch_phrase_search ≡ per-phrase phrase_search for a mixed batch
    (shared terms, disjoint terms, a no-hit phrase), at slop 0 and 1 —
    one job + one position decode for the whole batch."""
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_phrase_search,
        phrase_search,
    )

    docs, index_dir, idx, meta = pos_corpus
    phrases = [
        (1, "key order"),
        (2, ["fast", "key", "order"]),
        (3, "merge sort"),
        (4, "zz qq"),
        (5, "table value"),
    ]
    batched = batch_phrase_search(
        spark, index_dir, phrases, index_df=idx, meta=meta, slop=slop
    )
    got: dict[int, list] = {qid: [] for qid, _ in phrases}
    for r in batched.collect():
        got[r["query_id"]].append((r["doc_id"], r["n_occurrences"]))
    for qid, p in phrases:
        want = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_search(
                spark, index_dir, p, index_df=idx, meta=meta, slop=slop
            ).collect()
        )
        assert sorted(got[qid]) == want, (qid, p, slop)


@pytest.mark.parametrize(
    "phrase,slop",
    [
        (["table", "value"], 2),
        (["table", "value", "row"], 1),
        (["table", "value", "row"], 2),
    ],
)
def test_phrase_unordered_identity_vs_dataframe(spark, pos_corpus, phrase, slop):
    """ES-style unordered slop: indexed packed-key path ≡ DataFrame
    positions path under the symmetric-window contract, and the unordered
    match set is a superset of the ordered one at the same slop."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    docs, index_dir, idx, meta = pos_corpus
    expected = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_match(docs, phrase, slop=slop, ordered=False).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_search(
            spark, index_dir, phrase, index_df=idx, meta=meta,
            slop=slop, ordered=False,
        ).collect()
    )
    assert got == expected
    ordered_docs = {
        r["doc_id"] for r in phrase_match(docs, phrase, slop=slop).collect()
    }
    assert ordered_docs <= {d for d, _ in expected}


def test_phrase_unordered_semantics_unit(spark):
    """Pin the symmetric-window contract on hand-built docs: 'b a' for
    phrase [a,b] needs slop=2 unordered (adjacent transposition — matches
    Lucene's cost for two transposed terms) and never matches ordered;
    'a b' matches both at every slop; in 'a x x x b' the displacement of
    'b' from its expected slot is 3, so it needs slop=3 in either mode."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b a"), (3, "a x x x b")],
        "doc_id long, text string",
    )

    def match(slop, ordered):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_match(
                docs, ["a", "b"], slop=slop, ordered=ordered
            ).collect()
        }

    assert match(0, ordered=False) == {1: 1}
    assert match(1, ordered=False) == {1: 1}
    assert match(2, ordered=False) == {1: 1, 2: 1}
    assert match(2, ordered=True) == {1: 1}
    assert match(3, ordered=False) == {1: 1, 2: 1, 3: 1}
    assert match(3, ordered=True) == {1: 1, 3: 1}


def test_phrase_lucene_semantics_unit(spark):
    """Pin the exact-Lucene span-budget contract on hand-built docs.

    Doc 2 'b a' (phrase [a,b]): witnessed at anchor s=−1 (a∈[−1,1] via 1,
    b∈[0,2] via 0) — matches at slop=2, not slop=1, exactly Lucene's cost
    for an adjacent transposition (and exercises the NEGATIVE-anchor path
    the packed-key twin must bias around).  Doc 3 'x b a x x x c' (phrase
    [a,b,c]): adjusted positions a→2, b→0, c→4, minimal span 4 — the
    SYMMETRIC contract accepts it at slop=2 (each term within ±2 of its
    term-0-anchored slot independently) but Lucene's total span budget
    rejects it until slop=4: the case that separates the two contracts.
    Doc 4 'a b a b' at slop=0: two anchors → count 2 (anchor counting,
    identical to the ordered contract at slop=0)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b a"), (3, "x b a x x x c"), (4, "a b a b")],
        "doc_id long, text string",
    )

    def match(phrase, slop, **kw):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_match(docs, phrase, slop=slop, **kw).collect()
        }

    assert match(["a", "b"], 0, lucene=True) == {1: 1, 4: 2}
    assert match(["a", "b"], 0) == {1: 1, 4: 2}
    assert match(["a", "b"], 1, lucene=True) == {1: 1, 4: 2}
    # doc 3 contains 'b a' too — the transposition matches at slop=2
    assert match(["a", "b"], 2, lucene=True) == {1: 1, 2: 1, 3: 1, 4: 2}
    assert 2 not in match(["a", "b", "c"], 2, lucene=True)
    assert 3 not in match(["a", "b", "c"], 2, lucene=True)
    assert 3 in match(["a", "b", "c"], 2, ordered=False)
    assert 3 not in match(["a", "b", "c"], 3, lucene=True)
    assert 3 in match(["a", "b", "c"], 4, lucene=True)


@pytest.mark.parametrize(
    "phrase,slop",
    [
        (["table", "value"], 2),
        (["order", "key"], 2),
        (["table", "value", "row"], 1),
        (["table", "value", "row"], 2),
    ],
)
def test_phrase_lucene_identity_vs_dataframe(spark, pos_corpus, phrase, slop):
    """Exact-Lucene span contract: indexed packed-key path (biased-anchor
    arithmetic) ≡ DataFrame positions path, counts included; and the
    subset chain ordered ⊆ lucene ⊆ unordered holds at the same slop
    (provable from the window algebra — a span-≤-slop alignment embeds in
    the symmetric windows of any of its term-0 choices, and an anchored
    match has span ≤ slop by construction)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    docs, index_dir, idx, meta = pos_corpus
    expected = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_match(docs, phrase, slop=slop, lucene=True).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_search(
            spark, index_dir, phrase, index_df=idx, meta=meta,
            slop=slop, lucene=True,
        ).collect()
    )
    assert got == expected
    lucene_docs = {d for d, _ in expected}
    ordered_docs = {
        r["doc_id"] for r in phrase_match(docs, phrase, slop=slop).collect()
    }
    unordered_docs = {
        r["doc_id"]
        for r in phrase_match(docs, phrase, slop=slop, ordered=False).collect()
    }
    assert ordered_docs <= lucene_docs <= unordered_docs


def _brute_lucene_anchors(tokens, phrase, slop):
    """Independent brute-force oracle for the exact-Lucene contract:
    enumerate alignments (one position per phrase slot, windows
    [s+i, s+i+slop], DISTINCT positions within a repeated term's slots)
    for every candidate anchor s in the adjusted-position union."""
    from itertools import product

    pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in set(phrase)}
    if any(not pos[t] for t in phrase):
        return set()
    cand = {p - i for i, t in enumerate(phrase) for p in pos[t]}
    valid = set()
    for s in cand:
        choices = [
            [p for p in pos[t] if s + i <= p <= s + i + slop]
            for i, t in enumerate(phrase)
        ]
        if any(not c for c in choices):
            continue
        for combo in product(*choices):
            by_term: dict = {}
            for i, t in enumerate(phrase):
                by_term.setdefault(t, []).append(combo[i])
            if all(len(set(ps)) == len(ps) for ps in by_term.values()):
                valid.add(s)
                break
    return valid


def test_phrase_lucene_repeated_terms_unit(spark):
    """Lucene demands DISTINCT positions for a repeated phrase term — the
    Hall-run count filter enforces it: a lone 'a' can no longer satisfy
    both slots of phrase [a,a] at slop≥1 (the phantom the plain window
    check admits)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a a"), (3, "a x a"), (4, "a b a b a")],
        "doc_id long, text string",
    )

    def match(phrase, slop):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_match(docs, phrase, slop=slop, lucene=True).collect()
        }

    assert 1 not in match(["a", "a"], 0)
    assert 1 not in match(["a", "a"], 2)
    assert match(["a", "a"], 0).get(2) == 1
    assert 3 not in match(["a", "a"], 0)
    assert match(["a", "a"], 1).get(3) == 1
    # doc 4 'a b a b a': phrase [a,b,a] exact at anchors 0 and 2
    assert match(["a", "b", "a"], 0).get(4) == 2


@pytest.mark.parametrize(
    "phrase,slop",
    [
        (["a", "a"], 1),
        (["a", "b", "a"], 0),
        (["a", "b", "a"], 2),
        (["a", "a", "b"], 1),
        (["a", "b", "a", "b"], 2),
        (["b", "a"], 3),
    ],
)
def test_phrase_lucene_brute_force_cross_check(spark, tmp_path, phrase, slop):
    """Both lucene-mode paths ≡ an independent brute-force alignment
    enumerator (distinct positions for repeated slots) over a seeded
    random corpus — anchors counted, not just doc sets."""
    import random

    from hybrid_sanctions_search_engine_spark.operators.bm25 import phrase_match
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    rng = random.Random(20260817)
    rows = [
        (i, " ".join(rng.choice("a a b b c x".split()) for _ in range(rng.randint(1, 8))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {}
    for doc_id, text in rows:
        anchors = _brute_lucene_anchors(text.split(), phrase, slop)
        if anchors:
            expected[doc_id] = len(anchors)
    got_df = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(docs, phrase, slop=slop, lucene=True).collect()
    }
    assert got_df == expected
    index_dir = str(tmp_path / "idx")
    build_index(docs, index_dir, n_shards=2, chunk_bits=5, store_positions=True)
    idx, meta = load_index(spark, index_dir)
    got_idx = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(
            spark, index_dir, phrase, index_df=idx, meta=meta,
            slop=slop, lucene=True,
        ).collect()
    }
    assert got_idx == expected


def test_batch_phrase_lucene_parity(spark, pos_corpus):
    """batch_phrase_search(lucene=True) ≡ per-phrase
    phrase_search(lucene=True) over a mixed batch."""
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_phrase_search,
        phrase_search,
    )

    docs, index_dir, idx, meta = pos_corpus
    phrases = [(1, "key order"), (2, "order key"), (3, "table value row")]
    batched = batch_phrase_search(
        spark, index_dir, phrases, index_df=idx, meta=meta,
        slop=2, lucene=True,
    )
    got: dict[int, list] = {qid: [] for qid, _ in phrases}
    for r in batched.collect():
        got[r["query_id"]].append((r["doc_id"], r["n_occurrences"]))
    for qid, p in phrases:
        want = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_search(
                spark, index_dir, p, index_df=idx, meta=meta,
                slop=2, lucene=True,
            ).collect()
        )
        assert sorted(got[qid]) == want, (qid, p)


def test_batch_phrase_unordered_parity(spark, pos_corpus):
    """batch_phrase_search(ordered=False) ≡ per-phrase
    phrase_search(ordered=False) over a mixed batch."""
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_phrase_search,
        phrase_search,
    )

    docs, index_dir, idx, meta = pos_corpus
    phrases = [(1, "key order"), (2, "order key"), (3, "table value row")]
    batched = batch_phrase_search(
        spark, index_dir, phrases, index_df=idx, meta=meta,
        slop=2, ordered=False,
    )
    got: dict[int, list] = {qid: [] for qid, _ in phrases}
    for r in batched.collect():
        got[r["query_id"]].append((r["doc_id"], r["n_occurrences"]))
    for qid, p in phrases:
        want = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_search(
                spark, index_dir, p, index_df=idx, meta=meta,
                slop=2, ordered=False,
            ).collect()
        )
        assert sorted(got[qid]) == want, (qid, p)


def test_batch_scorer_partitioning_pinned(spark, corpus):
    """The scorer's explicit repartition must (a) satisfy the groupBy's
    required distribution — exactly ONE exchange between scan and the
    Arrow scorer — and (b) keep the stage at n_groups partitions so AQE's
    byte-based coalescing can't serialize the CPU-heavy scoring (measured
    11.5 s → 1.7 s on a 100-query × 960k-doc batch)."""
    from hybrid_sanctions_search_engine_spark.plans.wand import batch_topk_indexed

    docs, index_dir, idx, meta = corpus
    batch = [(1, "spark query"), (2, "table scan")]
    df = batch_topk_indexed(spark, index_dir, batch, k=5, index_df=idx, meta=meta)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scorer_pos = plan.find("FlatMapGroupsInPandas")
    assert scorer_pos >= 0, plan
    below = plan[scorer_pos:]
    # one exchange feeds the scorer (the explicit repartition); no second
    # exchange re-shuffles between it and the groupBy
    assert below.count("Exchange hashpartitioning") == 1, below
    assert "REPARTITION_BY_NUM" in below, below  # AQE-exempt form


def test_pre_grouped_scorer_plans_zero_exchanges(spark, corpus):
    """``pre_grouped=True`` over a standing plan's cached
    ``pmod(chunk, batch_n_groups)`` layout scores the cache in place: NO
    exchange between the cached scan and the Arrow scorer — on a fresh,
    unmaterialized cache too, as ``mapInPandas`` requires no distribution.
    The shuffle-by-group path (``pre_grouped=False``) over the same cache
    plans its exchange (the negative control), and both return the same
    rows."""
    from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan
    from hybrid_sanctions_search_engine_spark.plans.wand import batch_topk_indexed

    docs, index_dir, _, _ = corpus
    plan = HybridSearchPlan(docs, index_dir=index_dir)
    batch = [(1, "spark query"), (2, "table scan")]

    def below_scorer(pre_grouped):
        df = batch_topk_indexed(
            spark, index_dir, batch, k=5, index_df=plan.index_df,
            meta=plan.index_meta, n_groups=plan._idx_n_groups,
            pre_grouped=pre_grouped,
        )
        return df, _scorer_input(df)

    try:
        df, below = below_scorer(True)
        assert "Exchange" not in below and "Coalesce" in below, below
        want, shuffled = below_scorer(False)
        assert "Exchange hashpartitioning" in shuffled, shuffled
        assert sorted(df.collect()) == sorted(want.collect())
    finally:
        plan.close()


def _scorer_input(df, scan: str = "InMemoryTableScan") -> str:
    """The executed plan from the Python scorer node down to the scan."""
    import re

    text = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"(FlatMapGroups|Map)InPandas", text)
    assert m, text
    end = text.find(scan, m.start())
    assert end > m.start(), text
    return text[m.start():end]


def _jobs_and_tasks(spark, fn) -> tuple[int, int]:
    """(jobs, tasks) that ``fn`` runs on this thread, counted through a
    job group unique to the call (tests/test_local_frame.py's counter)."""
    import uuid

    sc = spark.sparkContext
    group = f"in-place-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "in-place pin")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    # a cached parent's shuffle stage is listed but skipped: count run
    # tasks.  Past ``spark.ui.retainedStages`` the status store evicts
    # skipped stages first (they have no completion time), so a listed
    # stage may already be gone: it ran no task
    infos = [tracker.getStageInfo(s) for s in stages]
    return len(jobs), sum(i.numCompletedTasks for i in infos if i is not None)


def test_lexical_stages_score_the_cache_in_place(spark, corpus, monkeypatch):
    """A standing plan scores every lexical stage in place on its
    ``pmod(chunk)``-partitioned cache, whatever the call shape: the scoring
    frames of an AC entry set, a weighted (fuzzy) set and a fused set plan
    no exchange between the cached scan and the Python scorer — before the
    cache is materialized too — each runs as one job of at most
    ``defaultParallelism`` Python tasks, and an escalated ``search()`` runs
    exactly one job per lexical stage.  A cold ``topk_search`` over the
    parquet index still shuffles by chunk (the negative control)."""
    from hybrid_sanctions_search_engine_spark.plans import hybrid
    from hybrid_sanctions_search_engine_spark.plans.hybrid import (
        HybridSearchPlan,
        SearchOpts,
    )

    docs, index_dir, _, _ = corpus
    par = spark.sparkContext.defaultParallelism
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    plan = HybridSearchPlan(docs, index_dir=index_dir)
    weighted = [(7, "spark", 0.8), (7, "query", 0.6)]
    shapes = [
        dict(entries=[(1, "spark query join")], override=None, msm="75%"),
        dict(entries=[], override=weighted, msm=1),
        dict(entries=[(1, "spark query join"), (2, "sort")], override=weighted, msm=1),
    ]

    def frame(entries, override, msm):
        return plan._score_base(
            entries, k=5, query_terms_override=override, min_should_match=msm
        )

    try:
        for shape in shapes:  # a fresh plan: building a frame submits no job
            assert "Exchange" not in _scorer_input(frame(**shape))
        plan.index_df.count()
        for shape in shapes:
            df = frame(**shape)
            below = _scorer_input(df)
            assert "Exchange" not in below and "Coalesce" in below, below
            jobs, tasks = _jobs_and_tasks(spark, df.collect)
            assert jobs == 1 and 0 < tasks <= par, (jobs, tasks)

        class Inline:
            """``_Async`` on the calling thread, inside the job group."""

            def __init__(self, fn):
                self._out = fn()

            def result(self):
                return self._out

        monkeypatch.setattr(hybrid, "_Async", Inline)
        plan.search("spark query join", opts)  # builds the driver dictionary
        out = {}
        jobs, _ = _jobs_and_tasks(
            spark, lambda: out.update(trace=plan.search("spark query join", opts)[1])
        )
        assert [t.stage for t in out["trace"]] == ["AC", "FUZZY", "HYBRID"]
        assert jobs == 2
    finally:
        plan.close()
    cold = topk_search(spark, index_dir, "spark query join", k=5)
    assert "Exchange hashpartitioning" in _scorer_input(cold, scan="FileScan")


def _zipf_shard_rows(seed: int, n_docs: int, vocab: int, chunk_bits: int):
    """Encoded shard rows (one shard, term-sorted as the build writes them)
    of a seeded Zipf corpus, built without Spark, and its IndexMeta."""
    import numpy as np
    import pandas as pd

    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        BLOCK_SIZE,
        IndexMeta,
        _encode_posting_frame,
    )

    rng = np.random.default_rng(seed)
    p = np.arange(1, vocab + 1, dtype=np.float64) ** -1.07
    lens = rng.integers(20, 60, n_docs)
    tokens = pd.DataFrame(
        {
            "doc_id": np.repeat(np.arange(n_docs), lens),
            "term": np.char.add("t", rng.choice(vocab, lens.sum(), p=p / p.sum()).astype(str)),
        }
    )
    post = tokens.groupby(["term", "doc_id"]).size().rename("tf").reset_index()
    post["doc_len"] = lens[post["doc_id"]]
    post["chunk"] = post["doc_id"].to_numpy() >> chunk_bits
    rows, _, _ = _encode_posting_frame(post, shard=0, store_positions=False)
    meta = IndexMeta(
        n_docs=n_docs, avgdl=float(lens.mean()), n_shards=1,
        chunk_bits=chunk_bits, block_size=BLOCK_SIZE, k1=1.2, b=0.75,
    )
    return rows, meta


@pytest.mark.parametrize("msm", [1, "75%"])
@pytest.mark.parametrize("weighted", [False, True], ids=["exact", "weighted"])
def test_single_query_group_scorer_bit_identical_to_chunk_scorer(msm, weighted):
    """Spark-free kernel pin: over the same term-sorted shard rows, the
    batch scorer — one query, or a 3-query batch mixing exact, weighted
    (override) and minimum_should_match queries — per ``pmod(chunk)``
    group, directly and through the in-place ``mapInPandas`` body fed
    cached partitions that mix groups in odd-sized Arrow batches, and
    through that body over the same postings as a raw ``flatten=None``
    frame partitioned by doc — returns each query's top-k of a per-chunk
    reference that sums each doc's contributions in row order with
    ``np.bincount``: doc ids, matched-term counts and every bit of the
    scores.  A change to the scorer's accumulation order breaks the
    equality."""
    import numpy as np
    import pandas as pd

    from hybrid_sanctions_search_engine_spark.operators.bm25 import (
        es_min_should_match,
        make_batch_group_scorer,
        score_pre_grouped,
    )
    from hybrid_sanctions_search_engine_spark.operators.similarity import local_topk
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        decode_shard_arrays,
    )

    k, n_groups, n_parts = 40, 8, 5
    rows, meta = _zipf_shard_rows(seed=7, n_docs=3000, vocab=400, chunk_bits=6)
    terms = ["t1", "t2", "t4", "t8", "t17", "t33"]
    weights = (
        {t: 1.0 - 0.07 * i for i, t in enumerate(terms)} if weighted else None
    )
    # query 0 is the parametrized one; 1 is weighted like an expanded
    # fuzzy id, 2 an exact query under the same minimum_should_match spec
    queries = {
        0: (terms, weights, es_min_should_match(msm, len(terms))),
        1: (["t2", "t8", "t33"], {"t2": 0.9, "t8": 0.5, "t33": 0.75}, 1),
        2: (["t1", "t4", "t17", "t33"], None, es_min_should_match(msm, 4)),
    }
    rows = rows[rows["term"].isin(terms)]

    def top(parts, q) -> pd.DataFrame:
        out = pd.concat(parts, ignore_index=True)
        if "query_id" in out.columns:
            out = out[out["query_id"] == q]
        out = out.sort_values(["score", "doc_id"], ascending=[False, True])
        return out.head(k)[["doc_id", "score", "n_terms_matched"]].reset_index(drop=True)

    def by_chunk(chunk_rows, w, msm_n) -> pd.DataFrame:
        """One chunk's top-k: every posting's BM25 contribution (times its
        term's weight), summed per doc in row order."""
        flat = decode_shard_arrays(chunk_rows, include_df=True)
        tf = flat["tf"].astype(np.float64)
        dl = flat["doc_len"].astype(np.float64)
        df = flat["df"].astype(np.float64)
        idf = np.log(1.0 + (meta.n_docs - df + 0.5) / (df + 0.5))
        contrib = idf * (tf * (meta.k1 + 1.0)) / (
            tf + meta.k1 * (1.0 - meta.b + meta.b * dl / meta.avgdl)
        )
        if w is not None:
            term_w = np.array([w.get(t, 1.0) for t in flat["uniq_terms"]])
            contrib = contrib * term_w[flat["term_codes"]]
        uniq, inv = np.unique(flat["doc_id"], return_inverse=True)
        sums = np.bincount(inv, weights=contrib)
        counts = np.bincount(inv)
        qual = counts >= msm_n
        uniq, sums, counts = uniq[qual], sums[qual], counts[qual]
        order = local_topk(uniq, sums, k)
        return pd.DataFrame(
            {"doc_id": uniq[order], "score": sums[order], "n_terms_matched": counts[order]}
        )

    want = {}
    for q, (ts, w, msm_n) in queries.items():
        sub = rows[rows["term"].isin(ts)]
        want[q] = top([by_chunk(g, w, msm_n) for _, g in sub.groupby("chunk", sort=False)], q)

    # a standing plan's cache: groups hashed onto fewer partitions, each
    # partition term-sorted, streamed as 7-row Arrow batches
    cached = rows.assign(part=(rows["chunk"] % n_groups) % n_parts)
    cached = cached.sort_values(["part", "term"], kind="mergesort")
    batches = [cached.iloc[i:i + 7] for i in range(0, len(cached), 7)]
    # the same postings decoded to raw (term, doc_id, tf, doc_len, df) rows,
    # cached by doc: every posting of a doc in one term-sorted partition
    flat = decode_shard_arrays(rows, include_df=True)
    raw = pd.DataFrame(
        {
            "term": flat["uniq_terms"][flat["term_codes"]],
            "doc_id": flat["doc_id"],
            "tf": flat["tf"],
            "doc_len": flat["doc_len"],
            "df": flat["df"],
        }
    )
    raw = raw.assign(part=raw["doc_id"] % n_parts)
    raw = raw.sort_values(["part", "term"], kind="mergesort")
    raw_batches = [raw.iloc[i:i + 7] for i in range(0, len(raw), 7)]

    for batch in ([0], [0, 1, 2]):
        term_to_qidx: dict = {}
        for i, q in enumerate(batch):
            ts, w, _ = queries[q]
            for t in ts:
                term_to_qidx.setdefault(t, []).append((i, (w or {}).get(t, 1.0)))
        msms = [queries[q][2] for q in batch]

        def scorer(flatten):
            return make_batch_group_scorer(
                term_to_qidx, batch, meta.n_docs, meta.avgdl, meta.k1, meta.b,
                k, flatten=flatten, min_match_per_qidx=msms,
            )

        by_group = scorer(lambda pdf: decode_shard_arrays(pdf, include_df=True))
        got = [by_group((g,), grp) for g, grp in rows.groupby(rows["chunk"] % n_groups)]
        served = list(score_pre_grouped(by_group)(iter(batches)))
        served_raw = list(score_pre_grouped(scorer(None))(iter(raw_batches)))
        for q in batch:
            multi = 3 if q == 0 else 2  # multi-term sums
            assert (want[q]["n_terms_matched"] >= multi).sum() > k // 2
            for res in (top(got, q), top(served, q), top(served_raw, q)):
                assert res["doc_id"].tolist() == want[q]["doc_id"].tolist()
                assert res["n_terms_matched"].tolist() == want[q]["n_terms_matched"].tolist()
                assert np.array_equal(res["score"].to_numpy(), want[q]["score"].to_numpy())


def test_es_min_should_match_rules():
    """ES/Lucene resolution rules for the simple forms the reference uses:
    positive/negative int, positive/negative percent, floor rounding,
    clamped to [1, n]."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import (
        es_min_should_match as msm,
    )

    assert msm(1, 5) == 1
    assert msm(3, 5) == 3
    assert msm(9, 5) == 5          # more required than exist → all required
    assert msm(-1, 5) == 4
    assert msm(-9, 5) == 1         # never below 1
    assert msm("75%", 3) == 2      # floor(2.25)
    assert msm("75%", 4) == 3
    assert msm("100%", 7) == 7
    assert msm("10%", 3) == 1      # floor(0.3) clamps up to 1
    assert msm("-25%", 4) == 3     # n - floor(n*25/100)
    assert msm("2", 5) == 2        # bare-number string
    assert msm("75%", 0) == 0      # empty query


@pytest.mark.parametrize("spec", ["75%", 2])
def test_min_should_match_three_path_identity(spark, corpus, spec):
    """The msm filter must select the same docs in all three scoring paths:
    DataFrame bm25_topk, indexed topk_search (through θ-pruning), and the
    batched indexed scorer — and every result must match ≥ the resolved
    number of terms."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import (
        es_min_should_match,
    )
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
        query_terms,
    )

    docs, index_dir, idx, meta = corpus
    query = "spark query join"
    n_terms = len(query_terms(query))
    msm_n = es_min_should_match(spec, n_terms)
    assert msm_n == 2

    df_res = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in bm25_topk(docs, query, k=10, min_should_match=spec).collect()
    ]
    assert df_res and all(n >= msm_n for _, _, n in df_res)

    idx_res = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in topk_search(
            spark, index_dir, query, k=10,
            index_df=idx, meta=meta, min_should_match=spec,
        ).collect()
    ]
    assert idx_res == df_res

    batch_res = sorted(
        (
            (r["doc_id"], r["n_terms_matched"])
            for r in batch_topk_indexed(
                spark, index_dir, [(7, query)], k=10,
                index_df=idx, meta=meta, min_should_match=spec,
            ).collect()
        ),
    )
    assert batch_res == sorted((d, n) for d, _, n in df_res)

    # the filter is a PRE-filter: post-filtering the unfiltered top-10
    # yields a different (starved) set whenever single-term docs rank high
    unfiltered = bm25_topk(docs, query, k=10).collect()
    post = [r["doc_id"] for r in unfiltered if r["n_terms_matched"] >= msm_n]
    assert len(post) <= len(df_res)


def test_min_should_match_rejected_with_override(spark, corpus):
    """query_terms_override tallies expansion variants, not query terms —
    combining it with a minimum must raise, not silently mis-filter."""
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
    )

    docs, index_dir, idx, meta = corpus
    # override-only calls still reject a minimum outright
    with pytest.raises(ValueError, match="min_should_match"):
        batch_topk_indexed(
            spark, index_dir, [], k=5,
            index_df=idx, meta=meta,
            query_terms_override=[(1, "spark", 1.0), (1, "query", 0.5)],
            min_should_match=2,
        )
    # fused calls (queries + override) require disjoint id spaces — an
    # overlapping id would silently merge AC terms with expansion variants
    with pytest.raises(ValueError, match="disjoint"):
        batch_topk_indexed(
            spark, index_dir, [(1, "spark query")], k=5,
            index_df=idx, meta=meta,
            query_terms_override=[(1, "spark", 1.0), (1, "query", 0.5)],
            min_should_match=2,
        )


def test_bm25_topk_multi_equals_per_mode(spark, corpus):
    """bm25_topk_multi (one postings pass, mode fan-out) must reproduce
    each mode's bm25_topk ranking exactly (9-decimal scores, same docs,
    same n_terms_matched, same msm resolution)."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import (
        bm25_topk,
        bm25_topk_multi,
    )

    docs, _index_dir, _idx, _meta = corpus
    modes = [
        ("all", ["spark", "query", "join"], 1),
        ("msm75", ["spark", "query", "zzznope"], "75%"),
    ]
    multi = bm25_topk_multi(docs, modes, k=10).collect()
    for m, ts, msm in modes:
        single = bm25_topk(docs, ts, k=10, min_should_match=msm).collect()
        got = sorted(
            (
                (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
                for r in multi
                if r["mode"] == m
            ),
            key=lambda t: (-t[1], t[0]),
        )
        want = [
            (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
            for r in single
        ]
        assert got == want, m


def test_msm_duplicate_tokens_resolve_distinct(spark, corpus):
    """A duplicate-token query ('spark spark query', msm=100%) resolves the
    minimum against the DISTINCT term count (2) in every path — ES counts
    each duplicate clause as matched, and n_terms_matched tallies distinct
    terms, so the old duplicate-inclusive resolution (3) over-filtered the
    single-query paths to empty and broke batch<->single parity."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
        topk_search,
    )

    docs, index_dir, idx, meta = corpus
    qlist = ["spark", "spark", "query"]
    single = topk_search(
        spark, index_dir, qlist, k=5, index_df=idx, meta=meta,
        min_should_match="100%",
    ).collect()
    doc_side = bm25_topk(docs, qlist, k=5, min_should_match="100%").collect()
    batch = batch_topk_indexed(
        spark, index_dir, [(1, "spark spark query")], k=5,
        index_df=idx, meta=meta, min_should_match="100%",
    ).collect()
    assert single, "distinct-count resolution must not over-filter to empty"
    assert [r["doc_id"] for r in single] == [r["doc_id"] for r in batch]
    assert [r["doc_id"] for r in doc_side] == [r["doc_id"] for r in batch]


def test_fused_batch_equals_two_jobs(spark, corpus):
    """The fused AC+fuzzy shape (queries + disjoint override ids in ONE
    job) must be row-identical to running the two jobs separately."""
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
    )

    docs, index_dir, idx, meta = corpus
    queries = [(1, "spark query join"), (2, "window table")]
    override = [(100, "spark", 0.8), (100, "query", 1.0), (101, "merge", 0.5)]
    fused = batch_topk_indexed(
        spark, index_dir, queries, k=5, index_df=idx, meta=meta,
        min_should_match="75%", query_terms_override=override,
    ).collect()
    ac = batch_topk_indexed(
        spark, index_dir, queries, k=5, index_df=idx, meta=meta,
        min_should_match="75%",
    ).collect()
    fz = batch_topk_indexed(
        spark, index_dir, [], k=5, index_df=idx, meta=meta,
        query_terms_override=override,
    ).collect()
    assert sorted(map(tuple, fused), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, ac + fz), key=lambda t: (t[0], t[3])
    )
