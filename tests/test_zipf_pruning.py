"""Exact top-k BM25 on a Zipfian corpus.

Real web text is Zipfian (the harness documents table is near-uniform).
On a seeded Zipf corpus (sources/synth.py) these tests pin that the
indexed ``topk_search`` — one in-place pass over every candidate chunk —
equals the Column-expression reference ``bm25_topk`` at 9 decimals, for
the shapes a score bound would have favoured (a ubiquitous term plus a
rare, high-idf one) and the ones it would not.  Block-max θ-pruning, which these
shapes once exercised, lost to that one pass at every size measured and is
gone (DESIGN_100TB.md, "Pruning regime").
"""

from __future__ import annotations

import pytest

from hybrid_sanctions_search_engine_spark.sources.synth import zipf_documents

N_DOCS = 40_000
VOCAB = 20_000
DOC_LEN = 60


@pytest.fixture(scope="module")
def zipf_index(spark, tmp_path_factory):
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    docs = zipf_documents(spark, N_DOCS, vocab_size=VOCAB, doc_len=DOC_LEN).persist()
    index_dir = str(tmp_path_factory.mktemp("zipf_idx"))
    build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    idx, meta = load_index(spark, index_dir)
    idx = idx.persist()
    idx.count()
    yield docs, index_dir, idx, meta
    idx.unpersist()
    docs.unpersist()


def test_corpus_is_deterministic_and_zipfian(spark):
    a = sorted(
        (r["doc_id"], r["text"])
        for r in zipf_documents(spark, 500, vocab_size=2000, doc_len=30).collect()
    )
    b = sorted(
        (r["doc_id"], r["text"])
        for r in zipf_documents(spark, 500, vocab_size=2000, doc_len=30).collect()
    )
    assert a == b
    # Zipf shape: the top term's df dwarfs the median term's
    from hybrid_sanctions_search_engine_spark.operators.postings import (
        build_postings,
        term_doc_freq,
    )

    docs = zipf_documents(spark, 2000, vocab_size=5000, doc_len=40)
    dfs = sorted(
        (r["df"] for r in term_doc_freq(build_postings(docs)).collect()),
        reverse=True,
    )
    assert dfs[0] > 20 * dfs[len(dfs) // 2]


@pytest.mark.parametrize(
    "query",
    ["w1 w9000", "w0 w2 w15000", "w4000 w11000", "w3", "w0 w1"],
)
def test_topk_search_equals_reference(spark, zipf_index, query):
    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

    docs, index_dir, idx, meta = zipf_index
    want = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in bm25_topk(docs, query, k=10).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
        for r in topk_search(
            spark, index_dir, query, k=10, index_df=idx, meta=meta
        ).collect()
    ]
    assert got == want, query


def test_stats_out_counts_every_candidate_chunk(spark, zipf_index):
    """``stats_out`` prunes nothing and changes nothing: for a ubiquitous +
    rare query it reports every chunk holding a query term — counted here
    from the raw postings, ``doc_id >> chunk_bits`` — as scored, a ``str``
    query and its ``list[str]`` tokens report alike, and the call still
    equals the reference."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

    docs, index_dir, idx, meta = zipf_index
    want_chunks = (
        build_postings(docs, positions=False)
        .where(F.col("term").isin("w1", "w9000"))
        .select(F.shiftright("doc_id", meta.chunk_bits).alias("chunk"))
        .distinct()
        .count()
    )
    stats: dict = {}
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in topk_search(
            spark, index_dir, "w1 w9000", k=5, index_df=idx, meta=meta,
            stats_out=stats,
        ).collect()
    ]
    assert stats == {"chunks_total": want_chunks, "chunks_scored": want_chunks}
    assert want_chunks > 100  # the ubiquitous term reaches ~all chunks
    listed: dict = {}
    topk_search(
        spark, index_dir, ["w1", "w9000"], k=5, index_df=idx, meta=meta,
        stats_out=listed,
    )
    assert listed == stats
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(docs, "w1 w9000", k=5).collect()
    ]
    assert got == want
