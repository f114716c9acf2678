"""Full-journey integration: the web-scale pipeline end to end.

A reference user's whole workflow on one corpus, every stage through the
real operators: Common-Crawl-style pages → deterministic extraction →
documents → compressed index + IVF ANN index → batched hybrid serving
(`search_many`) → new pages stream in as a delta → overlay serving sees
them immediately → merge compaction folds them into the base → the folded
index serves them with correct corpus stats.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
from hybrid_sanctions_search_engine_spark.sources.index_io import (
    build_index,
    load_index,
)
from hybrid_sanctions_search_engine_spark.sources.webpages import (
    synth_webpages,
    webpages_to_documents,
)

DIM = 64


def test_webscale_pipeline_end_to_end(spark, sf_smoke_dir, tmp_path):
    base_docs_src = spark.read.parquet(
        os.path.join(sf_smoke_dir, "documents.parquet")
    )

    # --- 1. pages → extraction → documents shape -----------------------
    pages = synth_webpages(base_docs_src.limit(300))
    docs = webpages_to_documents(pages).persist()
    n_docs = docs.count()
    assert n_docs == 300

    # --- 2. compressed index + ANN index over the ingested corpus ------
    index_dir = str(tmp_path / "web_index")
    build_index(docs, index_dir, n_shards=4, chunk_bits=48)
    # chunk_bits=48: xxhash64(url) doc ids span the full 64-bit range, so
    # doc-range chunking must use coarse chunks (the build handles any
    # doc-id distribution; chunks partition the hash space)
    _, meta = load_index(spark, index_dir)
    assert meta.n_docs == n_docs

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], DIM))
        for r in docs.select("doc_id", "text").collect()
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ann_dir = str(tmp_path / "web_ann")
    write_ivf_index(emb, ann_dir, n_centroids=8, iters=6)

    # --- 3. batched hybrid serving over the ingested corpus ------------
    plan = HybridSearchPlan(
        docs, embeddings=emb, embedding_dim=DIM,
        index_dir=index_dir, ann_index_dir=ann_dir, ann_kind="ivf",
    )
    queries = [
        (1, "spark query join"),     # strong lexical
        (2, "sparc quary"),          # typo — escalates through fuzzy+vector
        (3, "docs home"),            # chrome terms from the extraction spec
    ]
    res, qmeta = plan.search_many(queries, SearchOpts(top_k=5))
    per_q = {qid: 0 for qid, _ in queries}
    for r in res.collect():
        per_q[r["query_id"]] += 1
    assert per_q[1] > 0 and per_q[3] > 0
    assert qmeta[2]["escalated"]
    plan.close()

    # --- 4. new pages stream in; overlay serving sees them now ---------
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        load_delta_postings,
        load_delta_stats,
        merge_compact,
        start_delta_stream,
    )

    fresh = spark.createDataFrame(
        [
            (9_000_001, "zyzzyva breaking story spark", "en", "web", 28),
            (9_000_002, "zyzzyva follow-up coverage", "en", "web", 26),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    input_dir, delta_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "delta"), str(tmp_path / "ckpt")
    )
    os.makedirs(input_dir, exist_ok=True)
    fresh.coalesce(1).write.mode("append").parquet(input_dir)
    q = start_delta_stream(
        spark, input_dir, delta_dir, ckpt,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q.awaitTermination(120)

    delta = load_delta_postings(spark, delta_dir)
    stats = load_delta_stats(delta_dir)
    assert stats is not None and stats[0] == 2
    # the manifest must agree with the postings themselves
    row = (
        delta.select("doc_id", "doc_len").distinct()
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
    )
    assert stats[0] == int(row["n"]) and stats[1] == pytest.approx(row["a"])

    plan = HybridSearchPlan(docs, index_dir=index_dir)
    plan.attach_delta(delta_postings=delta, delta_stats=stats)
    overlay, _ = plan.search_many(
        [(7, "zyzzyva")], SearchOpts(top_k=5, enable_escalation=False)
    )
    assert {r["doc_id"] for r in overlay.collect()} == {9_000_001, 9_000_002}
    plan.close()

    # --- 5. merge compaction folds the delta; folded index serves it ---
    delta_files = [
        os.path.join(delta_dir, f)
        for f in os.listdir(delta_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    report = merge_compact(spark, index_dir, delta_files=delta_files)
    assert report["new_docs"] == 2
    idx2, meta2 = load_index(spark, index_dir)
    assert meta2.n_docs == n_docs + 2
    folded = topk_search(
        spark, index_dir, "zyzzyva", k=5, index_df=idx2, meta=meta2
    )
    assert {r["doc_id"] for r in folded.collect()} == {9_000_001, 9_000_002}
    docs.unpersist()
