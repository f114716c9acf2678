"""Vector-aware streaming delta overlay (round-6 headline item).

The reference's overlay search covers its VECTOR index — the char-TF-IDF
overlay is searched before the active FAISS/ES index and keep-best merged
(``/root/reference/src/ai_service/layers/embeddings/indexing/
watchlist_index_service.py:85-222``).  Pre-round-6 the repo's delta was
lexical-only: streamed docs got BM25 overlay hits but were invisible to the
ladder's vector stage (and therefore to escalation-by-semantics) until
compaction.  This file pins the round-6 contract:

* the delta stream embeds each microbatch through the encoder seam and
  appends (vec_id, embedding) under the delta dir;
* ``HybridSearchPlan.attach_delta`` serves every ladder stage base ∪ delta —
  AC/fuzzy as reference-style per-side-stats overlays, vector as
  ANN-probe(base) ∪ exact-gemv(delta);
* with exhaustive probes the delta-attached ladder is BIT-IDENTICAL to a
  plan fully rebuilt on base ∪ delta for escalating vector-served queries
  (cosine is corpus-stats-free), including the escalation decisions;
* ``search()`` ≡ ``search_many()`` on a delta-attached plan (the repo-wide
  single↔batch discipline);
* ``fold_delta_embeddings`` folds the vectors into the base ANN layout at
  compaction — crash-safe and idempotent like ``merge_compact``.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.encoder import PseudoEncoder
from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.plans.wand import index_rows
from hybrid_sanctions_search_engine_spark.sources.index_io import build_index, load_index
from hybrid_sanctions_search_engine_spark.streaming.incremental import (
    fold_delta_embeddings,
    load_delta_embeddings,
    load_delta_postings,
    load_delta_stats,
    start_delta_stream,
)

DIM = 64
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# streamed docs: ids disjoint from the base corpus (compaction contract),
# texts long enough that their pseudo-embeddings separate from the base
DELTA_DOCS = [
    (
        900001,
        "zorblatt quantum flume analytics pipeline ingests westward "
        "telemetry beacons nightly across the federated mesh",
        "en", "stream", 104,
    ),
    (
        900002,
        "freshly streamed zorblatt document about spark query planning "
        "and adaptive execution with runtime statistics",
        "en", "stream", 102,
    ),
    (
        900003,
        "волонтерський фонд надіслав переказ коштів одержувачу через "
        "банківську установу в четвер",
        "uk", "stream", 86,
    ),
]

# pure-gibberish tokens: absent from base+delta vocabulary AND ≥ 2 edits from
# every term, so AC and fuzzy both come up empty and the ladder's answer is
# vector-only — the regime where delta-overlay ≡ full rebuild must hold to
# the last bit
GIBBERISH_QUERY = "qqxxvvzz wwkkjjpp mmrrnnll"


def _embeddings_of(spark, docs_df):
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], DIM))
        for r in docs_df.select("doc_id", "text").collect()
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def env(spark, sf_smoke_dir, tmp_path_factory):
    """Base index + IVF ANN on the sf0.001 corpus; DELTA_DOCS streamed with
    an encoder; a delta-attached plan and a full-rebuild plan (both with
    exhaustive probes, so ANN recall cannot mask a parity break)."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    root = tmp_path_factory.mktemp("hybrid_delta")
    base_docs = spark.read.parquet(
        os.path.join(sf_smoke_dir, "documents.parquet")
    )
    base_emb = _embeddings_of(spark, base_docs)

    index_dir = str(root / "index")
    build_index(base_docs, index_dir, n_shards=4, chunk_bits=7)
    ann_dir = str(root / "ivf")
    write_ivf_index(base_emb, ann_dir, n_centroids=4, iters=6)

    input_dir, delta_dir, ckpt = (
        str(root / "input"), str(root / "delta"), str(root / "ckpt")
    )
    os.makedirs(input_dir, exist_ok=True)
    spark.createDataFrame(DELTA_DOCS, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)
    q = start_delta_stream(
        spark, input_dir, delta_dir, ckpt, SCHEMA,
        encoder=PseudoEncoder(DIM),
    )
    q.awaitTermination(120)

    delta_docs_df = spark.createDataFrame(DELTA_DOCS, SCHEMA)
    plan = HybridSearchPlan(
        base_docs, embeddings=base_emb, embedding_dim=DIM,
        index_dir=index_dir, ann_index_dir=ann_dir, ann_kind="ivf",
        ann_n_probe=4,  # exhaustive: 4 centroids
    )
    plan.attach_delta(
        delta_docs=delta_docs_df,
        delta_postings=load_delta_postings(spark, delta_dir),
        delta_stats=load_delta_stats(delta_dir),
        delta_embeddings=load_delta_embeddings(spark, delta_dir),
    )

    # full rebuild on base ∪ delta (the oracle the delta overlay must match
    # for vector-served queries)
    union_docs = base_docs.unionByName(delta_docs_df)
    union_emb = _embeddings_of(spark, union_docs)
    rebuilt_index = str(root / "index_rebuilt")
    build_index(union_docs, rebuilt_index, n_shards=4, chunk_bits=7)
    rebuilt_ann = str(root / "ivf_rebuilt")
    write_ivf_index(union_emb, rebuilt_ann, n_centroids=4, iters=6)
    rebuilt = HybridSearchPlan(
        union_docs, embeddings=union_emb, embedding_dim=DIM,
        index_dir=rebuilt_index, ann_index_dir=rebuilt_ann, ann_kind="ivf",
        ann_n_probe=4,
    )
    yield {
        "plan": plan,
        "rebuilt": rebuilt,
        "delta_dir": delta_dir,
        "ann_dir": ann_dir,
        "base_emb": base_emb,
        "spark": spark,
    }
    plan.close()
    rebuilt.close()


def test_stream_writes_encoder_exact_embeddings(spark, env):
    """The microbatch embedding pass is the ENCODER SEAM's embed_texts —
    vectors on disk are bit-identical to encode_one of the same text."""
    demb = load_delta_embeddings(spark, env["delta_dir"])
    assert demb is not None
    rows = {r["vec_id"]: r["embedding"] for r in demb.collect()}
    assert set(rows) == {d[0] for d in DELTA_DOCS}
    enc = PseudoEncoder(DIM)
    for doc_id, text, *_ in DELTA_DOCS:
        assert rows[doc_id] == enc.encode_one(text), doc_id
    # the postings read must NOT see the _embeddings subdir
    post = load_delta_postings(spark, env["delta_dir"])
    assert set(post.columns) == {"term", "doc_id", "doc_len", "tf", "positions"}


def test_vector_stage_reaches_delta_docs(env):
    """A query semantically identical to a streamed doc: the vector stage
    must return that doc at rank 1 with cosine ≈ 1 — the exact failure mode
    of the lexical-only delta (round-5 'What's missing' #1)."""
    plan = env["plan"]
    hits = plan.vector_stage(DELTA_DOCS[0][1], k=5, rerank=False).collect()
    assert hits[0]["doc_id"] == DELTA_DOCS[0][0]
    assert hits[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_lexical_overlay_still_serves_marker_terms(env, monkeypatch):
    """zorblatt appears only in the delta — the full ladder's lexical side
    must surface both streamed docs (the pre-round-6 behavior, preserved).

    The base side of the overlay is scored in place on the plan's cache;
    strong and escalated results, for msm 1 and "75%", must equal EXACTLY
    those of the same scorer over the cold parquet index (one repartition
    by chunk group, no cache)."""
    plan = env["plan"]
    res, _ = plan.search("zorblatt", SearchOpts(top_k=5))
    ids = {r["doc_id"] for r in res.collect()}
    assert {900001, 900002} <= ids

    cases = [
        (q, SearchOpts(top_k=5, min_should_match=msm))
        for q in ["zorblatt spark query", "zorblat sparc query", "spark query join window"]
        for msm in (1, "75%")
    ]

    def served():
        out = []
        for q, opts in cases:
            res, trace = plan.search(q, opts)
            out.append(([t.stage for t in trace], [tuple(r) for r in res.collect()]))
        return out

    in_place = served()
    assert any("FUZZY" in stages for stages, _ in in_place)

    # above the in-RAM dictionary cap: the (base ∪ delta) Bloom filter lets
    # the delta-only marker term through AC pruning, and results are the
    # same; once the delta is detached, the marker term is pruned again
    monkeypatch.setattr(plan, "driver_expansion_max_terms", 0)
    plan._driver_dict = ...
    assert plan._driver_dictionary() is None
    assert "zorblatt" in plan._dict_present_set()
    assert served() == in_place
    delta = (plan.delta_docs, plan.delta_postings, plan.delta_stats,
             plan.delta_embeddings)
    try:
        plan.detach_delta()
        assert plan._dict_present_set() is None  # invalidated
        plan._driver_dictionary()
        assert "zorblatt" not in plan._dict_present_set()
        res, trace = plan.search(
            "zorblatt", SearchOpts(top_k=5, enable_escalation=False)
        )
        assert res.collect() == [] and trace[0].hits == 0
    finally:
        plan.attach_delta(*delta)
    monkeypatch.undo()
    plan._driver_dict = ...

    # the plan's bound base scorer, pointed at the cold parquet index
    spark = plan.index_df.sparkSession
    cold, meta = load_index(spark, plan.index_dir)
    base = plan._score_base
    monkeypatch.setattr(
        plan, "_score_base",
        partial(base.func, index_rows(spark, meta, cold), **base.keywords),
    )
    assert in_place == served()


def test_escalating_ladder_equals_full_rebuild(env):
    """Gibberish query: AC and fuzzy are empty on BOTH plans, both escalate,
    and the answer is vector-only.  Cosine is corpus-stats-free, so with
    exhaustive probes the delta-attached ladder must equal the full rebuild
    EXACTLY — results, scores (9 decimals), and the escalation decisions."""
    opts = SearchOpts(top_k=10)
    res_a, trace_a = env["plan"].search(GIBBERISH_QUERY, opts)
    res_b, trace_b = env["rebuilt"].search(GIBBERISH_QUERY, opts)
    rows_a = [(r["doc_id"], round(r["score"], 9)) for r in res_a.collect()]
    rows_b = [(r["doc_id"], round(r["score"], 9)) for r in res_b.collect()]
    assert rows_a == rows_b
    assert rows_a  # vector stage actually served something
    ha = next(t for t in trace_a if t.stage == "HYBRID")
    hb = next(t for t in trace_b if t.stage == "HYBRID")
    assert ha.meta == hb.meta
    assert ha.meta["escalated"] and ha.meta["vector_fallback_used"]


def test_delta_doc_text_query_equals_full_rebuild(env):
    """Query = a streamed doc's own text.  Both plans escalate the same way
    and the vector stage (cos = 1.0 on the streamed doc) dominates; rerank
    and anchor probes read the doc text through the base ∪ delta store."""
    opts = SearchOpts(top_k=5)
    text = DELTA_DOCS[1][1]
    res_a, trace_a = env["plan"].search(text, opts)
    res_b, trace_b = env["rebuilt"].search(text, opts)
    ha = next(t for t in trace_a if t.stage == "HYBRID")
    hb = next(t for t in trace_b if t.stage == "HYBRID")
    assert ha.meta["escalated"] == hb.meta["escalated"]
    if ha.meta["vector_fallback_used"]:
        # vector-dominant regime: the streamed doc must be found
        assert res_a.collect()[0]["doc_id"] == DELTA_DOCS[1][0]


def test_search_many_parity_with_delta(env):
    """search_many ≡ search on a delta-attached plan: mixed batch covering
    no-escalation, lexical-delta, vector-delta, homoglyph and gibberish
    queries — ranks, scores (9 decimals), and escalation meta all equal."""
    plan = env["plan"]
    queries = [
        (1, "spark query join window"),
        (2, "zorblatt"),
        (3, GIBBERISH_QUERY),
        (4, DELTA_DOCS[0][1]),
        (5, "sраrk query"),  # Cyrillic а/р homoglyphs
        (6, "переказ коштів одержувачу"),
    ]
    opts = SearchOpts(top_k=5)
    batched, meta = plan.search_many(queries, opts)
    got: dict[int, list] = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9))
        )
    for qid, text in queries:
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


def test_detach_delta_restores_base_serving(spark, env, sf_smoke_dir):
    """detach_delta: the plan serves base-only again (fresh plan equality)."""
    base_docs = spark.read.parquet(
        os.path.join(sf_smoke_dir, "documents.parquet")
    )
    plan = env["plan"]
    try:
        plan.detach_delta()
        res, _ = plan.search("zorblatt", SearchOpts(top_k=5))
        assert not {900001, 900002} & {r["doc_id"] for r in res.collect()}
        hits = plan.vector_stage(DELTA_DOCS[0][1], k=3, rerank=False).collect()
        assert DELTA_DOCS[0][0] not in {r["doc_id"] for r in hits}
    finally:
        plan.attach_delta(
            delta_docs=spark.createDataFrame(DELTA_DOCS, SCHEMA),
            delta_postings=load_delta_postings(spark, env["delta_dir"]),
            delta_stats=load_delta_stats(env["delta_dir"]),
            delta_embeddings=load_delta_embeddings(spark, env["delta_dir"]),
        )


# ---------------------------------------------------------------------------
# compaction: folding delta embeddings into the base ANN layout
# ---------------------------------------------------------------------------


@pytest.fixture()
def ann_copy(env, tmp_path):
    import shutil

    dst = str(tmp_path / "ivf_copy")
    shutil.copytree(env["ann_dir"], dst)
    return dst


def _emb_files(env):
    """The streamed delta's embeddings parquet files."""
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        delta_embeddings_dir,
    )

    emb_dir = delta_embeddings_dir(env["delta_dir"])
    return sorted(
        os.path.join(emb_dir, f) for f in os.listdir(emb_dir) if f.endswith(".parquet")
    )


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "ivf_sq8"])
def test_fold_delta_embeddings(spark, env, tmp_path, kind):
    """Each IVF-family layout folds the streamed vector files: vectors are
    cell-assigned (and PQ- or int8-coded) with the STORED centroids and
    codec (no retrain), so a plain probe finds the streamed doc at exact
    cosine 1.0 after the re-rank; a rerun is a per-file no-op."""
    from hybrid_sanctions_search_engine_spark.operators import pq, similarity, sq

    write, load, probe, code = {
        "ivf": (similarity.write_ivf_index, similarity.load_ivf_index,
                similarity.knn_ivf_probe_many, None),
        "ivf_pq": (partial(pq.write_ivf_pq_index, m=16), pq.load_ivf_pq_index,
                   partial(pq.knn_ivf_pq_probe_many, refine=8), "pq_code"),
        "ivf_sq8": (sq.write_ivf_sq8_index, sq.load_ivf_sq8_index,
                    partial(sq.knn_ivf_sq8_probe_many, refine=8), "sq_code"),
    }[kind]
    path = str(tmp_path / kind)
    write(env["base_emb"], path, n_centroids=4, iters=6)
    before = spark.read.parquet(path).count()
    files = _emb_files(env)
    rep = fold_delta_embeddings(spark, path, files, kind=kind)
    assert rep["folded_vecs"] == len(DELTA_DOCS)
    df, cents, *codec = load(spark, path)
    assert df.count() == before + len(DELTA_DOCS)
    if code:
        assert df.where(F.col(code).isNull()).count() == 0
    (_, top, cos), *_ = probe(
        df, cents, *codec, [(0, pseudo_embedding(DELTA_DOCS[0][1], DIM))], k=3,
        n_probe=len(cents), as_rows=True,
    )
    assert top == DELTA_DOCS[0][0]
    assert cos == pytest.approx(1.0, abs=1e-9)
    rep2 = fold_delta_embeddings(spark, path, files, kind=kind)
    assert rep2.get("noop")
    assert spark.read.parquet(path).count() == before + len(DELTA_DOCS)


def test_fold_refuses_pre_residual_pq_index(spark, env, tmp_path):
    """Folding into a pre-residual ivf_pq index must refuse (mirroring
    load_ivf_pq_index): appending residual-coded delta rows next to
    raw-coded base rows would permanently mix two incompatible encodings
    in one index directory."""
    import json

    from hybrid_sanctions_search_engine_spark.operators.pq import (
        write_ivf_pq_index,
    )

    path = str(tmp_path / "ivf_pq_preres")
    write_ivf_pq_index(env["base_emb"], path, n_centroids=4, m=16, iters=6)
    meta_path = os.path.join(path, "_ivf_pq_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["residual"]  # simulate the pre-residual index format
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="pre-residual"):
        fold_delta_embeddings(spark, path, _emb_files(env), kind="ivf_pq")


def _assert_delta_overlay(spark, env, plan):
    """Attach the streamed delta to ``plan``: the streamed doc surfaces at
    cosine 1.0 (it is served by the exact delta gemv, never quantized), and
    search ≡ search_many holds.  Closes ``plan``."""
    plan.attach_delta(
        delta_docs=spark.createDataFrame(DELTA_DOCS, SCHEMA),
        delta_postings=load_delta_postings(spark, env["delta_dir"]),
        delta_stats=load_delta_stats(env["delta_dir"]),
        delta_embeddings=load_delta_embeddings(spark, env["delta_dir"]),
    )
    try:
        hits = plan.vector_stage(DELTA_DOCS[0][1], k=3, rerank=False).collect()
        assert hits[0]["doc_id"] == DELTA_DOCS[0][0]
        assert hits[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)
        queries = [(1, GIBBERISH_QUERY), (2, "zorblatt"), (3, DELTA_DOCS[2][1])]
        opts = SearchOpts(top_k=5)
        batched, meta = plan.search_many(queries, opts)
        got: dict[int, list] = {}
        for r in batched.collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9))
            )
        for qid, text in queries:
            res, trace = plan.search(text, opts)
            want = [
                (i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(res.collect())
            ]
            assert sorted(got.get(qid, [])) == want, (qid, text)
    finally:
        plan.close()


def test_delta_overlay_with_ivf_pq_plan(spark, env, tmp_path):
    """The vector overlay composes with the PQ-coded base layout too."""
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        write_ivf_pq_index,
    )

    path = str(tmp_path / "ivf_pq")
    write_ivf_pq_index(env["base_emb"], path, n_centroids=4, m=16, iters=6)
    plan = HybridSearchPlan(
        env["plan"].docs, embeddings=env["base_emb"], embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_pq", ann_n_probe=4, ann_refine=8,
    )
    _assert_delta_overlay(spark, env, plan)


def test_delta_overlay_with_ivf_sq8_plan(spark, env, tmp_path):
    """The vector overlay composes with the int8-coded base layout too."""
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        write_ivf_sq8_index,
    )

    path = str(tmp_path / "ivf_sq8")
    write_ivf_sq8_index(env["base_emb"], path, n_centroids=4, iters=6)
    plan = HybridSearchPlan(
        env["plan"].docs, embeddings=env["base_emb"], embedding_dim=DIM,
        ann_index_dir=path, ann_kind="ivf_sq8", ann_n_probe=4, ann_refine=8,
    )
    _assert_delta_overlay(spark, env, plan)


def test_delta_overlay_with_no_index_plan(spark, env):
    """Without an ANN index the base embeddings are scanned exactly, and the
    delta's text-carrying embeddings overlay that scan the same way."""
    plan = HybridSearchPlan(
        env["plan"].docs, embeddings=env["base_emb"], embedding_dim=DIM,
    )
    _assert_delta_overlay(spark, env, plan)


def test_fold_file_ledger_excludes_already_folded(spark, env, ann_copy, tmp_path):
    """Per-file idempotency: folding delta_files records their basenames in
    the ANN meta; a rerun whose snapshot adds NEW files folds ONLY those,
    re-folding the old snapshot is a no-op, and the ledger ages to the
    latest snapshot (as merge_compact's does)."""
    import json

    from hybrid_sanctions_search_engine_spark.sources.fs import fs_for

    files = _emb_files(env)
    assert files
    before = spark.read.parquet(ann_copy).count()
    rep = fold_delta_embeddings(spark, ann_copy, kind="ivf", delta_files=files)
    assert rep["files_folded"] and not rep["files_excluded"]
    n1 = spark.read.parquet(ann_copy).count()
    assert n1 == before + len(DELTA_DOCS)
    # identical snapshot again → every file excluded, nothing folded
    rep2 = fold_delta_embeddings(spark, ann_copy, kind="ivf", delta_files=files)
    assert rep2.get("noop") and rep2["files_excluded"]
    assert spark.read.parquet(ann_copy).count() == n1
    # a NEW file folds; the old files, deleted by the caller, age out
    extra = str(tmp_path / "extra")
    spark.createDataFrame(
        [(990001, [0.5] * DIM), (990002, [0.25] * DIM)],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(extra)
    new_files = [
        os.path.join(extra, f) for f in fs_for(extra).list_files(extra)
        if f.endswith(".parquet")
    ]
    rep3 = fold_delta_embeddings(spark, ann_copy, kind="ivf", delta_files=new_files)
    assert len(rep3["files_folded"]) == 1
    assert rep3["folded_vecs"] == 2
    assert spark.read.parquet(ann_copy).count() == n1 + 2
    with open(os.path.join(ann_copy, "_ivf_meta.json")) as fh:
        assert json.load(fh)["folded_emb_files"] == rep3["files_folded"]


def test_attach_embeddings_requires_docs(spark, env, sf_smoke_dir):
    """An embeddings overlay without the doc overlay is a misconfiguration:
    vector hits on fresh docs would silently vanish from the rerank/anchor
    joins (inner against the doc-text store) while surviving on the
    rerank-free fast path — results flipping with opts.  attach_delta
    refuses it."""
    base_docs = spark.read.parquet(
        os.path.join(sf_smoke_dir, "documents.parquet")
    )
    plan = HybridSearchPlan(base_docs, embeddings=env["base_emb"], embedding_dim=DIM)
    try:
        with pytest.raises(ValueError, match="delta_docs"):
            plan.attach_delta(
                delta_embeddings=load_delta_embeddings(spark, env["delta_dir"])
            )
    finally:
        plan.close()
