"""Streaming delta postings + overlay search + compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.sources.index_io import build_index, load_index
from hybrid_sanctions_search_engine_spark.streaming.incremental import (
    load_delta_postings,
    merge_compact,
    start_delta_stream,
)

# a grouped-map body with partial type hints makes PySpark warn (and guess
# its eval type) at every applyInPandas call
pytestmark = pytest.mark.filterwarnings("error:Cannot infer the eval type:UserWarning")

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _overlay(docs, index_dir, delta, queries, k, delta_stats=None, single=False):
    """Overlay serving: the base index ∪ the delta postings through a
    standing plan's lexical ladder, escalation off → {query_id: [(doc_id,
    score)]} in rank order.  ``single``: one ``search()`` per query
    instead of one ``search_many`` batch."""
    from hybrid_sanctions_search_engine_spark.plans.hybrid import (
        HybridSearchPlan,
        SearchOpts,
    )

    plan = HybridSearchPlan(docs, index_dir=index_dir)
    opts = SearchOpts(top_k=k, enable_escalation=False)
    try:
        if delta is not None:
            plan.attach_delta(delta_postings=delta, delta_stats=delta_stats)
        if single:
            return {
                qid: [(r["doc_id"], r["score"]) for r in plan.search(q, opts)[0].collect()]
                for qid, q in queries
            }
        out: dict[int, list] = {qid: [] for qid, _ in queries}
        rows = plan.search_many(queries, opts)[0].collect()
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        return out
    finally:
        plan.close()


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    d = {
        "input": str(root / "input"),
        "delta": str(root / "delta"),
        "ckpt": str(root / "ckpt"),
        "index": str(root / "index"),
    }
    os.makedirs(d["input"], exist_ok=True)
    return d


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _delta_files(df, delta_dir):
    """Append ``df`` to ``delta_dir`` as one parquet file → the dir's
    parquet files, sorted."""
    df.coalesce(1).write.mode("append").parquet(delta_dir)
    return sorted(
        os.path.join(delta_dir, f) for f in os.listdir(delta_dir) if f.endswith(".parquet")
    )


def test_streaming_overlay_and_compaction(spark, sf_smoke_dir, dirs):
    base_docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    build_index(base_docs, dirs["index"], n_shards=4, chunk_bits=7)

    # stream in two new docs containing a marker term absent from the corpus
    _write_docs(
        spark,
        dirs["input"],
        [(100001, "zyzzyva spark query wonders", "en", "stream", 27)],
    )
    q = start_delta_stream(spark, dirs["input"], dirs["delta"], dirs["ckpt"], SCHEMA)
    q.awaitTermination(120)

    delta = load_delta_postings(spark, dirs["delta"])
    assert delta is not None
    assert delta.where(F.col("term") == "zyzzyva").count() == 1

    # second batch: exactly-once — first file must not be reprocessed
    _write_docs(
        spark,
        dirs["input"],
        [(100002, "zyzzyva again in another streamed doc", "en", "stream", 36)],
    )
    q2 = start_delta_stream(spark, dirs["input"], dirs["delta"], dirs["ckpt"], SCHEMA)
    q2.awaitTermination(120)
    delta = load_delta_postings(spark, dirs["delta"])
    assert delta.where(F.col("term") == "zyzzyva").count() == 2

    # overlay search finds streamed docs without rebuilding the base index
    res = _overlay(base_docs, dirs["index"], delta, [(1, "zyzzyva"), (2, "window")], k=5)
    ids = [d for d, _ in res[1]]
    assert set(ids) == {100001, 100002}

    # base-only terms still served by base
    assert len(res[2]) == 5

    # compaction folds the streamed delta files into the touched shards
    files = sorted(
        os.path.join(dirs["delta"], f)
        for f in os.listdir(dirs["delta"]) if f.endswith(".parquet")
    )
    report = merge_compact(spark, dirs["index"], files)
    assert report["shards_compacted"] and report["new_docs"] == 2

    idx, meta = load_index(spark, dirs["index"])
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

    res3 = topk_search(spark, dirs["index"], "zyzzyva", k=5, index_df=idx, meta=meta)
    assert {r["doc_id"] for r in res3.collect()} == {100001, 100002}


def test_streamed_delta_folds_into_positions_index(spark, sf_smoke_dir, tmp_path):
    """The stream writes ``build_postings``' rows, positions included, so
    ``merge_compact`` folds a streamed delta into a positions index, and
    every phrase contract then matches a ``build_index`` rebuild of
    base ∪ streamed docs."""
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search

    base_docs = spark.read.parquet(
        os.path.join(sf_smoke_dir, "documents.parquet")
    ).select("doc_id", "text")
    index_dir, scratch_dir = str(tmp_path / "index"), str(tmp_path / "scratch")
    build_index(base_docs, index_dir, n_shards=4, chunk_bits=6, resume=False,
                store_positions=True)
    streamed = [
        (200001, "spark query join window in a streamed doc", "en", "stream", 41),
        (200002, "window join query spark query join again", "en", "stream", 40),
    ]
    input_dir, delta_dir = str(tmp_path / "input"), str(tmp_path / "delta")
    _write_docs(spark, input_dir, streamed)
    q = start_delta_stream(
        spark, input_dir, delta_dir, str(tmp_path / "ckpt"), SCHEMA
    )
    q.awaitTermination(120)
    assert "positions" in load_delta_postings(spark, delta_dir).columns
    files = sorted(
        os.path.join(delta_dir, f) for f in os.listdir(delta_dir)
        if f.endswith(".parquet")
    )
    report = merge_compact(spark, index_dir, files)
    assert report["new_docs"] == 2

    all_docs = base_docs.unionByName(
        spark.createDataFrame(streamed, SCHEMA).select("doc_id", "text")
    )
    build_index(all_docs, scratch_dir, n_shards=4, chunk_bits=6, resume=False,
                store_positions=True)
    streamed_ids = {d for d, *_ in streamed}
    for phrase, kw in [
        ("spark query", {}), ("query join", {"slop": 1}),
        ("join query", {"slop": 1, "ordered": False}),
        ("spark join", {"slop": 1, "lucene": True}),
    ]:
        got, want = (
            sorted(tuple(r) for r in phrase_search(spark, d, phrase, **kw).collect())
            for d in (index_dir, scratch_dir)
        )
        assert got == want, (phrase, kw)
        assert streamed_ids & {r[0] for r in got}, (phrase, kw)


@pytest.mark.parametrize("positions", [False, True])
def test_merge_compact_rank_identity(spark, sf_smoke_dir, tmp_path, positions):
    """merge_compact folds delta postings files into the base index WITHOUT
    re-tokenizing the corpus, and the result scores IDENTICALLY to an index
    built from scratch on base ∪ delta (same n_docs/avgdl/df ⇒ same BM25).
    A positions index keeps its position streams: every phrase contract
    matches the rebuild too, and delta files without positions are
    refused."""
    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
    from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search, topk_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import IndexMeta

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    base_docs = docs.where(F.col("doc_id") % 5 != 0)
    delta_docs = docs.where(F.col("doc_id") % 5 == 0)

    merged_dir = str(tmp_path / "merged_idx")
    build_index(base_docs, merged_dir, n_shards=4, chunk_bits=6, resume=False,
                store_positions=positions)
    if positions:
        bare = _delta_files(build_postings(delta_docs, positions=False),
                            str(tmp_path / "bare_delta"))
        with pytest.raises(ValueError, match=r"build_postings\(positions=True\)"):
            merge_compact(spark, merged_dir, bare)
    files = _delta_files(build_postings(delta_docs, positions=positions),
                         str(tmp_path / "delta"))
    report = merge_compact(spark, merged_dir, files)
    assert report["new_docs"] > 0 and report["shards_compacted"]

    scratch_dir = str(tmp_path / "scratch_idx")
    build_index(docs, scratch_dir, n_shards=4, chunk_bits=6, resume=False,
                store_positions=positions)

    m_meta = IndexMeta.load(merged_dir)
    s_meta = IndexMeta.load(scratch_dir)
    assert m_meta.has_positions == positions
    assert m_meta.n_docs == s_meta.n_docs
    assert m_meta.total_tokens == s_meta.total_tokens
    assert m_meta.avgdl == s_meta.avgdl  # exact, thanks to total_tokens

    m_idx, _ = load_index(spark, merged_dir)
    s_idx, _ = load_index(spark, scratch_dir)
    for q in ["spark query join", "window", "scan merge sort hash agg", "the"]:
        got, want = (
            [(r["doc_id"], round(r["score"], 9), r["n_terms_matched"])
             for r in topk_search(spark, d, q, k=15, index_df=i, meta=m).collect()]
            for d, i, m in [(merged_dir, m_idx, m_meta), (scratch_dir, s_idx, s_meta)]
        )
        assert got == want, q
    if positions:
        for phrase, kw in [
            ("spark query", {}), ("query join", {"slop": 1}),
            ("join query", {"slop": 1, "ordered": False}),
            ("spark join", {"slop": 1, "lucene": True}),
        ]:
            got, want = (
                sorted(tuple(r) for r in phrase_search(spark, d, phrase, **kw).collect())
                for d in (merged_dir, scratch_dir)
            )
            assert got == want and got, (phrase, kw)

    # postings parity: identical total postings across both indexes
    m_total = m_idx.agg(F.sum("n_docs")).collect()[0][0]
    s_total = s_idx.agg(F.sum("n_docs")).collect()[0][0]
    assert m_total == s_total


def test_two_wave_merge_compact(spark, sf_smoke_dir, tmp_path):
    """Two sequential merge compactions converge to the same index state a
    single from-scratch build produces (associativity of the fold)."""
    import os as _os

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.postings import (
        build_postings,
    )
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        IndexMeta,
        build_index,
        load_index,
    )
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        merge_compact,
    )

    docs = spark.read.parquet(_os.path.join(sf_smoke_dir, "documents.parquet"))
    base = docs.where(F.col("doc_id") % 3 == 0)
    wave1 = docs.where(F.col("doc_id") % 3 == 1)
    wave2 = docs.where(F.col("doc_id") % 3 == 2)

    merged_dir = str(tmp_path / "two_wave_idx")
    delta_dir = str(tmp_path / "two_wave_delta")
    build_index(base, merged_dir, n_shards=4, chunk_bits=6, resume=False)
    merge_compact(spark, merged_dir, _delta_files(build_postings(wave1, positions=False), delta_dir))
    merge_compact(spark, merged_dir, _delta_files(build_postings(wave2, positions=False), delta_dir))

    scratch_dir = str(tmp_path / "two_wave_scratch")
    build_index(docs, scratch_dir, n_shards=4, chunk_bits=6, resume=False)

    m_meta, s_meta = IndexMeta.load(merged_dir), IndexMeta.load(scratch_dir)
    assert (m_meta.n_docs, m_meta.total_tokens, m_meta.avgdl) == (
        s_meta.n_docs, s_meta.total_tokens, s_meta.avgdl
    )
    m_idx, _ = load_index(spark, merged_dir)
    s_idx, _ = load_index(spark, scratch_dir)
    for q in ["spark query join", "the", "window"]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_search(spark, merged_dir, q, k=12,
                                 index_df=m_idx, meta=m_meta).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_search(spark, scratch_dir, q, k=12,
                                 index_df=s_idx, meta=s_meta).collect()
        ]
        assert got == want, q


def test_per_file_fold_idempotency(spark, sf_smoke_dir, tmp_path):
    """ADVICE r2: a crash AFTER the meta commit but BEFORE the delta files
    are deleted, followed by a new stream arrival, must not double-fold the
    old files — merge_compact(delta_files=...) excludes files recorded in
    IndexMeta.folded_delta_files and folds only the new arrival."""
    import os as _os

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import IndexMeta
    from hybrid_sanctions_search_engine_spark.streaming.incremental import merge_compact

    docs = spark.read.parquet(_os.path.join(sf_smoke_dir, "documents.parquet"))
    base_docs = docs.where(F.col("doc_id") % 3 == 0)
    wave1_docs = docs.where(F.col("doc_id") % 3 == 1)
    wave2_docs = docs.where(F.col("doc_id") % 3 == 2)

    idx_dir = str(tmp_path / "pf_idx")
    delta_dir = str(tmp_path / "pf_delta")
    build_index(base_docs, idx_dir, n_shards=4, chunk_bits=6, resume=False)

    def delta_files():
        return sorted(
            _os.path.join(delta_dir, f)
            for f in _os.listdir(delta_dir)
            if f.endswith(".parquet")
        )

    build_postings(wave1_docs, positions=False).coalesce(1).write.mode(
        "append"
    ).parquet(delta_dir)
    wave1_files = delta_files()
    rep1 = merge_compact(spark, idx_dir, delta_files=wave1_files)
    assert sorted(rep1["files_folded"]) == sorted(
        _os.path.basename(f) for f in wave1_files
    )
    meta1 = IndexMeta.load(idx_dir)
    assert set(meta1.folded_delta_files) == {
        _os.path.basename(f) for f in wave1_files
    }

    # crash window: wave-1 files NOT deleted; the stream appends wave 2
    build_postings(wave2_docs, positions=False).coalesce(1).write.mode(
        "append"
    ).parquet(delta_dir)
    all_files = delta_files()
    assert len(all_files) > len(wave1_files)
    rep2 = merge_compact(spark, idx_dir, delta_files=all_files)
    assert sorted(rep2["files_excluded"]) == sorted(
        _os.path.basename(f) for f in wave1_files
    )
    assert rep2["files_folded"] == sorted(
        _os.path.basename(f) for f in all_files if f not in wave1_files
    )

    # state must equal a from-scratch build over ALL docs (no double fold)
    scratch = str(tmp_path / "pf_scratch")
    build_index(docs, scratch, n_shards=4, chunk_bits=6, resume=False)
    m, s = IndexMeta.load(idx_dir), IndexMeta.load(scratch)
    assert (m.n_docs, m.total_tokens) == (s.n_docs, s.total_tokens)
    for q in ["spark query join", "window"]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_search(spark, idx_dir, q, k=10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_search(spark, scratch, q, k=10).collect()
        ]
        assert got == want, q

    # a rerun with everything already folded is a per-file no-op
    rep3 = merge_compact(spark, idx_dir, delta_files=all_files)
    assert rep3["noop"] and rep3["files_folded"] == []


def test_search_many_with_delta_parity(spark, sf_smoke_dir, tmp_path):
    """Overlay serving — batched and per query — ≡ the overlay computed
    from its definition: the base index's top-k and the delta docs' own
    BM25 top-k (under the delta's statistics), keep-best per doc, re-top-k;
    for a mixed query set (hits in base only, delta only, both, and
    nowhere).  An empty delta degenerates to the plain indexed batch."""
    import os as _os

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
        topk_search,
    )

    docs = spark.read.parquet(_os.path.join(sf_smoke_dir, "documents.parquet"))
    base_docs = docs.where(F.col("doc_id") % 3 != 0)
    delta_docs = docs.where(F.col("doc_id") % 3 == 0)
    idx_dir = str(tmp_path / "om_idx")
    build_index(base_docs, idx_dir, n_shards=4, chunk_bits=6, resume=False)
    delta = build_postings(delta_docs, positions=False).select(
        "term", "doc_id", "doc_len", "tf"
    )

    queries = [
        (1, "spark query join"),
        (2, "window"),
        (3, "zzz_nothing"),
        (4, "merge sort customer"),
    ]
    batched = _overlay(base_docs, idx_dir, delta, queries, k=8)
    single = _overlay(base_docs, idx_dir, delta, queries, k=8, single=True)
    delta_ids = {r["doc_id"] for r in delta_docs.select("doc_id").collect()}
    for qid, q in queries:
        best: dict[int, float] = {}
        for r in [
            *topk_search(spark, idx_dir, q, k=8).collect(),
            *bm25_topk(delta_docs, q, k=8).collect(),
        ]:
            best[r["doc_id"]] = max(best.get(r["doc_id"], r["score"]), r["score"])
        want = [
            (d, round(s, 9))
            for d, s in sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
        ]
        for got in (batched[qid], single[qid]):
            assert [(d, round(s, 9)) for d, s in got] == want, q
    assert not batched[3]  # nowhere
    served = {d for rows in batched.values() for d, _ in rows}
    assert served & delta_ids and served - delta_ids  # both sides serve

    # empty delta degenerates to the plain indexed batch
    empty = _overlay(base_docs, idx_dir, None, queries[:2], k=5)
    plain = batch_topk_indexed(spark, idx_dir, queries[:2], k=5).collect()
    assert empty[1] and sorted(
        (qid, d, round(s, 9)) for qid, rows in empty.items() for d, s in rows
    ) == sorted((r["query_id"], r["doc_id"], round(r["score"], 9)) for r in plain)


def test_delta_stats_manifest(spark, tmp_path):
    """The delta stream maintains (n_docs, total_len) in _delta_stats.json;
    serving with the manifest stats is row-identical to recomputing them,
    the manifest matches a fresh distinct().agg(), and a retried batch_id
    does not double-count."""
    import os as _os

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        _fold_delta_stats,
        load_delta_postings,
        load_delta_stats,
        start_delta_stream,
    )

    d = {k: str(tmp_path / k) for k in ("input", "delta", "ckpt", "index")}
    _os.makedirs(d["input"], exist_ok=True)
    base_docs = spark.createDataFrame(
        [(i, f"base doc number {i} spark query value", "en", "b", 30) for i in range(40)],
        SCHEMA,
    )
    build_index(base_docs, d["index"], n_shards=2, chunk_bits=6)

    _write_docs(
        spark, d["input"],
        [(900001, "zyzzyva streamed one two three", "en", "s", 30),
         (900002, "zyzzyva spark four five", "en", "s", 23)],
    )
    q = start_delta_stream(spark, d["input"], d["delta"], d["ckpt"], SCHEMA)
    q.awaitTermination(120)
    _write_docs(
        spark, d["input"],
        [(900003, "zyzzyva value six", "en", "s", 17)],
    )
    q2 = start_delta_stream(spark, d["input"], d["delta"], d["ckpt"], SCHEMA)
    q2.awaitTermination(120)

    delta = load_delta_postings(spark, d["delta"])
    stats = load_delta_stats(d["delta"])
    assert stats is not None
    row = (
        delta.select("doc_id", "doc_len").distinct()
        .agg(F.count("*").alias("n"), F.sum("doc_len").alias("t")).collect()[0]
    )
    assert stats[0] == int(row["n"]) == 3
    assert stats[1] == pytest.approx(float(row["t"]) / int(row["n"]))

    # batch-id replay guard: folding an already-seen batch id WITHIN the
    # same stream lineage is a no-op; a different lineage would land
    import hashlib as _hl

    lineage = _hl.sha256(
        _os.path.abspath(d["ckpt"]).encode()
    ).hexdigest()[:16]
    before = load_delta_stats(d["delta"])
    _fold_delta_stats(
        d["delta"], batch_id=0, n_docs=99, total_len=9999, lineage=lineage
    )
    assert load_delta_stats(d["delta"]) == before

    queries = [(1, "zyzzyva"), (2, "spark query"), (3, "nothing_zz")]
    with_stats = _overlay(base_docs, d["index"], delta, queries, k=5, delta_stats=stats)
    without = _overlay(base_docs, d["index"], delta, queries, k=5)
    key = lambda rows: {q: [(doc, round(s, 9)) for doc, s in r] for q, r in rows.items()}
    assert key(with_stats) == key(without)
    assert with_stats[1] and with_stats[2] and not with_stats[3]

    one_with = _overlay(
        base_docs, d["index"], delta, queries[:1], k=5, delta_stats=stats, single=True
    )
    one_without = _overlay(base_docs, d["index"], delta, queries[:1], k=5, single=True)
    assert key(one_with) == key(one_without) == {1: key(with_stats)[1]}


def test_delta_stats_survive_compaction_and_new_lineage(spark, tmp_path):
    """Round-4 review findings: (a) merge_compact subtracts the folded
    docs' stats from the delta manifest (idempotently per fingerprint), so
    the REMAINING delta keeps serving under correct (n_docs, avgdl); (b) a
    NEW stream lineage (fresh checkpoint → batch ids restart at 0) still
    folds its stats instead of being mistaken for a replay."""
    import os as _os

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        load_delta_postings,
        load_delta_stats,
        merge_compact,
        start_delta_stream,
    )

    d = {k: str(tmp_path / k) for k in ("input", "delta", "ckpt", "ckpt2", "index")}
    _os.makedirs(d["input"], exist_ok=True)
    base_docs = spark.createDataFrame(
        [(i, f"base doc {i} alpha beta", "en", "b", 20) for i in range(30)],
        SCHEMA,
    )
    build_index(base_docs, d["index"], n_shards=2, chunk_bits=6)

    # wave 1 via checkpoint 1
    _write_docs(
        spark, d["input"],
        [(800001, "gamma delta one", "en", "s", 15),
         (800002, "gamma epsilon two", "en", "s", 17)],
    )
    start_delta_stream(
        spark, d["input"], d["delta"], d["ckpt"], SCHEMA
    ).awaitTermination(120)
    assert load_delta_stats(d["delta"])[0] == 2

    # fold wave 1; its stats must LEAVE the manifest
    files = [
        _os.path.join(d["delta"], f)
        for f in _os.listdir(d["delta"])
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    report = merge_compact(spark, d["index"], delta_files=files)
    assert report["new_docs"] == 2
    stats_after = load_delta_stats(d["delta"])
    assert stats_after == (0, 0.0)
    # idempotent: a rerun no-ops at the meta fingerprint and must not
    # subtract a second time
    fp_rerun = merge_compact(spark, d["index"], delta_files=files)
    assert fp_rerun.get("noop")
    assert load_delta_stats(d["delta"]) == (0, 0.0)

    # caller deletes the folded files (the compact_job contract)
    for f in files:
        _os.remove(f)

    # wave 2 arrives via a FRESH checkpoint — batch ids restart at 0; the
    # per-lineage guard must fold its stats (a global guard dropped them)
    _write_docs(
        spark, d["input"],
        [(800003, "zeta eta three four five", "en", "s", 24)],
    )
    start_delta_stream(
        spark, d["input"], d["delta"], d["ckpt2"], SCHEMA
    ).awaitTermination(120)
    stats2 = load_delta_stats(d["delta"])
    delta = load_delta_postings(spark, d["delta"])
    row = (
        delta.select("doc_id", "doc_len").distinct()
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("a")).collect()[0]
    )
    # NOTE: checkpoint 2 reprocesses ALL input files (fresh source state),
    # so the delta now holds waves 1+2 again — stats must equal the actual
    # remaining-file recompute either way
    assert stats2[0] == int(row["n"])
    assert stats2[1] == pytest.approx(float(row["a"]))


def test_interleaved_lineage_folds_never_lose_updates(tmp_path):
    """The round-5 race fix's contract, tested directly: two stream
    lineages folding into ONE delta_dir with arbitrarily interleaved
    writes lose nothing (each lineage owns its manifest file — the old
    shared-file read-modify-write dropped one side's fold when commits
    interleaved), per-lineage replay guards stay independent, and the
    committed compaction subtraction ledger is subtracted at read time."""
    import os as _os

    from hybrid_sanctions_search_engine_spark.sources.fs import fs_for
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        DELTA_STATS_SUB_FILE,
        _fold_delta_stats,
        _subtracted_stats,
        load_delta_stats,
    )

    d = str(tmp_path / "delta")
    _os.makedirs(d, exist_ok=True)
    # interleave: A0, B0, A1, B1, A1-retry (must no-op), B2
    _fold_delta_stats(d, 0, 10, 100, lineage="streamA")
    _fold_delta_stats(d, 0, 5, 50, lineage="streamB")
    _fold_delta_stats(d, 1, 20, 200, lineage="streamA")
    _fold_delta_stats(d, 1, 7, 70, lineage="streamB")
    _fold_delta_stats(d, 1, 999, 9999, lineage="streamA")  # replay: no-op
    _fold_delta_stats(d, 2, 8, 80, lineage="streamB")
    n, avgdl = load_delta_stats(d)
    assert n == 10 + 20 + 5 + 7 + 8
    assert avgdl == (100 + 200 + 50 + 70 + 80) / n
    # a compaction's fold record commits the ledger it precomputed
    fs_for(d).commit_json(_os.path.join(d, DELTA_STATS_SUB_FILE), _subtracted_stats(d, 30, 300))
    n2, avgdl2 = load_delta_stats(d)
    assert n2 == 50 - 30
    assert avgdl2 == (500 - 300) / 20
    # a tmp leftover from a crashed commit must not be counted
    lineage_files = [
        f for f in _os.listdir(d) if f.startswith("_delta_stats_lineage_")
    ]
    assert lineage_files
    src = _os.path.join(d, lineage_files[0])
    with open(src + ".tmp", "w") as fh, open(src) as rf:
        fh.write(rf.read())
    assert load_delta_stats(d) == (n2, avgdl2)


def test_aliasing_delta_files_both_fold(spark, sf_smoke_dir, tmp_path):
    """Two delta files whose contents alias — docs {2,3} and {1,4} with
    equal doc_len totals share count+tokens+id_sum — are two folds: the
    fold fingerprint and ledger are file basenames, so folding the
    snapshot [a, b] after [a] folds b, never a silent no-op."""
    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    idx_dir, delta_dir = str(tmp_path / "alias_idx"), str(tmp_path / "alias_delta")
    build_index(docs.where(F.col("doc_id") >= 100), idx_dir, n_shards=4, chunk_bits=6)
    rows_a = [
        (2, "alpha beta gamma", "en", "synthetic", 16),
        (3, "delta epsilon zeta", "en", "synthetic", 18),
    ]
    rows_b = [
        (1, "alpha beta gamma", "en", "synthetic", 16),
        (4, "delta epsilon zeta", "en", "synthetic", 18),
    ]
    files_a = _delta_files(
        build_postings(spark.createDataFrame(rows_a, SCHEMA), positions=False), delta_dir
    )
    rep_a = merge_compact(spark, idx_dir, files_a)
    assert rep_a["new_docs"] == 2
    files_ab = _delta_files(
        build_postings(spark.createDataFrame(rows_b, SCHEMA), positions=False), delta_dir
    )
    rep_b = merge_compact(spark, idx_dir, files_ab)
    assert not rep_b.get("noop") and rep_b["new_docs"] == 2
    assert rep_b["files_excluded"] == rep_a["files_folded"]
    assert rep_b["n_docs"] == docs.where(F.col("doc_id") >= 100).count() + 4
