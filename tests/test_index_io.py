"""Compressed index build: manifests, resume semantics, codec roundtrip."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hybrid_sanctions_search_engine_spark.functions.codec import (
    varint_decode,
    varint_encode,
)
from hybrid_sanctions_search_engine_spark.sources.index_io import (
    build_index,
    completed_shards,
    load_index,
)

# a grouped-map body with partial type hints makes PySpark warn (and guess
# its eval type) at every applyInPandas call
pytestmark = pytest.mark.filterwarnings("error:Cannot infer the eval type:UserWarning")


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@pytest.fixture(scope="module")
def built_index(spark, sf_smoke_dir, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    report = build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    return index_dir, report, docs


def test_build_report_and_manifests(built_index):
    index_dir, report, _ = built_index
    assert report["shards_built"] == [0, 1, 2, 3]
    assert report["postings"] > 0 and report["bytes"] > 0
    for s in range(4):
        with open(os.path.join(index_dir, f"shard={s}", "_manifest.json")) as fh:
            m = json.load(fh)
        assert m["status"] == "complete"
        assert m["postings"] > 0 and m["bytes"] > 0 and m["elapsed_sec"] >= 0


def test_resume_skips_completed(built_index, spark):
    index_dir, _, docs = built_index
    # invalidate one shard -> only that shard rebuilds
    os.remove(os.path.join(index_dir, "shard=2", "_manifest.json"))
    assert completed_shards(index_dir, 4) == [0, 1, 3]
    report2 = build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    assert report2["shards_built"] == [2]
    assert sorted(report2["shards_skipped"]) == [0, 1, 3]
    # full resume: everything skipped, nothing rebuilt
    report3 = build_index(docs, index_dir, n_shards=4, chunk_bits=7)
    assert report3["shards_built"] == []
    assert sorted(report3["shards_skipped"]) == [0, 1, 2, 3]


def test_index_readable_with_pruning(built_index, spark):
    index_dir, _, _ = built_index
    df, meta = load_index(spark, index_dir)
    assert meta.n_docs == 500 and meta.n_shards == 4
    some = df.where(df.term == "spark").collect()
    assert len(some) >= 1
    total_postings = df.agg({"n_docs": "sum"}).collect()[0][0]
    assert total_postings > 0


def test_salted_sub_split_build(spark, sf_smoke_dir, tmp_path_factory):
    """sub_splits>1: salted encode tasks, tree-wise manifest merge, and
    byte-level equivalence of query results with the unsalted build."""
    import json

    from hybrid_sanctions_search_engine_spark.operators.bm25 import bm25_topk
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    plain_dir = str(tmp_path_factory.mktemp("plain_idx"))
    salted_dir = str(tmp_path_factory.mktemp("salted_idx"))
    rep_plain = build_index(docs, plain_dir, n_shards=4, chunk_bits=6)
    rep_salted = build_index(docs, salted_dir, n_shards=4, chunk_bits=6, sub_splits=3)
    assert rep_salted["postings"] == rep_plain["postings"]

    with open(os.path.join(salted_dir, "shard=0", "_manifest.json")) as fh:
        m = json.load(fh)
    assert m["sub_splits"] == 3 and len(m["sub_manifests"]) >= 1
    assert m["postings"] == sum(s["postings"] for s in m["sub_manifests"])

    for q in ["spark query join", "window", "scan merge sort hash agg"]:
        expected = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(docs, q, k=10).collect()
        ]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_search(spark, salted_dir, q, k=10).collect()
        ]
        assert got == expected, q

    # resume over a salted index: everything skipped
    rep3 = build_index(docs, salted_dir, n_shards=4, chunk_bits=6, sub_splits=3)
    assert rep3["shards_built"] == [] and sorted(rep3["shards_skipped"]) == [0, 1, 2, 3]


def test_build_is_single_pass(spark, sf_smoke_dir, tmp_path_factory, monkeypatch):
    """The build must touch the corpus exactly once: one action (the encode
    collect) with corpus stats riding it via Observation — no docs.count(),
    no separate tokenize-for-avgdl aggregate (the round-1 build paid the
    dominant tokenize cost twice plus a count scan)."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    DataFrame = type(docs)
    actions: list[str] = []
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def spy_collect(self):
        actions.append("collect")
        return orig_collect(self)

    def spy_count(self):
        actions.append("count")
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "count", spy_count)
    index_dir = str(tmp_path_factory.mktemp("single_pass_idx"))
    report = build_index(docs, index_dir, n_shards=4, chunk_bits=6, resume=False)
    monkeypatch.undo()
    assert actions == ["collect"]
    # Observation stats match the scan-only reference aggregate
    from hybrid_sanctions_search_engine_spark.operators.postings import corpus_stats

    ref = corpus_stats(docs)
    assert report["n_docs"] == ref.n_docs
    assert abs(report["avgdl"] - ref.avgdl) < 1e-9


def test_salted_build_is_single_tokenize(spark, sf_smoke_dir, tmp_path_factory, monkeypatch):
    """The salted (sub_splits > 1) path must also tokenize the corpus exactly
    once: df comes from a window over the already-shuffled posting frame, not
    a second tokenized_documents lineage (round-3 verdict item 7)."""
    import hybrid_sanctions_search_engine_spark.operators.postings as post_mod
    from hybrid_sanctions_search_engine_spark.sources import index_io

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    calls: list[int] = []
    orig = post_mod.tokenized_documents

    def spy(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(post_mod, "tokenized_documents", spy)
    index_dir = str(tmp_path_factory.mktemp("salted_single_tok"))
    index_io.build_index(
        docs, index_dir, n_shards=4, chunk_bits=6, resume=False, sub_splits=3
    )
    monkeypatch.undo()
    assert len(calls) == 1


def test_fs_abstraction_roundtrip(tmp_path):
    """LocalIndexFS + ArrowIndexFS expose the same contract; the Arrow
    implementation works against local paths via pyarrow.fs (the same code
    path an s3:// URI takes on a cluster)."""
    import pyarrow as pa

    from hybrid_sanctions_search_engine_spark.sources.fs import (
        ArrowIndexFS,
        LocalIndexFS,
        fs_for,
    )

    assert isinstance(fs_for("/tmp/x"), LocalIndexFS)
    assert isinstance(fs_for("s3://bucket/index"), ArrowIndexFS)

    for fs in (LocalIndexFS(), ArrowIndexFS()):
        base = str(tmp_path / type(fs).__name__)
        fs.makedirs(base)
        mpath = os.path.join(base, "_manifest.json")
        fs.commit_json(mpath, {"status": "complete", "n": 3})
        assert fs.exists(mpath)
        assert fs.read_json(mpath) == {"status": "complete", "n": 3}
        table = pa.table({"a": [1, 2, 3]})
        ppath = os.path.join(base, "data.parquet")
        fs.write_parquet(table, ppath)
        assert fs.getsize(ppath) > 0
        fs.delete(mpath)
        assert not fs.exists(mpath)
        fs.rmtree(base)
        assert not fs.exists(ppath)


def test_build_through_arrow_fs(spark, sf_smoke_dir, tmp_path, monkeypatch):
    """End-to-end index build + query with the encoder forced through
    ArrowIndexFS (the object-store code path) — results identical to the
    POSIX build."""
    import hybrid_sanctions_search_engine_spark.sources.index_io as mod
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.fs import ArrowIndexFS
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    monkeypatch.setattr(mod, "fs_for", lambda path: ArrowIndexFS())
    index_dir = str(tmp_path / "arrow_idx")
    report = build_index(docs, index_dir, n_shards=4, chunk_bits=6, resume=False)
    monkeypatch.undo()
    assert report["postings"] > 0
    idx, meta = load_index(spark, index_dir)
    res = topk_search(spark, index_dir, "spark query join", k=5,
                      index_df=idx, meta=meta).collect()
    assert len(res) == 5


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=200
    ),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_varint_encode_grouped_matches_per_group(values, data):
    """varint_encode_grouped(buf, starts, ends) is byte-identical to calling
    varint_encode on each group's slice (the vectorized encoder depends on
    this equivalence for format stability)."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.functions.codec import (
        varint_encode,
        varint_encode_grouped,
    )

    arr = np.array(values, dtype=np.uint64)
    n = arr.size
    cuts = sorted(
        data.draw(
            st.lists(st.integers(min_value=0, max_value=n), max_size=8)
        )
    )
    bounds = [0, *cuts, n]
    starts = np.array(bounds[:-1], dtype=np.int64)
    ends = np.array(bounds[1:], dtype=np.int64)
    got = varint_encode_grouped(arr, starts, ends)
    want = [varint_encode(arr[s:e]) for s, e in zip(starts, ends)]
    assert got == want


def test_encode_decode_shard_arrays_roundtrip():
    """``decode_shard_arrays`` inverts ``_encode_posting_frame``: seeded
    postings with positions, arriving in shuffled order, come back
    (term, chunk, doc)-sorted with their doc ids, tf, doc_len, per-term df
    and absolute position streams."""
    import pandas as pd

    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        _encode_posting_frame,
        decode_shard_arrays,
    )

    rng = np.random.default_rng(7)
    rows = []
    for doc in range(40):
        toks = rng.choice(["alpha", "beta", "gamma", "delta", "zz"],
                          size=rng.integers(3, 12))
        for pos, t in enumerate(toks):
            rows.append((t, doc >> 3, doc, len(toks), pos))
    raw = pd.DataFrame(
        rows, columns=["term", "chunk", "doc_id", "doc_len", "pos"]
    ).sample(frac=1.0, random_state=1)  # shuffle arrival order
    agg = (
        raw.groupby(["term", "chunk", "doc_id"], sort=False)
        .agg(
            tf=("pos", "size"),
            doc_len=("doc_len", "max"),
            positions=("pos", lambda s: sorted(s)),
        )
        .reset_index()
    )
    out, n_postings, n_docs = _encode_posting_frame(agg, 0, True)
    assert (n_postings, n_docs) == (len(agg), 40)
    assert len(out) < n_postings  # (term, chunk) rows pack several postings
    want = agg.sort_values(["term", "chunk", "doc_id"]).reset_index(drop=True)
    got = decode_shard_arrays(out, include_df=True, positions=True)
    assert got["uniq_terms"][got["term_codes"]].tolist() == want["term"].tolist()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["tf"].tolist() == want["tf"].tolist()
    assert got["doc_len"].tolist() == want["doc_len"].tolist()
    assert got["df"].tolist() == want.groupby("term")["doc_id"].transform("size").tolist()
    assert got["positions"].tolist() == [p for ps in want["positions"] for p in ps]


def _imports_codec(path: str) -> bool:
    import ast

    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names = [a.name for a in node.names]
            if (node.module or "").split(".")[-1] == "codec" or "codec" in names:
                return True
        elif isinstance(node, ast.Import):
            if any(a.name.split(".")[-1] == "codec" for a in node.names):
                return True
    return False


def test_only_index_io_imports_codec():
    """The shard byte format sits behind one module: inside the package only
    ``sources/index_io.py`` imports ``functions.codec``, so every scorer,
    the phrase matcher and the merge compactor read shards through
    ``decode_shard_arrays``, and a new format is a one-module swap."""
    import hybrid_sanctions_search_engine_spark as pkg

    root = os.path.dirname(pkg.__file__)
    importers = sorted(
        os.path.relpath(os.path.join(dirpath, name), root)
        for dirpath, _, files in os.walk(root)
        for name in files
        if name.endswith(".py") and _imports_codec(os.path.join(dirpath, name))
    )
    assert importers == [os.path.join("sources", "index_io.py")]
