"""Crash-injection table for the one delta fold protocol (sources/fold.py).

Each case folds delta file ``a`` into a copy of a base index and crashes
the fold on the driver — through a wrapped ``fs_for`` — at one point of the
protocol, then reruns it:

  staged    after staging, before the fold record commits;
  moved     after the first move;
  meta      after every move, before the meta commit;
  committed after the meta commit, before the record is deleted;
  new_files after the first move; the stream then lands file ``b`` and
            the rerun folds the full snapshot ``[a, b]``.

After the rerun no record or stage dir is left, and the index equals a
one-shot fold (``[a]``, or ``[a]`` then ``[a, b]``) into a copy of the same
base: postings shards byte for byte, with equal ``_index_meta.json`` and
delta-stats subtraction ledger, and search equal to ``build_index`` over
base ∪ delta at 9 decimals; ANN cells row for row, each ``vec_id`` once.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import hybrid_sanctions_search_engine_spark.sources.fs as fsmod
from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
from hybrid_sanctions_search_engine_spark.operators.pq import write_ivf_pq_index
from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index
from hybrid_sanctions_search_engine_spark.plans.wand import phrase_search, topk_search
from hybrid_sanctions_search_engine_spark.sources.fold import PENDING_PREFIX, STAGE_PREFIX
from hybrid_sanctions_search_engine_spark.sources.index_io import build_index
from hybrid_sanctions_search_engine_spark.streaming.incremental import (
    DELTA_STATS_SUB_FILE,
    fold_delta_embeddings,
    merge_compact,
)

DIM = 16
QUERY, PHRASE = "spark query join window", "spark query"
FOLDS = ["postings", "positions", "ivf", "ivf_pq", "ivf_sq8"]
CRASHES = ["staged", "moved", "meta", "committed", "new_files"]


class InjectedCrash(Exception):
    pass


class CrashingFS:
    """The driver's fs, crashing at one protocol point."""

    def __init__(self, inner, point):
        self._inner, self._point = inner, point

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def commit_json(self, path, obj):
        name = os.path.basename(path)
        if (self._point == "staged" and name.startswith(PENDING_PREFIX)) or (
            self._point == "meta" and name.endswith("_meta.json")
        ):
            raise InjectedCrash(self._point)
        self._inner.commit_json(path, obj)

    def move(self, src, dst):
        self._inner.move(src, dst)
        if self._point in ("moved", "new_files"):
            raise InjectedCrash(self._point)

    def delete(self, path):
        if self._point == "committed" and os.path.basename(path).startswith(
            PENDING_PREFIX
        ):
            raise InjectedCrash(self._point)
        self._inner.delete(path)


def _write_file(df, path):
    """``df`` as the single parquet file ``path``."""
    tmp = path + ".d"
    df.coalesce(1).write.parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)


@pytest.fixture(scope="module")
def world(spark, sf_smoke_dir, tmp_path_factory):
    """Base layouts, delta files ``a`` and ``b`` per fold, and lazily built
    one-shot folds and full rebuilds."""
    root = str(tmp_path_factory.mktemp("fold_crash"))
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    waves = {
        "base": docs.where(F.col("doc_id") % 5 > 1),
        "a": docs.where(F.col("doc_id") % 5 == 0),
        "b": docs.where(F.col("doc_id") % 5 == 1),
    }
    vecs: dict = {w: [] for w in waves}
    for r in docs.select("doc_id", "text").collect():
        w = {0: "a", 1: "b"}.get(r["doc_id"] % 5, "base")
        vecs[w].append((r["doc_id"], pseudo_embedding(r["text"], DIM)))
    emb = {
        w: spark.createDataFrame(v, "vec_id long, embedding array<double>")
        for w, v in vecs.items()
    }
    writers = {
        "ivf": lambda p: write_ivf_index(emb["base"], p, n_centroids=4, iters=4),
        "ivf_pq": lambda p: write_ivf_pq_index(emb["base"], p, n_centroids=4, m=4, iters=4),
        "ivf_sq8": lambda p: write_ivf_sq8_index(emb["base"], p, n_centroids=4, iters=4),
    }
    for fold in FOLDS:
        base = os.path.join(root, fold, "base")
        positions = fold == "positions"
        if fold in writers:
            writers[fold](os.path.join(base, "index"))
        else:
            build_index(waves["base"], os.path.join(base, "index"), n_shards=2,
                        chunk_bits=6, store_positions=positions)
        if fold in ("postings", "positions", "ivf"):
            os.makedirs(os.path.join(base, "delta"))
            for w in "ab":
                delta = (emb[w] if fold in writers
                         else build_postings(waves[w], positions=positions))
                _write_file(delta, os.path.join(base, "delta", f"{w}.parquet"))
        else:  # every ANN layout folds the same vector files
            shutil.copytree(os.path.join(root, "ivf", "base", "delta"),
                            os.path.join(base, "delta"))

    def copy(fold, name, src="base"):
        dst = os.path.join(root, fold, name)
        shutil.copytree(os.path.join(root, fold, src), dst)
        return dst

    cache: dict = {}

    def one_shot(fold, snapshots):
        """Fold each snapshot in turn into a copy of the base."""
        key = (fold, snapshots)
        if key not in cache:
            src = one_shot(fold, snapshots[:-1]) if len(snapshots) > 1 else "base"
            d = copy(fold, "one-shot-" + "-".join("".join(s) for s in snapshots), src)
            run_fold(spark, fold, d, list(snapshots[-1]))
            cache[key] = d
        return cache[key]

    def rebuilt(ws):
        """``_served`` over build_index(base ∪ waves ``ws``, positions on —
        positions change no BM25 score)."""
        if ws not in cache:
            d = os.path.join(root, "rebuilt-" + ws)
            union = waves["base"]
            for w in ws:
                union = union.unionByName(waves[w])
            build_index(union, d, n_shards=2, chunk_bits=6, store_positions=True)
            cache[ws] = _served(spark, d, True)
        return cache[ws]

    return {"copy": copy, "one_shot": one_shot, "rebuilt": rebuilt}


def run_fold(spark, fold, case_dir, names):
    index = os.path.join(case_dir, "index")
    files = [os.path.join(case_dir, "delta", f"{n}.parquet") for n in names]
    if fold in ("postings", "positions"):
        return merge_compact(spark, index, files)
    return fold_delta_embeddings(spark, index, files, kind=fold)


def _served(spark, index_dir, positions):
    out = [(r["doc_id"], round(r["score"], 9))
           for r in topk_search(spark, index_dir, QUERY, k=10).collect()]
    if positions:
        out.append([tuple(r) for r in phrase_search(spark, index_dir, PHRASE, slop=1).collect()])
    return out


def _cells(index_dir):
    """{cell dir: rows sorted by vec_id}."""
    return {
        cell: sorted(pq.read_table(os.path.join(index_dir, cell)).to_pylist(),
                     key=lambda r: r["vec_id"])
        for cell in os.listdir(index_dir) if cell.startswith("ivf_cell=")
    }


def _json(path):
    with open(path) as fh:
        return json.load(fh)


@pytest.mark.parametrize("crash", CRASHES)
@pytest.mark.parametrize("fold", FOLDS)
def test_crashed_fold_converges_on_rerun(spark, world, monkeypatch, fold, crash):
    case = world["copy"](fold, crash)
    index = os.path.join(case, "index")
    real_fs_for = fsmod.fs_for
    with monkeypatch.context() as m:
        m.setattr(fsmod, "fs_for", lambda p: CrashingFS(real_fs_for(p), crash))
        with pytest.raises(InjectedCrash):
            run_fold(spark, fold, case, ["a"])
    snapshots = (("a",), ("a", "b")) if crash == "new_files" else (("a",),)
    run_fold(spark, fold, case, list(snapshots[-1]))

    assert not [n for n in os.listdir(index)
                if n.startswith(PENDING_PREFIX) or n.startswith(STAGE_PREFIX)]
    want = world["one_shot"](fold, snapshots)
    meta_name = "_index_meta.json" if fold in ("postings", "positions") else f"_{fold}_meta.json"
    assert _json(os.path.join(index, meta_name)) == _json(
        os.path.join(want, "index", meta_name))
    if fold in ("postings", "positions"):
        shards = sorted(n for n in os.listdir(index) if n.startswith("shard="))
        for s in shards:
            with open(os.path.join(index, s, "data.parquet"), "rb") as got, open(
                os.path.join(want, "index", s, "data.parquet"), "rb"
            ) as ref:
                assert got.read() == ref.read(), s
        # the folded docs leave the delta stats exactly once
        assert _json(os.path.join(case, "delta", DELTA_STATS_SUB_FILE)) == _json(
            os.path.join(want, "delta", DELTA_STATS_SUB_FILE))
        got = _served(spark, index, fold == "positions")
        assert got == world["rebuilt"]("".join(snapshots[-1]))[: len(got)]
    else:
        got = _cells(index)
        assert got == _cells(os.path.join(want, "index"))
        ids = [r["vec_id"] for rows in got.values() for r in rows]
        assert len(ids) == len(set(ids))
