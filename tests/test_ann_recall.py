"""ANN recall curves: emulation ≡ the real partition-pruned probes, and
recall floors at the serving defaults.

The reference's ES HNSW layer publishes its ef_search/num_candidates dials
(``elasticsearch_index_manager.py:209-214``); ``operators.ann_recall``
publishes the recall@k-vs-dial analogue for IVF (n_probe) and IVF-PQ /
IVF-SQ8 (refine).  The curve machinery replays probe selection in numpy
from the written index's own columns — these tests pin (a) that the replay
is EXACTLY the candidate selection ``knn_ivf_probe`` / ``knn_ivf_pq_probe``
/ ``knn_ivf_sq8_probe`` perform, and (b) recall floors at the default dials
on the clustered 384-dim fixture (deterministic seed, so the floors are
tight), read from one report built once for the module."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
    brute_force_topk,
    ivf_recall_curve,
    make_clustered_fixture,
    recall_report,
)

N, DIM = 4000, 384


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )

    x, q = make_clustered_fixture(n=N, dim=DIM, query_mode="boundary")
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(N, dtype=np.int64), "embedding": list(x)})
    )
    ivf_dir = str(tmp_path_factory.mktemp("ann_recall") / "ivf")
    write_ivf_index(emb, ivf_dir, n_centroids=16)
    return x, q, emb, ivf_dir


@pytest.fixture(scope="module")
def report(spark):
    """The recall report on the 8k × 384 clustered fixture, built once for
    every floor check."""
    return recall_report(spark, n=8000, dim=DIM, n_probes=[1, 2, 3])


def test_ivf_replay_matches_real_probe(spark, built):
    """The numpy replay returns EXACTLY knn_ivf_probe's result ids."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_ivf_probe,
        load_ivf_index,
    )

    x, q, _, ivf_dir = built
    indexed, cents = load_ivf_index(spark, ivf_dir)
    truth = brute_force_topk(x, q[:3], 10)
    # recall computed by the curve on these 3 queries ...
    curve = ivf_recall_curve(ivf_dir, x, q[:3], truth, [2], k=10)
    # ... must equal recall of the REAL probe's collected ids
    hits = 0
    for i in range(3):
        got = [
            r["vec_id"]
            for r in knn_ivf_probe(indexed, cents, q[i].tolist(), k=10, n_probe=2)
            .collect()
        ]
        hits += len(set(got) & set(truth[i].tolist()))
    assert curve[2] == pytest.approx(hits / 30)


def test_ivf_pq_replay_matches_real_probe(spark, built, tmp_path_factory):
    """The numpy replay (cells → ADC top refine·k → exact re-rank) scores
    the same recall as the REAL knn_ivf_pq_probe at the same dials."""
    from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
        ivf_pq_recall_curve,
    )
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        knn_ivf_pq_probe,
        load_ivf_pq_index,
        write_ivf_pq_index,
    )

    x, q, emb, _ = built
    pq_dir = str(tmp_path_factory.mktemp("ann_recall_pq") / "ivf_pq")
    write_ivf_pq_index(emb, pq_dir, n_centroids=16, m=48)
    indexed, cents, books = load_ivf_pq_index(spark, pq_dir)
    truth = brute_force_topk(x, q[:3], 10)
    curve = ivf_pq_recall_curve(pq_dir, x, q[:3], truth, [2], n_probe=2, k=10)
    hits = 0
    for i in range(3):
        got = [
            r["vec_id"]
            for r in knn_ivf_pq_probe(
                indexed, cents, books, q[i].tolist(), k=10, n_probe=2, refine=2
            ).collect()
        ]
        hits += len(set(got) & set(truth[i].tolist()))
    assert curve[2] == pytest.approx(hits / 30)


def test_ivf_sq8_replay_matches_real_probe(spark, built, tmp_path_factory):
    """The numpy replay (cells → decoded-dot top refine·k → exact re-rank)
    scores the same recall as the REAL knn_ivf_sq8_probe at the same
    dials."""
    from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
        ivf_sq8_recall_curve,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        knn_ivf_sq8_probe,
        load_ivf_sq8_index,
        write_ivf_sq8_index,
    )

    x, q, emb, _ = built
    sq_dir = str(tmp_path_factory.mktemp("ann_recall_sq") / "ivf_sq8")
    write_ivf_sq8_index(emb, sq_dir, n_centroids=16)
    indexed, cents, vmin, vmax = load_ivf_sq8_index(spark, sq_dir)
    truth = brute_force_topk(x, q[:3], 10)
    curve = ivf_sq8_recall_curve(sq_dir, x, q[:3], truth, [2], n_probe=2, k=10)
    hits = 0
    for i in range(3):
        got = [
            r["vec_id"]
            for r in knn_ivf_sq8_probe(
                indexed, cents, vmin, vmax, q[i].tolist(),
                k=10, n_probe=2, refine=2,
            ).collect()
        ]
        hits += len(set(got) & set(truth[i].tolist()))
    assert curve[2] == pytest.approx(hits / 30)


def test_recall_floors_at_default_dials(report):
    """IVF floors at the serving default (HybridSearchPlan: n_probe=3) —
    measured {member@1: 1.0, boundary@2: 1.0}; floors leave margin for
    BLAS variation only."""
    assert report["ivf_recall_at_10_by_n_probe_member"]["1"] >= 0.95
    assert report["ivf_recall_at_10_by_n_probe_boundary"]["2"] >= 0.95
    assert report["ivf_recall_at_10_by_n_probe_boundary"]["3"] >= 0.95
    # the curves are monotone in the dial
    ivf_b = report["ivf_recall_at_10_by_n_probe_boundary"]
    assert ivf_b["1"] <= ivf_b["2"] <= ivf_b["3"]


def test_quantized_recall_floors_at_default_refine(report):
    """IVF-PQ / IVF-SQ8 floors at the serving default refine=4 (n_probe=4)
    — measured {pq member: 0.692, pq boundary: 0.872, sq8 member: 1.0,
    sq8 boundary: 1.0}; refine widens the exact re-rank, so recall is
    monotone in it."""
    pq = report["ivf_pq_recall_at_10_by_refine_member_n_probe_4"]
    sq8 = report["ivf_sq8_recall_at_10_by_refine_member_n_probe_4"]
    assert pq["4"] >= 0.6
    assert report["ivf_pq_recall_at_10_by_refine_boundary_n_probe_4"]["4"] >= 0.8
    assert sq8["4"] >= 0.95
    assert report["ivf_sq8_recall_at_10_by_refine_boundary_n_probe_4"]["4"] >= 0.95
    assert pq["1"] <= pq["2"] <= pq["4"] <= pq["8"]
    assert sq8["1"] <= sq8["2"] <= sq8["4"]


def test_pq_m_for_dim_divides():
    """recall_report's PQ subspace count must divide dim for any dim —
    dim//8 alone fails e.g. dim=100 (m=12, 100 % 12 = 4)."""
    from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
        _pq_m_for_dim,
    )

    for dim in (8, 64, 100, 96, 384, 7, 1, 130):
        m = _pq_m_for_dim(dim)
        assert dim % m == 0 and 1 <= m <= max(dim // 8, 1), (dim, m)
    assert _pq_m_for_dim(384) == 48
    assert _pq_m_for_dim(100) == 10
