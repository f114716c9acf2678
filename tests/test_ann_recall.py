"""ANN recall curves: the numpy reference ≡ the served partition-pruned
probes, and recall floors at the serving defaults.

The reference's ES HNSW layer publishes its ef_search/num_candidates dials
(``elasticsearch_index_manager.py:209-214``); ``operators.ann_recall``
publishes the recall@k-vs-dial analogue for IVF (n_probe) and IVF-PQ /
IVF-SQ8 (refine).  The curves come from ``reference_topk``, a numpy replay
of each layout's one probe over the written index's own columns — these
tests pin (a) that the replay returns EXACTLY what ``knn_ivf_probe_many``
/ ``knn_ivf_pq_probe_many`` / ``knn_ivf_sq8_probe_many`` return, and (b)
recall floors at the default dials on the clustered 384-dim fixture
(deterministic seed, so the floors are tight), read from one report built
once for the module."""

from __future__ import annotations

import numpy as np
import pytest

from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
    make_clustered_fixture,
    recall_report,
    reference_topk,
)
from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

N, DIM, K, N_TIED = 4000, 384, 10, 40


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """The three layouts over one clustered fixture, plus ``N_TIED`` copies
    of an integer-valued vector that is also the last query: its dot
    products are exact in any summation order, so every copy gets the same
    code score and the same cosine bits, and both probes must break the
    tie by id — more copies than ``refine·k``, so the cut falls inside
    the tie."""
    from hybrid_sanctions_search_engine_spark.operators.pq import write_ivf_pq_index
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        write_ivf_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        write_ivf_sq8_index,
    )

    x, q = make_clustered_fixture(n=N, dim=DIM, n_queries=4, query_mode="boundary")
    tied = np.random.default_rng(3).integers(-1, 2, size=DIM).astype(np.float64)
    rows = list(enumerate(x.tolist())) + [(N + i, tied.tolist()) for i in range(N_TIED)]
    emb = local_frame(spark, rows, "vec_id long, embedding array<double>")
    base = tmp_path_factory.mktemp("ann_reference")
    dirs = {kind: str(base / kind) for kind in ("ivf", "ivf_pq", "ivf_sq8")}
    write_ivf_index(emb, dirs["ivf"], n_centroids=16)
    write_ivf_pq_index(emb, dirs["ivf_pq"], n_centroids=16, m=48)
    write_ivf_sq8_index(emb, dirs["ivf_sq8"], n_centroids=16)
    queries = [(i, v) for i, v in enumerate(q.tolist())] + [(len(q), tied.tolist())]
    return dirs, queries


@pytest.fixture(scope="module")
def report(spark):
    """The recall report on the 8k × 384 clustered fixture, built once for
    every floor check."""
    return recall_report(spark, n=8000, dim=DIM, n_probes=[1, 2, 3])


def _probe(spark, layout, path, queries, n_probe, refine):
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        knn_ivf_pq_probe_many,
        load_ivf_pq_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_ivf_probe_many,
        load_ivf_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        knn_ivf_sq8_probe_many,
        load_ivf_sq8_index,
    )

    if layout == "ivf":
        df, cents = load_ivf_index(spark, path)
        return knn_ivf_probe_many(
            df, cents, queries, k=K, n_probe=n_probe, as_rows=True
        )
    if layout == "ivf_pq":
        df, cents, books = load_ivf_pq_index(spark, path)
        return knn_ivf_pq_probe_many(
            df, cents, books, queries, k=K, n_probe=n_probe, refine=refine,
            as_rows=True,
        )
    df, cents, vmin, vmax = load_ivf_sq8_index(spark, path)
    return knn_ivf_sq8_probe_many(
        df, cents, vmin, vmax, queries, k=K, n_probe=n_probe, refine=refine,
        as_rows=True,
    )


@pytest.mark.parametrize("layout", ["ivf", "ivf_pq", "ivf_sq8"])
@pytest.mark.parametrize("n_probe,refine", [(1, 1), (4, 3)])
def test_probe_matches_reference(spark, built, layout, n_probe, refine):
    """Each layout's one probe returns exactly ``reference_topk``'s ids, in
    (cos desc, id asc) order, with the same cosine bits (both score rows
    through the row-local ``similarity.row_cosines``); the tied query's
    top-k is the k smallest ids of its copies."""
    dirs, queries = built
    got: dict[int, list] = {qid: [] for qid, _ in queries}
    for qid, vid, cos in _probe(spark, layout, dirs[layout], queries, n_probe, refine):
        got[qid].append((vid, cos))
    want = reference_topk(dirs[layout], layout, queries, K, n_probe, refine)
    assert set(want) == set(got)
    for qid, (ids, cos) in want.items():
        assert got[qid] == list(zip(ids.tolist(), cos.tolist())), qid
    tied_qid = queries[-1][0]
    assert [vid for vid, _ in got[tied_qid]] == list(range(N, N + K))


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
