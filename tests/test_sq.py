"""IVF-SQ8: int8 scalar-quantized ANN (operators/sq.py).

The int8 form is what Elasticsearch applies to indexed dense_vector
fields by default (the reference's mapping,
elasticsearch_index_manager.py:209-214, sets ``index: True``).  Covers:
quantizer determinism, encode ≡ numpy grid rounding, parity with brute
force when probe+refine cover everything, the code scan's column pruning
(codes only — the 4×-IO point), IVF partition pruning, and recall as a
function of the refine dial (expected to saturate far earlier than PQ —
per-dim 8-bit noise is ~1e-3 cosine).  The probe is checked against
``ann_recall.reference_topk`` in tests/test_ann_recall.py."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
    brute_force_topk,
    make_clustered_fixture,
)
from hybrid_sanctions_search_engine_spark.operators.sq import (
    _encode_sq8_block,
    _normalized,
    encode_sq8,
    knn_ivf_sq8_probe_many,
    load_ivf_sq8_index,
    train_sq8_params,
    write_ivf_sq8_index,
)
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    knn_bruteforce,
)

N, DIM, N_CELLS = 2_000, 384, 16


@pytest.fixture(scope="module")
def sq_fixture(spark, tmp_path_factory):
    x, q = make_clustered_fixture(
        n=N, dim=DIM, n_clusters=N_CELLS, n_queries=8, query_mode="boundary"
    )
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("ivfsq8"))
    cents, vmin, vmax = write_ivf_sq8_index(
        df, path, n_centroids=N_CELLS, sample=N
    )
    indexed, cents2, vmin2, vmax2 = load_ivf_sq8_index(spark, path)
    assert (
        np.allclose(cents, cents2)
        and np.array_equal(vmin, vmin2)
        and np.array_equal(vmax, vmax2)
    )
    return x, q, df, indexed, cents2, vmin2, vmax2


def test_quantizer_determinism_and_range(spark, sq_fixture):
    x, q, df, *_ = sq_fixture
    a = train_sq8_params(df, sample=500)
    b = train_sq8_params(df, sample=500)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert a[0].shape == (DIM,) and np.all(a[0] <= a[1])


def test_encode_matches_numpy(spark, sq_fixture):
    """code_d = clip(rint((x̂_d − vmin_d)/scale_d), 0, 255) — raw form, no
    residual (contrast: test_pq.py::test_encode_matches_numpy)."""
    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    rows = (
        encode_sq8(df.where(F.col("vec_id") < 50), vmin, vmax)
        .select("vec_id", "sq_code", "embedding")
        .collect()
    )
    assert len(rows) == 50
    for r in rows:
        assert len(r["sq_code"]) == DIM  # 384 bytes vs 3072 raw — 4× wire/disk
        xn = _normalized(np.array([r["embedding"]], dtype=np.float64))
        want = _encode_sq8_block(xn, vmin, vmax)[0]
        assert bytes(r["sq_code"]) == want.tobytes()


def test_decode_error_bounded(spark, sq_fixture):
    """Round-trip error per dimension ≤ scale/2 (round-to-nearest grid) —
    the property that makes raw-form int8 survive clustered corpora where
    PQ needed residuals."""
    from hybrid_sanctions_search_engine_spark.operators.sq import _sq8_scale

    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    xn = _normalized(x[:200])
    codes = _encode_sq8_block(xn, vmin, vmax)
    scale = _sq8_scale(vmin, vmax)
    decoded = vmin + codes * scale
    clipped = np.clip(xn, vmin, vmax)  # train-range clipping is by design
    assert np.max(np.abs(decoded - clipped)) <= np.max(scale) / 2 + 1e-12


def test_exact_parity_when_probe_and_refine_cover_all(spark, sq_fixture):
    """n_probe = all cells and refine·k ≥ n ⇒ the SQ8 probe IS brute force
    (same ids, scores at 9 decimals): the code scan only ordered
    candidates, the exact re-rank scored them all with the arrow cosine's
    op shapes."""
    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    qv = q[0].tolist()
    want = [
        (r["vec_id"], round(r["cos_sim"], 9))
        for r in knn_bruteforce(df, qv, k=10, arrow=True).collect()
    ]
    got = [
        (vid, round(cos, 9))
        for _, vid, cos in knn_ivf_sq8_probe_many(
            indexed, cents, vmin, vmax, [(0, qv)], k=10,
            n_probe=N_CELLS, refine=(N // 10) + 1, as_rows=True,
        )
    ]
    assert got == want


def test_code_scan_reads_codes_not_vectors(sq_fixture, collect_read_schemas):
    """The probe's candidate scan must NOT read the raw vector column —
    the 4×-IO point at 1B × 384-d; only the re-rank pass reads vectors."""
    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    code_scan, rerank = collect_read_schemas(
        lambda: knn_ivf_sq8_probe_many(
            indexed, cents, vmin, vmax, [(0, q[0].tolist())], k=10,
            n_probe=4, as_rows=True,
        )
    )
    assert "sq_code" in code_scan and "vec_id" in code_scan
    assert "embedding" not in code_scan
    assert "embedding" in rerank and "sq_code" not in rerank


def test_probe_prunes_partitions(spark, sq_fixture):
    """n_probe=2 physically reads ≤ 2 ivf_cell partition directories."""
    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    probe = [int(c) for c in np.argsort(-(cents @ qv))[:2]]
    files = [
        r[0]
        for r in indexed.where(F.col("ivf_cell").isin(probe))
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert files
    cells_read = {int(re.search(r"ivf_cell=(\d+)", f).group(1)) for f in files}
    assert cells_read <= set(probe)


def test_recall_saturates_early(spark, sq_fixture):
    """recall@10 vs brute force on the boundary regime: int8 candidate
    selection should be near the IVF-Flat ceiling already at refine=2 —
    the whole point of spending 8× PQ's bytes (PQ needs refine≈8 for
    ~0.89 here, test_pq.py::test_recall_improves_with_refine)."""
    x, q, df, indexed, cents, vmin, vmax = sq_fixture
    truth = brute_force_topk(x, q, k=10)

    def recall(refine):
        got: dict[int, set] = {qi: set() for qi in range(len(q))}
        for qi, vid, _ in knn_ivf_sq8_probe_many(
            indexed, cents, vmin, vmax, list(enumerate(q.tolist())),
            k=10, n_probe=4, refine=refine, as_rows=True,
        ):
            got[qi].add(vid)
        hit = sum(len(got[qi] & set(truth[qi].tolist())) for qi in got)
        return hit / (10 * len(q))

    r2 = recall(2)
    assert r2 >= 0.95, r2
