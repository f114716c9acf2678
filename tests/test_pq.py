"""IVF-PQ: product-quantized ANN (operators/pq.py).

Covers: codebook determinism, encode ≡ numpy nearest-centroid, parity
with brute force when the probe+refine cover everything, the ADC scan's
column pruning (codes only — the 32×-compression point), IVF partition
pruning, and recall as a function of the refine dial.  The probe is
checked against ``ann_recall.reference_topk`` in tests/test_ann_recall.py."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.operators.ann_recall import (
    brute_force_topk,
    make_clustered_fixture,
)
from hybrid_sanctions_search_engine_spark.operators.pq import (
    _encode_block,
    encode_pq,
    knn_ivf_pq_probe_many,
    load_ivf_pq_index,
    train_pq_codebooks,
    write_ivf_pq_index,
)
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    knn_bruteforce,
    normalize_rows,
)

N, DIM, N_CELLS, M = 2_000, 384, 16, 48


@pytest.fixture(scope="module")
def pq_fixture(spark, tmp_path_factory):
    x, q = make_clustered_fixture(
        n=N, dim=DIM, n_clusters=N_CELLS, n_queries=8, query_mode="boundary"
    )
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path_factory.mktemp("ivfpq"))
    cents, books = write_ivf_pq_index(
        df, path, n_centroids=N_CELLS, m=M, sample=N
    )
    indexed, cents2, books2 = load_ivf_pq_index(spark, path)
    assert np.allclose(cents, cents2) and np.allclose(books, books2)
    return x, q, df, indexed, cents2, books2


def test_codebook_determinism(spark, pq_fixture):
    x, q, df, *_ = pq_fixture
    b1 = train_pq_codebooks(df, m=M, sample=500, iters=3)
    b2 = train_pq_codebooks(df, m=M, sample=500, iters=3)
    assert np.array_equal(b1, b2)
    assert b1.shape == (M, 256, DIM // M)


def test_encode_matches_numpy(spark, pq_fixture):
    """Residual encoding: code = quantize(x̂ − centroids[assigned cell])."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        assign_ivf_cells,
    )

    x, q, df, indexed, cents, books = pq_fixture
    rows = (
        encode_pq(
            assign_ivf_cells(df.where(F.col("vec_id") < 50), cents),
            books,
            centroids=cents,
        )
        .select("vec_id", "pq_code", "embedding", "ivf_cell")
        .collect()
    )
    assert len(rows) == 50
    for r in rows:
        assert len(r["pq_code"]) == M  # 48 bytes vs 3072 raw — 32× on disk
        xn = normalize_rows(np.array([r["embedding"]], dtype=np.float64))
        want = _encode_block(xn - cents[r["ivf_cell"]], books)[0]
        assert bytes(r["pq_code"]) == want.tobytes()


def test_exact_parity_when_probe_and_refine_cover_all(spark, pq_fixture):
    """n_probe = all cells and refine·k ≥ n ⇒ the PQ probe IS brute force
    (same ids, scores at 9 decimals): ADC only ordered candidates, the
    exact re-rank scored them all with the arrow cosine's op shapes."""
    x, q, df, indexed, cents, books = pq_fixture
    qv = q[0].tolist()
    want = [
        (r["vec_id"], round(r["cos_sim"], 9))
        for r in knn_bruteforce(df, qv, k=10, arrow=True).collect()
    ]
    got = [
        (vid, round(cos, 9))
        for _, vid, cos in knn_ivf_pq_probe_many(
            indexed, cents, books, [(0, qv)], k=10,
            n_probe=N_CELLS, refine=(N // 10) + 1, as_rows=True,
        )
    ]
    assert got == want


def test_adc_scan_reads_codes_not_vectors(pq_fixture, collect_read_schemas):
    """The probe's ADC scan must NOT read the raw vector column — that
    column pruning is the whole memory story at 1B × 384-d; only the
    re-rank pass reads vectors."""
    x, q, df, indexed, cents, books = pq_fixture
    code_scan, rerank = collect_read_schemas(
        lambda: knn_ivf_pq_probe_many(
            indexed, cents, books, [(0, q[0].tolist())], k=10, n_probe=4,
            as_rows=True,
        )
    )
    assert "pq_code" in code_scan and "vec_id" in code_scan
    assert "embedding" not in code_scan
    assert "embedding" in rerank and "pq_code" not in rerank


def test_probe_prunes_partitions(spark, pq_fixture):
    """n_probe=2 physically reads ≤ 2 ivf_cell partition directories."""
    x, q, df, indexed, cents, books = pq_fixture
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


def test_recall_improves_with_refine(spark, pq_fixture):
    """recall@10 vs brute force on the boundary-query regime: the refine
    dial converges the PQ probe toward the IVF-Flat result; at refine=8
    the quantization loss is almost fully recovered."""
    x, q, df, indexed, cents, books = pq_fixture
    truth = brute_force_topk(x, q, k=10)

    def recall(refine):
        got: dict[int, set] = {qi: set() for qi in range(len(q))}
        for qi, vid, _ in knn_ivf_pq_probe_many(
            indexed, cents, books, list(enumerate(q.tolist())),
            k=10, n_probe=4, refine=refine, as_rows=True,
        ):
            got[qi].add(vid)
        hit = sum(len(got[qi] & set(truth[qi].tolist())) for qi in got)
        return hit / (10 * len(q))

    r1, r8 = recall(1), recall(8)
    assert r8 >= r1
    assert r8 >= 0.85, (r1, r8)


def test_train_rejects_nbits_over_8(spark, pq_fixture):
    """Codes are stored 1 byte/subspace (tobytes/frombuffer uint8), so
    nbits > 8 must raise at train time instead of silently wrapping codes
    modulo 256 into a corrupt index."""
    _, _, df, _, _, _ = pq_fixture
    with pytest.raises(ValueError, match="nbits"):
        train_pq_codebooks(df, m=M, nbits=10, sample=64)
