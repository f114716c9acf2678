"""ANN recall measurement: recall@k vs the probe-width dials.

The reference's ES HNSW analogue publishes its ef_search trade-off dials
(``/root/reference/src/ai_service/layers/embeddings/indexing/
elasticsearch_index_manager.py:209-214``: ``num_candidates``/``ef_search``);
this module publishes the equivalent curves for the served ANN layouts —
recall@k vs ``n_probe`` (IVF) and vs ``refine`` (IVF-PQ, IVF-SQ8) —
measured against brute-force ground truth on a clustered fixture.

Methodology: the candidate sets are derived from the WRITTEN index's own
columns (``ivf_cell`` and the codes), loaded once, with the probe
selection replayed in numpy — semantically identical to
``knn_ivf_probe`` / ``knn_ivf_pq_probe`` / ``knn_ivf_sq8_probe`` (each
prunes to those candidates and exact-cosine reranks; the equivalence is
pinned by ``tests/test_ann_recall.py``), so a 5-dial × 50-query sweep
costs one index read instead of 250 Spark jobs.
"""

from __future__ import annotations

import os

import numpy as np

from ..sources.tables import local_frame


def make_clustered_fixture(
    n: int = 20_000,
    dim: int = 384,
    n_clusters: int = 64,
    noise: float = 0.35,
    n_queries: int = 50,
    seed: int = 7,
    query_mode: str = "boundary",
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic clustered vectors + held-out queries (both L2-normalized).

    Clustered, not uniform, on purpose: on a uniform corpus the best
    neighbor is barely above the mean similarity and hyperplane bits are
    ~random (measured in round 3 — BENCH.md), so recall curves would say
    nothing.  Real embedding spaces are clustered; ANN dials are tuned for
    that regime.

    ``query_mode``: "member" draws queries from a single cluster (the
    ANN-friendly regime — one IVF cell holds all true neighbors);
    "boundary" blends two cluster centers per query (the adversarial
    regime — truth straddles cells and the probe width has to pay for
    it).  Publishing both shows where the dial starts to matter."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # noise is the TOTAL perturbation norm, not per-dimension: a per-dim σ
    # of `noise` at dim 384 gives a noise vector of norm noise·√384 ≈ 6.9 —
    # 98% noise, i.e. a uniform corpus in disguise (recall curves were flat
    # until this was scaled).  σ = noise/√dim keeps same-cluster cosine at
    # ≈ 1/(1+noise²) regardless of dim.
    sigma = noise / np.sqrt(dim)
    assign = rng.integers(0, n_clusters, size=n)
    x = centers[assign] + sigma * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    qa = rng.integers(0, n_clusters, size=n_queries)
    qb = (qa + 1 + rng.integers(0, n_clusters - 1, size=n_queries)) % n_clusters
    wb = rng.uniform(0.9, 1.1, size=n_queries)[:, None]
    qnoise = sigma * rng.standard_normal((n_queries, dim))
    if query_mode == "member":
        q = centers[qa] + qnoise
    elif query_mode == "boundary":
        # blend two centers with near-equal weight (0.9-1.1): the true top-k
        # then spans both clusters' cells and the probe width has to widen
        # to recover it (single-center queries measure 1.0 at n_probe=1)
        q = centers[qa] + wb * centers[qb] + qnoise
    else:
        raise ValueError(f"unknown query_mode: {query_mode!r}")
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return x, q


def _pq_m_for_dim(dim: int) -> int:
    """Largest subspace count m ≤ dim//8 that divides dim —
    ``train_pq_codebooks`` requires m | dim, and dim//8 alone fails for
    e.g. dim=100 (100 // 8 = 12, 100 % 12 = 4)."""
    return next(mm for mm in range(max(dim // 8, 1), 0, -1) if dim % mm == 0)


def _read_meta(index_dir: str, name: str) -> dict:
    from ..sources.fs import fs_for

    return fs_for(index_dir).read_json(os.path.join(index_dir, name))


def brute_force_topk(x: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids per query (rows of ``q``) — the ground truth,
    under the probes' exact tie-break (sim desc, id asc).  Full lexsort on
    purpose: an argpartition candidate slice can exclude tied-at-k docs
    with smaller ids and mismeasure a correct probe (review finding,
    round 4); at fixture sizes the full sort is negligible."""
    sims = q @ x.T  # both normalized
    out = np.empty((q.shape[0], k), dtype=np.int64)
    ids = np.arange(x.shape[0], dtype=np.int64)
    for i in range(q.shape[0]):
        out[i] = np.lexsort((ids, -sims[i]))[:k]
    return out


def ivf_recall_curve(
    index_dir: str,
    x: np.ndarray,
    queries: np.ndarray,
    truth: np.ndarray,
    n_probes: list[int],
    k: int = 10,
) -> dict[int, float]:
    """recall@k vs n_probe, replaying ``knn_ivf_probe``'s candidate selection
    (nearest-centroid cells by cosine, exact rerank inside) from the written
    index's cell assignments."""
    import pyarrow.dataset as ds

    meta = _read_meta(index_dir, "_ivf_meta.json")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    tbl = ds.dataset(index_dir, format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "ivf_cell"]
    )
    vec_ids = np.asarray(tbl["vec_id"], dtype=np.int64)
    cells = np.asarray(tbl["ivf_cell"], dtype=np.int64)
    # -1 fill: for a non-contiguous id space, uninitialized slots could
    # hold garbage equal to a probed cell id and inject phantom candidates
    # into the measurement (review finding, round 5)
    cell_of = np.full(vec_ids.max() + 1, -1, dtype=np.int64)
    cell_of[vec_ids] = cells
    out: dict[int, float] = {}
    for n_probe in n_probes:
        hits = 0
        for i in range(queries.shape[0]):
            probe = set(np.argsort(-(cents @ queries[i]))[:n_probe].tolist())
            cand = np.flatnonzero(np.isin(cell_of, list(probe)))
            if cand.size == 0:
                continue
            s = x[cand] @ queries[i]
            kk = min(k, cand.size)
            top = cand[np.lexsort((cand, -s))[:kk]]
            hits += len(set(top.tolist()) & set(truth[i].tolist()))
        out[n_probe] = hits / (queries.shape[0] * k)
    return out


def ivf_pq_recall_curve(
    index_dir: str,
    x: np.ndarray,
    queries: np.ndarray,
    truth: np.ndarray,
    refines: list[int],
    n_probe: int = 4,
    k: int = 10,
) -> dict[int, float]:
    """recall@k vs the ``refine`` dial at fixed ``n_probe``, replaying
    ``knn_ivf_pq_probe``'s candidate selection (nearest-centroid cells,
    ADC top refine·k with the (−score, id) tie-break, exact re-rank) from
    the written index's own cells/codes — the PQ analogue of
    ``ivf_recall_curve``, isolating what quantized candidate selection
    costs vs the IVF-Flat ceiling at the same n_probe."""
    import pyarrow.dataset as ds

    from .pq import adc_lookup_table

    meta = _read_meta(index_dir, "_ivf_pq_meta.json")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    books = np.asarray(meta["codebooks"], dtype=np.float64)
    m = books.shape[0]
    tbl = ds.dataset(index_dir, format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "ivf_cell", "pq_code"]
    )
    vec_ids = np.asarray(tbl["vec_id"], dtype=np.int64)
    cells = np.asarray(tbl["ivf_cell"], dtype=np.int64)
    codes = np.frombuffer(
        b"".join(c.as_py() for c in tbl["pq_code"]), dtype=np.uint8
    ).reshape(len(vec_ids), m)
    cols = np.arange(m)
    # the probe, ADC scan, and sort are refine-independent — score each
    # query once and slice the shared ordering per refine
    hits = {r: 0 for r in refines}
    for i in range(queries.shape[0]):
        qn = queries[i] / max(np.linalg.norm(queries[i]), 1e-12)
        probe = np.argsort(-(cents @ qn))[:n_probe]
        cand = np.flatnonzero(np.isin(cells, probe))
        if cand.size == 0:
            continue
        lut = adc_lookup_table(queries[i].tolist(), books)
        # residual coding: add each candidate's per-cell q̂·centroid
        adc = lut[cols, codes[cand]].sum(axis=1) + (cents @ qn)[cells[cand]]
        order = np.lexsort((vec_ids[cand], -adc))
        for refine in refines:
            ids = vec_ids[cand[order[: refine * k]]]
            s = x[ids] @ queries[i]
            kk = min(k, ids.size)
            top = ids[np.lexsort((ids, -s))[:kk]]
            hits[refine] += len(set(top.tolist()) & set(truth[i].tolist()))
    return {r: hits[r] / (queries.shape[0] * k) for r in refines}


def ivf_sq8_recall_curve(
    index_dir: str,
    x: np.ndarray,
    queries: np.ndarray,
    truth: np.ndarray,
    refines: list[int],
    n_probe: int = 4,
    k: int = 10,
) -> dict[int, float]:
    """recall@k vs the ``refine`` dial at fixed ``n_probe``, replaying
    ``knn_ivf_sq8_probe``'s candidate selection (nearest-centroid cells,
    decoded-dot top refine·k with the (−score, id) tie-break, exact
    re-rank) from the written index's own cells/codes — the int8 analogue
    of ``ivf_pq_recall_curve``."""
    import pyarrow.dataset as ds

    from .sq import _sq8_query_form, _sq8_scores

    meta = _read_meta(index_dir, "_ivf_sq8_meta.json")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    vmin = np.asarray(meta["vmin"], dtype=np.float64)
    vmax = np.asarray(meta["vmax"], dtype=np.float64)
    dim = cents.shape[1]
    tbl = ds.dataset(index_dir, format="parquet", partitioning="hive").to_table(
        columns=["vec_id", "ivf_cell", "sq_code"]
    )
    vec_ids = np.asarray(tbl["vec_id"], dtype=np.int64)
    cells = np.asarray(tbl["ivf_cell"], dtype=np.int64)
    codes = np.frombuffer(
        b"".join(c.as_py() for c in tbl["sq_code"]), dtype=np.uint8
    ).reshape(len(vec_ids), dim)
    # probe + decoded-dot scan + sort are refine-independent — score each
    # query once and slice the shared ordering per refine
    hits = {r: 0 for r in refines}
    for i in range(queries.shape[0]):
        qn = queries[i] / max(np.linalg.norm(queries[i]), 1e-12)
        probe = np.argsort(-(cents @ qn))[:n_probe]
        cand = np.flatnonzero(np.isin(cells, probe))
        if cand.size == 0:
            continue
        w, b = _sq8_query_form(queries[i].tolist(), vmin, vmax)
        s = _sq8_scores(codes[cand], w, b)
        order = np.lexsort((vec_ids[cand], -s))
        for refine in refines:
            ids = vec_ids[cand[order[: refine * k]]]
            cos = x[ids] @ queries[i]
            kk = min(k, ids.size)
            top = ids[np.lexsort((ids, -cos))[:kk]]
            hits[refine] += len(set(top.tolist()) & set(truth[i].tolist()))
    return {r: hits[r] / (queries.shape[0] * k) for r in refines}


def recall_report(
    spark,
    n: int = 20_000,
    dim: int = 384,
    n_clusters: int = 64,
    noise: float = 0.35,
    n_centroids: int = 64,
    k: int = 10,
    n_probes: list[int] | None = None,
    workdir: str | None = None,
) -> dict:
    """Build the three ANN indexes over the clustered fixture and return
    their recall curves — the table bench.py publishes into
    BENCH_r{N}.json."""
    import shutil
    import tempfile

    from .pq import write_ivf_pq_index
    from .similarity import write_ivf_index
    from .sq import write_ivf_sq8_index

    n_probes = n_probes or [1, 2, 4, 8, 16]
    pq_refines = [1, 2, 4, 8]
    sq_refines = [1, 2, 4]
    pq_n_probe = 4

    base = workdir or tempfile.mkdtemp(prefix="ann_recall_")
    ivf_dir = os.path.join(base, "ivf")
    pq_dir = os.path.join(base, "ivf_pq")
    sq_dir = os.path.join(base, "ivf_sq8")
    out: dict = {"n": n, "dim": dim, "k": k, "noise": noise}
    try:
        for mode in ("member", "boundary"):
            x, q = make_clustered_fixture(
                n=n, dim=dim, n_clusters=n_clusters, noise=noise, query_mode=mode
            )
            if mode == "member":  # x is identical across modes (same seed)
                emb = local_frame(
                    spark,
                    list(enumerate(x)),
                    "vec_id long, embedding array<double>",
                )
                write_ivf_index(emb, ivf_dir, n_centroids=n_centroids)
                write_ivf_pq_index(
                    emb, pq_dir, n_centroids=n_centroids, m=_pq_m_for_dim(dim)
                )
                write_ivf_sq8_index(emb, sq_dir, n_centroids=n_centroids)
            truth = brute_force_topk(x, q, k)
            out[f"ivf_recall_at_{k}_by_n_probe_{mode}"] = {
                str(d): round(v, 4)
                for d, v in ivf_recall_curve(ivf_dir, x, q, truth, n_probes, k).items()
            }
            out[f"ivf_pq_recall_at_{k}_by_refine_{mode}_n_probe_{pq_n_probe}"] = {
                str(d): round(v, 4)
                for d, v in ivf_pq_recall_curve(
                    pq_dir, x, q, truth, pq_refines, pq_n_probe, k
                ).items()
            }
            out[f"ivf_sq8_recall_at_{k}_by_refine_{mode}_n_probe_{pq_n_probe}"] = {
                str(d): round(v, 4)
                for d, v in ivf_sq8_recall_curve(
                    sq_dir, x, q, truth, sq_refines, pq_n_probe, k
                ).items()
            }
        return out
    finally:
        if workdir is None:
            shutil.rmtree(base, ignore_errors=True)
