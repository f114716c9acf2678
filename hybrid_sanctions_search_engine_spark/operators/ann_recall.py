"""ANN recall measurement: recall@k vs the probe-width dials.

The reference's ES HNSW analogue publishes its ef_search trade-off dials
(``/root/reference/src/ai_service/layers/embeddings/indexing/
elasticsearch_index_manager.py:209-214``: ``num_candidates``/``ef_search``);
this module publishes the equivalent curves for the served ANN layouts —
recall@k vs ``n_probe`` (IVF) and vs ``refine`` (IVF-PQ, IVF-SQ8) —
measured against brute-force ground truth on a clustered fixture.

Methodology: ``reference_topk`` replays a layout's served probe
(``knn_ivf_probe_many`` / ``knn_ivf_pq_probe_many`` /
``knn_ivf_sq8_probe_many``) in numpy from the WRITTEN index's own columns
— the same query prep and probe order (``similarity.probe_queries``), the
same injected code score, the same (−score, id) tie-breaks and cosine op
shapes — so a dial sweep reads the index instead of running a Spark job
per point, and the tests check each probe against it (ids exact, cosines
at 9 decimals).
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


def reference_topk(
    index_dir: str,
    layout: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 3,
    refine: int = 4,
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Per query id, the (ids, cosines) top-k the ``layout`` probe
    (``ivf`` / ``ivf_pq`` / ``ivf_sq8``; ``ivf`` ignores ``refine``)
    returns over the index at ``index_dir``, computed in numpy: rows of
    the query's probed cells, for a coded layout cut to the top
    ``refine·k`` by the layout's code score (``pq.adc_scorer`` /
    ``sq.sq8_scorer``, the scorer the probe injects into
    ``fused_probe.fused_cell_probe_many``), then ranked by exact cosine."""
    import pyarrow.dataset as ds

    from .similarity import local_topk, probe_queries, row_cosines

    meta = _read_meta(index_dir, f"_{layout}_meta.json")
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    if layout == "ivf_pq":
        from .pq import adc_scorer

        books = np.asarray(meta["codebooks"], dtype=np.float64)
        code_col, prepare = "pq_code", adc_scorer(cents, books)
    elif layout == "ivf_sq8":
        from .sq import sq8_scorer

        vmin = np.asarray(meta["vmin"], dtype=np.float64)
        vmax = np.asarray(meta["vmax"], dtype=np.float64)
        code_col, prepare = "sq_code", sq8_scorer(vmin, vmax)
    elif layout == "ivf":
        code_col = prepare = None
    else:
        raise ValueError(f"unknown ANN layout {layout!r}")
    cols = ["vec_id", "ivf_cell", "embedding"] + ([code_col] if code_col else [])
    tbl = ds.dataset(index_dir, format="parquet", partitioning="hive").to_table(
        columns=cols
    )
    ids = np.asarray(tbl["vec_id"], dtype=np.int64)
    cell = np.asarray(tbl["ivf_cell"], dtype=np.int64)
    x = np.asarray(
        tbl["embedding"].combine_chunks().flatten(), dtype=np.float64
    ).reshape(len(ids), -1)
    norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
    prep = probe_queries(queries, cents, n_probe)
    if prepare is not None:
        score_masked = prepare(prep.qmat)
        codes = np.frombuffer(
            b"".join(tbl[code_col].to_pylist()), dtype=np.uint8
        ).reshape(len(ids), -1)
    out = {}
    for qi, qid in enumerate(prep.qids.tolist()):
        cand = np.flatnonzero(np.isin(cell, prep.cells[qi]))
        if prepare is not None:
            s = score_masked(qi, codes[cand], cell[cand])
            cand = cand[local_topk(ids[cand], s, refine * k)]
        cos = row_cosines(x[cand], norms[cand], prep.qmat[qi], prep.qnorms[qi])
        top = local_topk(ids[cand], cos, k)
        out[qid] = (ids[cand][top], cos[top])
    return out


def recall_at_k(
    index_dir: str,
    layout: str,
    queries: np.ndarray,
    truth: np.ndarray,
    k: int,
    n_probe: int,
    refine: int = 4,
) -> float:
    """recall@k of the ``layout`` probe at one dial point: the share of
    each query's ``truth`` row (``brute_force_topk``) that
    ``reference_topk`` returns, over all queries (rows of ``queries``)."""
    tops = reference_topk(
        index_dir, layout, list(enumerate(queries)), k, n_probe, refine
    )
    hits = sum(
        len(set(tops[i][0].tolist()) & set(truth[i].tolist()))
        for i in range(len(queries))
    )
    return hits / (len(queries) * k)


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
                str(p): round(recall_at_k(ivf_dir, "ivf", q, truth, k, p), 4)
                for p in n_probes
            }
            for layout, path, refines in (
                ("ivf_pq", pq_dir, pq_refines),
                ("ivf_sq8", sq_dir, sq_refines),
            ):
                key = f"{layout}_recall_at_{k}_by_refine_{mode}_n_probe_{pq_n_probe}"
                out[key] = {
                    str(r): round(
                        recall_at_k(path, layout, q, truth, k, pq_n_probe, r), 4
                    )
                    for r in refines
                }
        return out
    finally:
        if workdir is None:
            shutil.rmtree(base, ignore_errors=True)
