"""Shared engine for the fused two-pass batched ANN cell probes.

``knn_ivf_pq_probe_many`` (operators/pq.py) and ``knn_ivf_sq8_probe_many``
(operators/sq.py) differ ONLY in how a masked block of byte codes is
scored against one query (ADC table lookups + per-cell centroid offsets
vs the int8 decoded dot).  Everything else — the per-query cell probe,
the union-pruned map-only candidate scan, the k-bounded window merge,
the driver candidate assembly, and the exact re-rank pass — is one shape,
factored here so a fix to either path (tie-breaks, empty-candidate edges)
cannot silently miss the other.

Bit-parity contract (the reason the scorer is injected per MASKED block,
not fused across queries): candidate selection must be bit-identical to
the corresponding single-query probe, so the scorer must perform the same
row-local operations on ``codes[mask]`` that the single-query scan
performs on its batch — never a fused multi-query contraction, whose
different BLAS summation order drifts the last ulp and flips selection at
the refine boundary.  Re-ranked cosines follow the
``knn_bruteforce_many`` convention: 9-decimal parity with exact id sets
(dgemv bits vary with matrix row count).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame

# prepare_scorer(qn) -> score_masked(qi, masked_codes, masked_cells) -> scores
PrepareScorer = Callable[
    [np.ndarray], Callable[[int, np.ndarray, np.ndarray], np.ndarray]
]


def fused_cell_probe_many(
    indexed: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    code_col: str,
    code_width: int,
    score_col: str,
    prepare_scorer: PrepareScorer,
    k: int,
    n_probe: int,
    refine: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    as_rows: bool = False,
) -> "DataFrame | list[tuple[int, int, float]]":
    """TWO map-only passes for the whole query set → (query_id, id,
    cos_sim); the per-(query, doc) fan-out never leaves the Arrow task.

    1. code scan over the union of all queries' probed cells, reading only
       ``(id, code, cell)``: each task masks every query to ITS probed
       cells, scores the masked codes via ``prepare_scorer``'s closure,
       and emits the task-local top ``refine·k`` under the (−score, id)
       tie-break; a DRIVER-side merge picks each query's global candidates
       under the same total order the former window produced (round 7 —
       two window exchanges per probe were pure stage floors; collects
       stay ≤ tasks·|queries|·refine·k rows, never corpus-sized).
    2. exact re-rank pass over ``id IN (∪ candidates)`` from the same
       pruned partitions: per-query gemv with ``cosine_to_query_udf``'s
       dtype ops (float64 tolist, axis-1 norms, 1e-300 clamps, raw-query
       gemv), merged driver-side the same way.  ``as_rows=True`` returns
       the merged (query_id, id, cos_sim) tuples directly.
    """
    from .similarity import merge_local_topk

    spark = indexed.sparkSession
    out_schema = f"query_id long, {id_col} long, cos_sim double"
    if not queries:
        return [] if as_rows else local_frame(spark, [], out_schema)
    qids = np.asarray([q for q, _ in queries], dtype=np.int64)
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qnorms = np.array(
        [
            max(float(np.linalg.norm(np.asarray(v, dtype=np.float64))), 1e-300)
            for _, v in queries
        ]
    )
    qn = qmat / qnorms[:, None]
    score_masked = prepare_scorer(qn)
    cells = [
        np.argsort(-(centroids @ qn[i]))[:n_probe].astype(np.int64)
        for i in range(len(qids))
    ]
    union = sorted({int(c) for cs in cells for c in cs})
    nq, nsel = len(qids), refine * k

    def code_scan(it):
        # concatenate the task's Arrow batches first (one nq-loop per TASK;
        # per-row scoring ops unchanged, so candidate selection stays
        # bit-identical — the per-masked-block scorer contract)
        pdfs = [pdf for pdf in it if not pdf.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        codes = np.frombuffer(
            b"".join(pdf[code_col]), dtype=np.uint8
        ).reshape(len(pdf), code_width)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        cell = pdf[cell_col].to_numpy(dtype=np.int64)
        batch_cells = set(int(c) for c in np.unique(cell))
        out_q, out_i, out_s = [], [], []
        for qi in range(nq):
            probe = [c for c in cells[qi] if int(c) in batch_cells]
            if not probe:
                continue
            mask = np.isin(cell, np.asarray(probe, dtype=np.int64))
            s = score_masked(qi, codes[mask], cell[mask])
            idsm = ids[mask]
            top = np.lexsort((idsm, -s))[:nsel]
            out_q.append(np.full(top.size, qids[qi]))
            out_i.append(idsm[top])
            out_s.append(s[top])
        if out_q:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    score_col: np.concatenate(out_s),
                }
            )

    pruned = indexed.where(F.col(cell_col).isin(union))
    local = pruned.select(id_col, code_col, cell_col).mapInPandas(
        code_scan, f"query_id long, {id_col} long, {score_col} double"
    )
    cand_merged = merge_local_topk(
        ((r["query_id"], r[id_col], r[score_col]) for r in local.collect()),
        nsel,
    )
    cand: dict[int, set] = {}
    for q, i, _s in cand_merged:
        cand.setdefault(q, set()).add(i)
    union_ids = sorted({i for s in cand.values() for i in s})
    cand_arr = {
        qid: np.asarray(sorted(s), dtype=np.int64) for qid, s in cand.items()
    }

    def rerank(it):
        pdfs = [pdf for pdf in it if not pdf.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        out_q, out_i, out_s = [], [], []
        for qi in range(nq):
            mine = cand_arr.get(int(qids[qi]))
            if mine is None:
                continue
            mask = np.isin(ids, mine)
            if not mask.any():
                continue
            xs = x[mask]
            cos = (xs @ qmat[qi]) / (norms[mask] * qnorms[qi])
            idsm = ids[mask]
            top = np.lexsort((idsm, -cos))[:k]
            out_q.append(np.full(top.size, qids[qi]))
            out_i.append(idsm[top])
            out_s.append(cos[top])
        if out_q:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    surv = pruned.where(F.col(id_col).isin(union_ids)).select(id_col, vec_col)
    scored = surv.mapInPandas(rerank, out_schema)
    if as_rows:
        # rerank-free serving: driver-merge the re-ranked task-local tops
        # (collect ≤ tasks × nq × k rows) — no final window, no further job
        return merge_local_topk(
            (
                (r["query_id"], r[id_col], r["cos_sim"])
                for r in scored.collect()
            ),
            k,
        )
    # lazy subplan (default): downstream joins keep probe+merge+join in one
    # Spark action
    from pyspark.sql import Window

    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
