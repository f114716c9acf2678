"""Shared engine for the fused two-pass batched ANN cell probes.

``knn_ivf_pq_probe_many`` (operators/pq.py) and ``knn_ivf_sq8_probe_many``
(operators/sq.py) differ ONLY in how a masked block of byte codes is
scored against one query (ADC table lookups + per-cell centroid offsets
vs the int8 decoded dot).  Everything else — the per-query cell probe,
the union-pruned map-only candidate scan, the driver candidate merge,
and the exact re-rank pass (which can also run the L9/L10 rerank) — is
one shape, factored here so a fix to either path (tie-breaks,
empty-candidate edges) cannot silently miss the other.

Bit-parity contract (the reason the scorer is injected per MASKED block,
not fused across queries): candidate selection must be bit-identical to
``ann_recall.reference_topk``, which scores each query's candidate rows
in one block through the same injected scorer, so the scorer must
perform row-local operations on ``codes[mask]`` — never a fused
multi-query contraction, whose different BLAS summation order drifts the
last ulp and flips selection at the refine boundary.  Re-ranked cosines
are row-local too (``similarity.row_cosines``), so they do not depend on
which rows share a task.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources.tables import (
    Standing,
    collect_frame,
    frame_of,
    local_frame,
    serving_map,
    sql_in,
)
from .similarity import (
    ProbeQueries,
    ProbeRerank,
    local_topk,
    merge_local_topk,
    merge_probe_tops,
    probe_input_cols,
    probe_queries,
    probe_schema,
    row_cosines,
    task_rows,
    topk_record_batch,
    vector_rows,
)

# prepare_scorer(queries) -> score_masked(qi, masked_codes, masked_cells) -> scores
PrepareScorer = Callable[
    [ProbeQueries], Callable[[int, np.ndarray, np.ndarray], np.ndarray]
]


def fused_cell_probe_many(
    indexed: "DataFrame | Standing",
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
    rerank: ProbeRerank | None = None,
) -> "DataFrame | list[tuple[int, int, float]]":
    """TWO map-only passes for the whole query set → (query_id, id,
    cos_sim); the per-(query, doc) fan-out never leaves the Arrow task.

    1. code scan over the union of all queries' probed cells, reading only
       ``(id, code, cell)``: each task masks every query to ITS probed
       cells, scores the masked codes via the scorer ``prepare_scorer``
       builds in the task, and emits the task-local top ``refine·k``
       under the (−score, id) tie-break; a DRIVER-side merge picks each query's global candidates
       under the same total order the former window produced (round 7 —
       two window exchanges per probe were pure stage floors; collects
       stay ≤ tasks·|queries|·refine·k rows, never corpus-sized).
    2. exact re-rank pass over ``id IN (∪ candidates)`` from the same
       pruned partitions: per-query ``row_cosines`` with
       ``cosine_to_query_udf``'s dtype ops (float64 tolist, axis-1 norms,
       1e-300 clamps, raw query).  ``as_rows`` / ``rerank`` pick how its task-local tops
       merge, exactly as in ``similarity.knn_ivf_probe_many``: with
       ``rerank`` they come back un-merged, reranked in their tasks.

    Each pass is a map of ``indexed`` (``sources.tables.serving_map``):
    over a ``Standing`` cache both are built once, ``prepare_scorer`` (the
    index's constants) riding in the code scan's body, and a call ships
    its queries and candidates as its spec.
    """
    if not queries:
        spark = frame_of(indexed).sparkSession
        return [] if as_rows else local_frame(spark, [], probe_schema(id_col, rerank))
    prep = probe_queries(queries, centroids, n_probe)
    nsel = refine * k
    cell_filter = sql_in(cell_col, prep.union)
    scan = serving_map(
        indexed, [id_col, code_col, cell_col], partial(code_scan_task, prepare_scorer),
        f"query_id long, {id_col} long, {score_col} double",
    )
    local = scan.frame(
        CodeScanSpec(prep, nsel, code_col, code_width, id_col, cell_col, score_col),
        cell_filter,
    )
    cand_merged = merge_local_topk(
        ((r["query_id"], r[id_col], r[score_col]) for r in collect_frame(local)),
        nsel,
    )
    cand: dict[int, set] = {}
    for q, i, _s in cand_merged:
        cand.setdefault(q, set()).add(i)
    union_ids = sorted({i for s in cand.values() for i in s})
    cand_arr = {
        qid: np.asarray(sorted(s), dtype=np.int64) for qid, s in cand.items()
    }
    refine_map = serving_map(
        indexed, probe_input_cols([id_col, vec_col], rerank), rerank_task,
        probe_schema(id_col, rerank), arrow=True,
    )
    scored = refine_map.frame(
        RerankSpec(
            prep.qids, prep.qmat, prep.qnorms, cand_arr, k, id_col, vec_col, rerank
        ),
        f"{cell_filter} AND {sql_in(id_col, union_ids)}",
    )
    if rerank is not None:
        return scored
    return merge_probe_tops(scored, k, id_col, as_rows)


class CodeScanSpec(NamedTuple):
    """A code scan's spec: the batch's ``ProbeQueries``, how many
    candidates each query keeps per task, and the columns."""

    queries: ProbeQueries
    nsel: int
    code_col: str
    code_width: int
    id_col: str
    cell_col: str
    score_col: str


def code_scan_task(prepare_scorer: PrepareScorer, spec: CodeScanSpec, batches):
    """Pass 1's body: the task's batches concatenated first (one query loop
    per TASK; per-row scoring ops unchanged, so candidate selection stays
    bit-identical — the per-masked-block scorer contract), then each
    query's masked codes scored through ``prepare_scorer``'s scorer (built
    here from the spec's queries) and their task-local top ``nsel``."""
    pdfs = [pdf for pdf in batches if not pdf.empty]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    queries, nsel = spec.queries, spec.nsel
    score_masked = prepare_scorer(queries)
    codes = np.frombuffer(
        b"".join(pdf[spec.code_col]), dtype=np.uint8
    ).reshape(len(pdf), spec.code_width)
    ids = pdf[spec.id_col].to_numpy(dtype=np.int64)
    cell = pdf[spec.cell_col].to_numpy(dtype=np.int64)
    batch_cells = set(int(c) for c in np.unique(cell))
    out_q, out_i, out_s = [], [], []
    for qi in range(len(queries.qids)):
        probe = [c for c in queries.cells[qi] if int(c) in batch_cells]
        if not probe:
            continue
        mask = np.isin(cell, np.asarray(probe, dtype=np.int64))
        s = score_masked(qi, codes[mask], cell[mask])
        idsm = ids[mask]
        top = local_topk(idsm, s, nsel)
        out_q.append(np.full(top.size, queries.qids[qi]))
        out_i.append(idsm[top])
        out_s.append(s[top])
    if out_q:
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                spec.id_col: np.concatenate(out_i),
                spec.score_col: np.concatenate(out_s),
            }
        )


class RerankSpec(NamedTuple):
    """Pass 2's spec: the queries (ids, rows, 1-D norms), each query's
    candidate ids, k, the columns and the rerank inputs."""

    qids: np.ndarray
    qmat: np.ndarray
    qnorms: np.ndarray
    cand: dict
    k: int
    id_col: str
    vec_col: str
    rerank: "ProbeRerank | None"


def rerank_task(spec: RerankSpec, batches):
    """Pass 2's body: each query's exact cosines over its candidates in the
    task, and their local top-k (reranked with ``rerank``)."""
    task = task_rows(batches, [spec.id_col, spec.vec_col])
    if task is None:
        return
    rows, pdf = task
    x, norms = vector_rows(pdf[spec.vec_col])
    ids = pdf[spec.id_col].to_numpy(dtype=np.int64)
    picks = []
    for qi in range(len(spec.qids)):
        mine = spec.cand.get(int(spec.qids[qi]))
        if mine is None:
            continue
        sel = np.flatnonzero(np.isin(ids, mine))
        if not sel.size:
            continue
        cos = row_cosines(x[sel], norms[sel], spec.qmat[qi], spec.qnorms[qi])
        top = local_topk(ids[sel], cos, spec.k)
        picks.append((int(spec.qids[qi]), sel[top], cos[top]))
    if picks:
        yield topk_record_batch(rows, picks, ids, spec.id_col, spec.rerank)
