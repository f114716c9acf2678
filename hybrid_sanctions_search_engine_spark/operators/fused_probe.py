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
in one block through the same injected scorer, while the probe task
(``similarity.probe_task``) calls it once per query on each Arrow
batch's masked rows and keeps a running top-k across the batches.  So
the scorer must perform row-local operations on ``codes[mask]`` — never
a fused multi-query contraction, whose different BLAS summation order
drifts the last ulp and flips selection at the refine boundary — and a
row's score is then the same bits in any batch block.  Re-ranked cosines
are row-local too (``similarity.row_cosines``), so they do not depend on
which rows share a batch or a task.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..sources.tables import Standing, frame_of, local_frame, sql_in
from .similarity import (
    ProbeRerank,
    ProbeSpec,
    probe_frame,
    probe_queries,
    probe_result,
    probe_schema,
)

# prepare_scorer(query rows) -> score_masked(qi, masked_codes, masked_cells) -> scores
PrepareScorer = Callable[
    [np.ndarray], Callable[[int, np.ndarray, np.ndarray], np.ndarray]
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
       builds in the task (``code_scorer``), and emits the task-local top
       ``refine·k`` under the (−score, id) tie-break; a DRIVER-side merge
       picks each query's global candidates under the same total order
       the former window produced (round 7 — two window exchanges per
       probe were pure stage floors; collects stay ≤
       tasks·|queries|·refine·k rows, never corpus-sized).
    2. exact re-rank pass over ``id IN (∪ candidates)`` from the same
       pruned partitions: per-query ``row_cosines`` with
       ``cosine_to_query_udf``'s dtype ops (float64 tolist, axis-1 norms,
       1e-300 clamps, raw query).  ``as_rows`` / ``rerank`` pick how its task-local tops
       merge, exactly as in ``similarity.knn_ivf_probe_many``: with
       ``rerank`` they come back un-merged, reranked in their tasks.

    Both passes run ``similarity.probe_task`` over a map of ``indexed``
    (``sources.tables.serving_map``): over a ``Standing`` cache each map
    is built once, ``prepare_scorer`` (the index's constants) riding in
    the code scan's body, and a call ships its queries and candidates as
    its spec.  The scan emits its code score as ``cos_sim`` (nothing reads
    it by name); ``score_col`` is accepted and unused.
    """
    if not queries:
        spark = frame_of(indexed).sparkSession
        return [] if as_rows else local_frame(spark, [], probe_schema(id_col, rerank))
    prep = probe_queries(queries, centroids, n_probe)
    nsel = refine * k
    cell_filter = sql_in(cell_col, prep.union)
    scan = prep.spec(nsel, id_col, code_col, cell_col, prep.cells)
    local = probe_frame(
        indexed, scan, cell_filter, partial(code_scorer, prepare_scorer, code_width)
    )
    cand: dict[int, list] = {}
    for q, i, _s in probe_result(local, nsel, id_col, True, None):
        cand.setdefault(q, []).append(i)
    keys = [cand.get(int(q), []) for q in prep.qids]  # int lists pickle compactly
    union_ids = sorted({i for ids in cand.values() for i in ids})
    spec = prep.spec(k, id_col, vec_col, id_col, keys, rerank)
    scored = probe_frame(
        indexed, spec, f"{cell_filter} AND {sql_in(id_col, union_ids)}"
    )
    return probe_result(scored, k, id_col, as_rows, rerank)


def code_scorer(prepare_scorer: PrepareScorer, code_width: int, spec: ProbeSpec):
    """``similarity.probe_task``'s code scorer: ``prepare_scorer``'s
    ``score_masked`` built once per task from the spec's query rows, then per
    batch its byte codes as a ``code_width``-wide matrix, each query's
    selected rows scored with their cells (``spec.key_col``)."""
    score_masked = prepare_scorer(spec.qmat)

    def batch_scorer(batch: pa.RecordBatch):
        codes = np.frombuffer(
            b"".join(batch.column(spec.col).to_pylist()), dtype=np.uint8
        ).reshape(batch.num_rows, code_width)
        cells = batch.column(spec.key_col).to_numpy()
        return lambda qi, sel: score_masked(qi, codes[sel], cells[sel])

    return batch_scorer
