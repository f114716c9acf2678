"""Scalar quantization (SQ8 / IVF-SQ8) — the int8 middle of the ANN
memory/recall Pareto front.

The reference's production vector store is an Elasticsearch indexed
``dense_vector`` field (``elasticsearch_index_manager.py:209-214``), and
ES's default ``index_options`` for indexed dense vectors is ``int8_hnsw``:
Lucene scalar-quantizes each dimension to one byte and searches the
quantized vectors, keeping floats only for re-ranking.  This module is
that quantization re-expressed on the Spark IVF layout: each L2-normalized
vector stores ONE BYTE PER DIMENSION (384-d float32 → 384 bytes, **4×
compression**) against per-dimension ``(vmin, vmax)`` trained on a bounded
deterministic sample.

Where IVF-PQ (operators/pq.py, 48 bytes, 32×) must quantize RESIDUALS to
survive clustered corpora — its 48 shared subspace codebooks otherwise
spend their resolution on cluster centers — SQ8 quantizes the RAW unit
vector: with 256 levels per *individual* dimension the within-cell offsets
ADC must rank survive quantization directly (per-dim error ≤ range/512,
accumulated dot-product noise ~1e-3 on a 384-d unit sphere), so no
centroid offset bookkeeping is needed at scan time and the encoded form
is exactly ES's.  Measured curves for both live side by side in BENCH.md;
the dial trade is: SQ8 reaches IVF-Flat recall at small ``refine`` where
PQ needs large ``refine``, at 8× the code bytes.

Serving is ``knn_ivf_sq8_probe_many``, the layout's one probe (a single
query is a batch of one), on the IVF-PQ probe's shape: the candidate scan
reads ONLY ``(id, sq_code, ivf_cell)`` (column-pruned, asserted in tests)
from the probed cells' partition directories; the approximate score is
the decoded dot

    q̂·x̃ = q̂·vmin + Σ_d q̂_d·scale_d·code_d  =  b + codes·w

computed as an elementwise multiply-reduce (row-local summation order —
candidate selection is bit-identical however rows are batched, the
property the PQ scan gets from its table lookups).  The exact re-rank
then reads raw vectors for just the ``refine·k`` survivors with the same
cosine op shapes every other vector path uses, so the ladder is
layout-blind.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.fs import fs_for
from .similarity import (
    assign_ivf_cells,
    normalize_rows,
    train_ivf_centroids,
    training_sample,
)


def train_sq8_params(
    embeddings: DataFrame,
    sample: int = 10_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension ``(vmin, vmax)`` over ``similarity.training_sample``
    (the IVF trainer's bounded deterministic sample of L2-normalized
    vectors).  Vectors outside the sampled range encode clipped — the
    1/256-step grid absorbs the tail, and the exact re-rank repairs any
    survivor ranking."""
    x = training_sample(embeddings, sample, vec_col, id_col)
    return x.min(axis=0), x.max(axis=0)


def _sq8_scale(vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    # constant dimensions quantize to code 0 and decode to vmin exactly;
    # the floor only guards the division
    return np.maximum(vmax - vmin, 1e-12) / 255.0


def _encode_sq8_block(
    x: np.ndarray, vmin: np.ndarray, vmax: np.ndarray
) -> np.ndarray:
    """(n, dim) float → (n, dim) uint8: round-to-nearest grid index."""
    scale = _sq8_scale(vmin, vmax)
    return np.clip(np.rint((x - vmin) / scale), 0, 255).astype(np.uint8)


def encode_sq8(
    embeddings: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
) -> DataFrame:
    """Append the dim-byte SQ8 code (BinaryType) — one Arrow-batch numpy
    pass, no shuffle.  Unlike ``encode_pq`` there is no residual form:
    codes quantize the normalized vector itself (the ES int8 encoding)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    lo, hi = vmin, vmax  # closure broadcast (2 × dim float64 ≈ 6 KB)

    @pandas_udf(BinaryType())
    def code(vs: pd.Series) -> pd.Series:
        x = normalize_rows(np.array(vs.tolist(), dtype=np.float64))
        codes = _encode_sq8_block(x, lo, hi)
        return pd.Series([c.tobytes() for c in codes])

    return embeddings.withColumn(out_col, code(F.col(vec_col)))


def _sq8_query_form(
    query_vec: list[float], vmin: np.ndarray, vmax: np.ndarray
) -> tuple[np.ndarray, float]:
    """(w, b) with  q̂·decode(codes) = codes·w + b  — w = q̂∘scale, b = q̂·vmin."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    return q * _sq8_scale(vmin, vmax), float(q @ vmin)


def _sq8_scores(codes: np.ndarray, w: np.ndarray, b: float) -> np.ndarray:
    # elementwise multiply + per-row reduce, NOT a BLAS gemv: each row's
    # sum order is row-local, so candidate selection is bit-identical
    # between the probe's masked task rows and reference_topk's block
    return (codes * w).sum(axis=1) + b


def sq8_scorer(vmin: np.ndarray, vmax: np.ndarray):
    """The decoded-dot code score, as a ``fused_probe.PrepareScorer``:
    given the query rows (``ProbeSpec.qmat``), a ``score_masked(qi, codes, cells)``
    returning ``codes·w + b`` per row (``_sq8_query_form``).  The probe and
    ``ann_recall.reference_topk`` both score through it.  A partial of a
    module-level function over the index's arrays, so a standing cache
    keeps one probe map for it (``sources.tables.Standing``)."""
    return partial(sq8_prepare, vmin, vmax)


def sq8_prepare(vmin: np.ndarray, vmax: np.ndarray, qmat: np.ndarray):
    # per-query _sq8_query_form calls, never a fused matrix form: a
    # query's (w, b) must not depend on which queries share its batch
    forms = [_sq8_query_form(v, vmin, vmax) for v in qmat]
    return partial(sq8_score_masked, forms)


def sq8_score_masked(forms, qi: int, codes_m: np.ndarray, cell_m: np.ndarray):
    w, b = forms[qi]
    return _sq8_scores(codes_m, w, b)


def write_ivf_sq8_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """IVF-SQ8 layout: ``partitionBy(ivf_cell)`` parquet carrying
    ``(id, sq_code, embedding)`` + centroid/quantizer metadata.  Probes
    prune partitions (IVF), scan the byte codes, and re-rank survivors
    exactly from the vector column of the same pruned partitions."""
    cents = train_ivf_centroids(
        embeddings, n_centroids, sample, iters, vec_col=vec_col, id_col=id_col
    )
    vmin, vmax = train_sq8_params(embeddings, sample, vec_col, id_col)
    coded = encode_sq8(
        assign_ivf_cells(embeddings, cents, vec_col=vec_col), vmin, vmax, vec_col
    )
    (
        coded.repartition("ivf_cell")
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    fs_for(path).commit_json(
        os.path.join(path, "_ivf_sq8_meta.json"),
        {
            "centroids": cents.tolist(),
            "vmin": vmin.tolist(),
            "vmax": vmax.tolist(),
            "dim": int(cents.shape[1]),
        },
    )
    return cents, vmin, vmax


def load_ivf_sq8_index(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray, np.ndarray]:
    meta = fs_for(path).read_json(os.path.join(path, "_ivf_sq8_meta.json"))
    return (
        spark.read.parquet(path),
        np.asarray(meta["centroids"], dtype=np.float64),
        np.asarray(meta["vmin"], dtype=np.float64),
        np.asarray(meta["vmax"], dtype=np.float64),
    )


def knn_ivf_sq8_probe_many(
    indexed: DataFrame,
    centroids: np.ndarray,
    vmin: np.ndarray,
    vmax: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 3,
    refine: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    as_rows: bool = False,
    rerank=None,
) -> "DataFrame | list[tuple[int, int, float]]":
    """IVF-SQ8 probe → (query_id, id, cos_sim): the fused
    ``knn_ivf_pq_probe_many`` two-pass shape — one map-only code scan over
    the union of all queries' probed cells (per-query cell mask +
    ``sq8_scorer``'s decoded dot + task-local top ``refine·k``, merged on
    the driver), one exact re-rank pass over the candidate union.
    Candidate SELECTION is bit-identical to ``ann_recall.reference_topk``
    (``_sq8_scores``'s row-local reduce + the (−score, id) tie-break), and
    so are the re-ranked cosines (``similarity.row_cosines``).  ``refine`` defaults to 2 (PQ defaults to 4): per-dimension
    8-bit quantization noise is ~1e-3 on the cosine, so candidate
    selection is already near-exact — the dial exists for corpora whose
    true top-k are packed tighter than the grid (curves in BENCH.md).
    ``as_rows`` / ``rerank`` pick how the re-ranked tops merge."""
    from .fused_probe import fused_cell_probe_many

    return fused_cell_probe_many(
        indexed, centroids, queries,
        code_col="sq_code", code_width=centroids.shape[1], score_col="sq_score",
        prepare_scorer=sq8_scorer(vmin, vmax), k=k, n_probe=n_probe,
        refine=refine, id_col=id_col, vec_col=vec_col, cell_col=cell_col,
        as_rows=as_rows, rerank=rerank,
    )
