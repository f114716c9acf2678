"""Product quantization (PQ / IVF-PQ) — the memory-bounded ANN scale path.

The reference's ANN backends store FULL float vectors (ES dense_vector HNSW,
``elasticsearch_index_manager.py:209-214``; FAISS ``IndexHNSWFlat``,
``vector_index_service.py:75-77``).  At web scale that dominates memory:
1 B docs × 384-d float32 = **1.5 TB** of raw vectors.  PQ (Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
the method FAISS's own ``IndexIVFPQ`` implements) splits each L2-normalized
vector into ``m`` subspaces and stores ONE BYTE per subspace (a 256-entry
codebook each): 384-d float32 → 48 bytes, **32× compression** (≈56 GB with
ids at 1 B docs — broadcastable per-cell working sets instead of a
re-shard).

Serving is Asymmetric Distance Computation (ADC): per query build an
``m × 256`` lookup table of subspace dot products (the query stays
full-precision — that's the "asymmetric" part), then every candidate's
approximate cosine is a sum of ``m`` table lookups — a numpy fancy-index
over the code matrix, no decode, no gemm, and the code scan reads ONLY
``(id, pq_code, ivf_cell)`` (column-pruned; asserted in tests).  The
exact re-rank then touches raw vectors for just the top ``refine·k``
survivors, so results converge to exact as ``refine`` grows (parity with
brute force when the candidate set covers the probed cells is pinned in
tests).

Layout composes with the existing IVF partitioning
(``similarity.write_ivf_index``): ``write_ivf_pq_index`` writes
``partitionBy(ivf_cell)`` parquet carrying ``(id, pq_code, embedding)`` so
``knn_ivf_pq_probe_many`` — the layout's one probe; a single query is a
batch of one — prunes to the probed partition directories, ADC-scans
their code column, and re-ranks survivors from the same files' vector
column via an ``id IN (...)`` pushed filter.  All numpy stages are
Arrow-vectorized; nothing here is row-at-a-time Python.

Codes quantize the RESIDUAL ``x̂ − centroid(cell)`` (FAISS IndexIVFPQ's
encoding), not the raw vector: on clustered corpora the members of one
cell differ only by small offsets, and quantizing x̂ directly drowns those
offsets in reconstruction error (measured on the 20k/384-d clustered
fixture at n_probe=4, refine=8: recall@10 rose 0.46 → 0.60 member and
0.56 → 0.89 boundary after the switch).  The identity
``q̂·x̂ = q̂·centroid + q̂·residual`` keeps ADC exact-form: the scan adds
each row's per-cell ``q̂·centroid`` offset (the cell id is a hive
partition value already in the pruned scan — no extra IO).
"""

from __future__ import annotations

import os

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


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 48,
    nbits: int = 8,
    sample: int = 10_000,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace k-means codebooks → ``(m, 2**nbits, dim//m)`` float64.

    Trains on ``similarity.training_sample`` (the IVF trainer's
    deterministic bounded sample); vectors are L2-normalized BEFORE
    splitting so the ADC sum of subspace dots approximates cosine
    directly.  ``nbits`` (and ``m`` against the centroids' dim) are checked
    before the sample's Spark job.  Subspace training is
    plain Euclidean Lloyd (minimum reconstruction MSE — the PQ objective)
    with farthest-point init, k_eff = min(2**nbits, n_sample).

    With ``centroids`` (the trained IVF centroids), codebooks train on the
    RESIDUALS ``x̂ − c(x̂)`` — FAISS IndexIVFPQ's encoding.  On a clustered
    corpus the raw vectors of one cell differ only by small within-cluster
    offsets; quantizing x̂ directly spends the codebook's resolution on the
    cluster centers and drowns those offsets in reconstruction error
    (measured: member recall@10 0.46 at refine=8 on the 20k fixture).
    Quantizing the residual spends it on exactly the differences ADC must
    rank, and the identity ``q̂·x̂ = q̂·c + q̂·r`` keeps scoring exact-form:
    the per-cell ``q̂·c`` offset is added at scan time."""
    if nbits > 8:
        # every scan layers 1 byte/subspace (tobytes/frombuffer uint8);
        # wider codes would silently wrap modulo 256 in _encode_block
        raise ValueError(f"nbits={nbits} unsupported: codes are 1 byte/subspace")
    if centroids is not None and centroids.shape[1] % m:
        raise ValueError(f"m={m} must divide dim={centroids.shape[1]}")
    x = training_sample(embeddings, sample, vec_col, id_col)
    if centroids is not None:
        x = x - centroids[(x @ centroids.T).argmax(axis=1)]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    k = 2**nbits
    k_eff = min(k, len(x))
    books = np.zeros((m, k, dsub), dtype=np.float64)
    for j in range(m):
        xj = x[:, j * dsub : (j + 1) * dsub]
        # farthest-point init on squared distance to the nearest chosen seed
        seeds = [0]
        d2 = ((xj - xj[0]) ** 2).sum(axis=1)
        for _ in range(1, k_eff):
            nxt = int(np.argmax(d2))
            seeds.append(nxt)
            d2 = np.minimum(d2, ((xj - xj[nxt]) ** 2).sum(axis=1))
        cent = xj[seeds].copy()
        for _ in range(iters):
            # argmin ||x−c||² = argmax (x·c − ||c||²/2) — one gemm per iter
            sims = xj @ cent.T - 0.5 * (cent**2).sum(axis=1)
            assign = sims.argmax(axis=1)
            for c in range(cent.shape[0]):
                members = xj[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, :k_eff] = cent
        if k_eff < k:  # degenerate tiny sample: pad with the first centroid
            books[j, k_eff:] = cent[0]
    return books


def _encode_block(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) float → (n, m) uint8 codes (nearest subspace centroid)."""
    n, dim = x.shape
    m, _, dsub = books.shape
    codes = np.empty((n, m), dtype=np.uint8)
    for j in range(m):
        xj = x[:, j * dsub : (j + 1) * dsub]
        sims = xj @ books[j].T - 0.5 * (books[j] ** 2).sum(axis=1)
        codes[:, j] = sims.argmax(axis=1).astype(np.uint8)
    return codes


def encode_pq(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    centroids: np.ndarray | None = None,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Append the ``m``-byte PQ code (BinaryType) — one Arrow batch gemm
    chain per subspace, no shuffle.

    With ``centroids``, codes quantize the RESIDUAL ``x̂ − centroids[cell]``
    using the row's ALREADY-ASSIGNED ``cell_col`` (never re-deriving the
    nearest centroid here — ties must resolve identically to
    ``assign_ivf_cells`` or code and cell disagree)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    books = codebooks  # broadcast via closure (m·256·dsub floats ≈ 786 KB)

    if centroids is None:

        @pandas_udf(BinaryType())
        def code(vs: pd.Series) -> pd.Series:
            x = normalize_rows(np.array(vs.tolist(), dtype=np.float64))
            codes = _encode_block(x, books)
            return pd.Series([c.tobytes() for c in codes])

        return embeddings.withColumn(out_col, code(F.col(vec_col)))

    cents = centroids

    @pandas_udf(BinaryType())
    def code_residual(vs: pd.Series, cells: pd.Series) -> pd.Series:
        x = normalize_rows(np.array(vs.tolist(), dtype=np.float64))
        r = x - cents[cells.to_numpy(dtype=np.int64)]
        codes = _encode_block(r, books)
        return pd.Series([c.tobytes() for c in codes])

    return embeddings.withColumn(
        out_col, code_residual(F.col(vec_col), F.col(cell_col))
    )


def adc_lookup_table(query_vec: list[float], codebooks: np.ndarray) -> np.ndarray:
    """(m, 2**nbits) table: entry [j, c] = q_subspace_j · codebook[j, c].
    Approximate cosine of a coded doc = sum_j table[j, code_j] (unit-norm
    corpus vectors; the query is normalized here)."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    m, _, dsub = codebooks.shape
    return np.einsum("mkd,md->mk", codebooks, q.reshape(m, dsub))


def adc_scorer(centroids: np.ndarray, codebooks: np.ndarray):
    """The residual ADC code score, as a ``fused_probe.PrepareScorer``:
    given a batch's ``ProbeQueries``, a ``score_masked(qi, codes, cells)``
    returning ``q̂·c(cell) + Σ_j lut[j, code_j]`` per row.  The probe and
    ``ann_recall.reference_topk`` both score through it."""
    cols = np.arange(codebooks.shape[0])

    def prepare(queries):
        # per-query adc_lookup_table calls and centroid gemvs, NOT one 3-D
        # einsum / one gemm: a fused contraction can sum in a different
        # order, so a query's scores would depend on which queries share
        # its batch, and a last-ulp drift flips candidate selection at the
        # refine boundary
        luts = [adc_lookup_table(v, codebooks) for v in queries.qmat]
        cent_dots = [centroids @ v for v in queries.qn]

        def score_masked(
            qi: int, codes_m: np.ndarray, cell_m: np.ndarray
        ) -> np.ndarray:
            return luts[qi][cols, codes_m].sum(axis=1) + cent_dots[qi][cell_m]

        return score_masked

    return prepare


def write_ivf_pq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 48,
    nbits: int = 8,
    sample: int = 10_000,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[np.ndarray, np.ndarray]:
    """IVF-PQ layout: ``partitionBy(ivf_cell)`` parquet carrying
    ``(id, pq_code, embedding)`` + centroid/codebook metadata.  Probes
    prune partitions (IVF), ADC-scan the byte codes, and re-rank survivors
    exactly from the vector column of the same pruned partitions."""
    cents = train_ivf_centroids(
        embeddings, n_centroids, sample, iters, vec_col=vec_col, id_col=id_col
    )
    books = train_pq_codebooks(
        embeddings, m, nbits, sample, iters, vec_col=vec_col, id_col=id_col,
        centroids=cents,
    )
    coded = encode_pq(
        assign_ivf_cells(embeddings, cents, vec_col=vec_col), books, vec_col,
        centroids=cents,
    )
    (
        coded.repartition("ivf_cell")
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    fs_for(path).commit_json(
        os.path.join(path, "_ivf_pq_meta.json"),
        {
            "centroids": cents.tolist(),
            "codebooks": books.tolist(),
            "dim": int(cents.shape[1]),
            "m": int(m),
            "nbits": int(nbits),
            "residual": True,
        },
    )
    return cents, books


def load_ivf_pq_index(spark, path: str) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    meta = fs_for(path).read_json(os.path.join(path, "_ivf_pq_meta.json"))
    if not meta.get("residual"):
        # codes quantizing raw vectors would silently mis-rank under the
        # residual ADC offsets — refuse rather than serve wrong candidates
        raise ValueError(
            "pre-residual ivf_pq index format; rebuild with write_ivf_pq_index"
        )
    return (
        spark.read.parquet(path),
        np.asarray(meta["centroids"], dtype=np.float64),
        np.asarray(meta["codebooks"], dtype=np.float64),
    )


def knn_ivf_pq_probe_many(
    indexed: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 3,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    as_rows: bool = False,
    rerank=None,
) -> "DataFrame | list[tuple[int, int, float]]":
    """IVF-PQ probe → (query_id, id, cos_sim): TWO map-only passes for
    the whole query set (the ``knn_ivf_probe_many`` fused shape — the
    per-(query, doc) fan-out never leaves the Arrow task).

    1. ADC pass over the union of all queries' probed cells, reading only
       ``(id, pq_code, cell)``: each task masks every query to ITS probed
       cells, scores the masked codes through ``adc_scorer`` (one
       fancy-index sum plus the per-cell offset), and emits the task-local
       top ``refine·k``; a driver merge picks each query's global
       candidates (the collect is task-bounded, never a corpus-sized set).
    2. exact re-rank pass over ``id IN (∪ candidates)`` from the same
       pruned partitions: per-query gemv with ``cosine_to_query_udf``'s
       dtype ops (float64 tolist, axis-1 norms, 1e-300 clamps, raw-query
       gemv).

    Candidate SELECTION is bit-identical to ``ann_recall.reference_topk``
    (same scorer, same (−score, id) tie-break); its re-ranked cosines
    agree at 9 decimals with exact id sets (BLAS dgemv bits depend on the
    matrix row count).  ``refine`` is the recall dial: results converge to
    the IVF-Flat probe as it grows and equal brute force once the probe
    covers every cell and ``refine·k`` every row (pinned in tests).
    ``as_rows`` / ``rerank`` pick how the re-ranked tops merge (see
    ``fused_probe.fused_cell_probe_many``)."""
    from .fused_probe import fused_cell_probe_many

    return fused_cell_probe_many(
        indexed, centroids, queries,
        code_col="pq_code", code_width=codebooks.shape[0], score_col="adc_score",
        prepare_scorer=adc_scorer(centroids, codebooks), k=k, n_probe=n_probe,
        refine=refine, id_col=id_col, vec_col=vec_col, cell_col=cell_col,
        as_rows=as_rows, rerank=rerank,
    )
