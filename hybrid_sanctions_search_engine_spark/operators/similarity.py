"""Similarity search over embedding columns: exact kNN, LSH and IVF ANN.

The reference's vector stage is an ES HNSW ``knn`` query
(``elasticsearch_adapters.py:819-843``, cosine, dims=384).  Spark-native
equivalents:

  * ``knn_bruteforce`` — exact cosine top-k as one scan: dot product via
    ``F.zip_with``/``F.aggregate`` (JVM, codegen), top-k via
    TakeOrderedAndProject.  Rank-stable; the correctness baseline.
  * ``knn_lsh`` — random-hyperplane LSH: 64-bit signatures precomputed per
    row (a narrow shuffle-free scan), query probes only rows whose signature
    is within a Hamming radius.  Exact cosine re-verifies candidates, so
    results are exact *within the probed buckets* (standard ANN recall
    trade-off).
  * ``knn_ivf_probe_many`` — inverted-file ANN over a
    ``partitionBy(ivf_cell)`` layout (and the quantized ``ivf_pq`` /
    ``ivf_sq8`` probes in pq.py / sq.py): the layouts a ``HybridSearchPlan``
    serves (``ANN_KINDS``).  Each layout has this one probe; a single query
    is a batch of one, and ``ann_recall.reference_topk`` replays it in
    numpy as the tests' reference.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_col
from ..sources.fs import fs_for
from ..sources.tables import (
    Standing,
    collect_frame,
    frame_of,
    local_frame,
    serving_map,
    sql_in,
)
from .fuzzy import rerank_row

# the ANN layouts a HybridSearchPlan serves (``ann_kind``) and
# ``streaming.incremental.fold_delta_embeddings`` folds into
ANN_KINDS = ("ivf", "ivf_pq", "ivf_sq8")


def vector_rows(vectors: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow batch's vector column as a float64 matrix (via ``tolist``)
    plus its axis-1 row norms clamped at 1e-300: the op shapes every cosine
    scorer shares, which keeps the single-query and batched refines
    bit-identical.  Module-level, so a UDF body that calls it makes its
    worker import the package (see ``functions/worker_env.py``)."""
    x = np.array(vectors.tolist(), dtype=np.float64)
    return x, np.maximum(np.linalg.norm(x, axis=1), 1e-300)


def row_cosines(
    x: np.ndarray, norms: np.ndarray, q: np.ndarray, qnorm: float
) -> np.ndarray:
    """Cosines of ``x``'s rows (``vector_rows`` norms) to one query ``q``
    (its 1-D norm ``qnorm``), each row's dot product summed by einsum's
    row-local loop, NOT a BLAS gemv: a gemv's bits depend on where a row
    sits in the matrix (its kernel blocking), so a vector's cosine would
    change with the rows that share its task, and so with the partition
    count of the cache.  Every cosine scorer calls this, so a vector's
    cosine is the same bits in any task, batch or reference."""
    return np.einsum("ij,j->i", x, q) / (norms * qnorm)


def cosine_to_query_udf(query_vec: list[float]):
    """Arrow UDF scoring a whole batch against one query: ``X @ q / (|X||q|)``.

    Spark's array HOFs (`F.zip_with`+`F.aggregate`) run *interpreted*, one
    lambda eval per element — fine at dim 8, a plan-bloating hotspot at the
    reference's real dim 384 (`config.py:192`).  One numpy matmul per Arrow
    batch replaces dim×2 interpreted evals per row."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    q = np.asarray(query_vec, dtype=np.float64)
    qn = max(float(np.linalg.norm(q)), 1e-300)

    @pandas_udf(DoubleType())
    def cos(vs: pd.Series) -> pd.Series:
        x, norms = vector_rows(vs)
        return pd.Series(row_cosines(x, norms, q, qn))

    return cos


def knn_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_score: float | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """Exact cosine top-k → (id, cos_sim) ordered (sim desc, id asc).

    ``arrow=None`` auto-picks: JVM Column cosine for narrow vectors (stays in
    codegen, zero Python), numpy Arrow UDF at dim ≥ 128 where interpreted HOF
    cost dominates (CLAUDE.md HOF rule; the reference serves dim 384)."""
    if arrow is None:
        arrow = len(query_vec) >= 128
    if arrow:
        cos = cosine_to_query_udf(query_vec)(F.col(vec_col)).alias("cos_sim")
    else:
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        cos = cosine_col(F.col(vec_col), q).alias("cos_sim")
    scored = embeddings.select(F.col(id_col), cos)
    if min_score is not None:
        scored = scored.where(F.col("cos_sim") >= min_score)
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def knn_bruteforce_many(
    embeddings: "DataFrame | Standing",
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    as_rows: bool = False,
    rerank: ProbeRerank | None = None,
) -> "DataFrame | list[tuple[int, int, float]]":
    """Exact cosine top-k for MANY queries in one shuffle-free scan →
    (query_id, id, cos_sim), per-query order (sim desc, id asc).

    This is the batched-serving counterpart of ``knn_bruteforce`` — the
    reference's vector stage is always index-served per request
    (``elasticsearch_adapters.py:819-843``); Spark's amortized equivalent for
    a query *set* is one scan scoring every query at once.  The naive shape
    (``crossJoin(queries)`` + a per-query window) materializes
    |corpus| × |queries| rows through a shuffle — the exact per-(query, doc)
    fan-out CLAUDE.md bans for BM25.  Here the fan-out never leaves the Arrow
    task: ``probe_task`` scores each record batch against every query in
    numpy and emits only the task-local top-k per query (by the compound
    (-cos, id) order, so the global merge is EXACT — ties at the k-th
    score keep the smallest id, same as ``knn_bruteforce``).
    ``as_rows`` / ``rerank`` pick the merge as in ``knn_ivf_probe_many``.

    Scoring loops one ``row_cosines`` per query instead of a single
    ``X @ Q.T`` gemm on purpose: a row's cosine is then bit-identical to
    ``cosine_to_query_udf``'s (same dtype conversion, same clamp, a
    row-local dot), whatever batch, task or query set it is scored in.
    At |queries| ≤ a few hundred the per-query loop is within ~2× of gemm
    and both are scan-dominated."""
    if not queries:
        spark = frame_of(embeddings).sparkSession
        return [] if as_rows else local_frame(spark, [], probe_schema(id_col, rerank))
    spec = probe_queries(queries).spec(k, id_col, vec_col, rerank=rerank)
    return probe_result(probe_frame(embeddings, spec), k, id_col, as_rows, rerank)


def knn_filtered(
    embeddings: DataFrame,
    query_vec: list[float],
    predicate=None,
    allowed_ids: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_filter: bool = True,
) -> DataFrame:
    """Filtered kNN — ES's ``knn.filter`` semantics: the filter applies
    DURING search, so the result is the top-k *of the filtered subset*
    (exactly k survivors when the subset has ≥ k rows), never a post-filter
    of an unfiltered top-k that can starve below k.  (The reference's
    serving substrate is an ES indexed ``dense_vector``,
    ``elasticsearch_index_manager.py:209-214``, where kNN queries take
    exactly this pre-filter.)

    ``predicate``: a Column over the embedding table's own columns —
    Catalyst pushes it into the parquet scan (PushedFilters), so the
    vector column of excluded rows is never materialized.
    ``allowed_ids``: a 1-column DataFrame of permitted ids (the
    doc-metadata form: filter the docs table, project the key) — applied
    as a semi-join, broadcast when ``broadcast_filter`` (a filter set that
    fits the driver is the common case; disable to let AQE pick a shuffle
    join for huge allow-lists).  Both may be combined.

    ANN composition: every probe in this module and in pq.py / sq.py
    takes the index DataFrame as an argument, so the same filters apply to
    an ANN-served search by passing ``indexed.where(predicate)`` or
    ``indexed.join(allowed_ids, id_col, "semi")`` — cell partition pruning
    still applies below the filter (the probes' ``ivf_cell IN`` predicate
    composes with it), and candidate selection then yields k post-filter
    survivors (recall still bounded by n_probe, as unfiltered)."""
    cand = embeddings
    if predicate is not None:
        cand = cand.where(predicate)
    if allowed_ids is not None:
        ids = allowed_ids.select(F.col(allowed_ids.columns[0]).alias(id_col))
        if broadcast_filter:
            ids = F.broadcast(ids)
        cand = cand.join(ids, id_col, "semi")
    return knn_bruteforce(cand, query_vec, k, id_col, vec_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def add_lsh_signature(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Random-hyperplane signature as an integer column (bit i = sign of the
    dot product with plane i).

    One numpy ``X @ planes.T`` per Arrow batch (the shape ``assign_ivf_cells``
    uses).  The round-2 version built an ``F.zip_with``+``F.aggregate`` chain
    per plane — 2·dim·n_planes *interpreted* lambda evals per row with the
    plane literals re-inlined into the plan (the CLAUDE.md HOF trap; it
    regressed q_knn_lsh 0.92 s → 1.96 s and would bloat the plan with
    thousands of literals at dim 384)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    planes_t = _hyperplanes(dim, n_planes, seed).T  # (dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(LongType())
    def sig(vs: pd.Series) -> pd.Series:
        x = np.array(vs.tolist(), dtype=np.float64)
        bits = (x @ planes_t) > 0
        return pd.Series(bits @ weights)

    return embeddings.withColumn(out_col, sig(F.col(vec_col)))


def lsh_signature_of(query_vec: list[float], dim: int, n_planes: int = 16, seed: int = 42) -> int:
    planes = _hyperplanes(dim, n_planes, seed)
    dots = planes @ np.asarray(query_vec, dtype=np.float64)
    return int(sum(1 << i for i, d in enumerate(dots) if d > 0))


def knn_lsh(
    embeddings_with_sig: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 16,
    seed: int = 42,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sig_col: str = "lsh_sig",
) -> DataFrame:
    """ANN top-k: probe rows whose signature is within ``max_hamming`` bits of
    the query signature (multi-probe), re-rank by exact cosine."""
    qsig = lsh_signature_of(query_vec, dim, n_planes, seed)
    hamming = F.bit_count(F.col(sig_col).bitwiseXOR(F.lit(qsig)))
    candidates = embeddings_with_sig.where(hamming <= max_hamming)
    # arrow=True at every dim: the numpy refine (``row_cosines``) is
    # bit-identical to the batched probes' on the same candidates
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------

def normalize_rows(x: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (an all-zero row stays zero)."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


def training_sample(
    embeddings: DataFrame, sample: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """The ANN trainers' one sample: the first ``sample`` rows in
    ``xxhash64(id)`` order, L2-normalized, as a float64 ``(n, dim)`` matrix.

    The plan is a TakeOrderedAndProject (a per-partition top-n, then a
    driver merge — no global sort, no shuffle) that is (a) *uniform* in the
    hash order — immune to source-clustered / id-sorted inputs that made a
    bare ``limit()`` pick one cluster's head — and (b) *deterministic*
    across runs and partition layouts (``limit`` on unordered data is
    not).  The cap makes training O(sample·dim·iters) at any corpus size."""
    rows = (
        embeddings.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    return normalize_rows(np.array([r[0] for r in rows], dtype=np.float64))


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """k-means centroids from a bounded driver-side sample (deterministic;
    ``training_sample``) — the standard IVF training shape: train on a
    sample, assign everything."""
    x = training_sample(embeddings, sample, vec_col, id_col)
    # farthest-point init (deterministic, k-means++-style): each next seed is
    # the point least similar to its nearest chosen seed — on separated
    # clusters this places exactly one seed per cluster, unlike random choice
    k_eff = min(n_centroids, len(x))
    seeds = [0]
    best_sim = x @ x[0]
    for _ in range(1, k_eff):
        nxt = int(np.argmin(best_sim))
        seeds.append(nxt)
        best_sim = np.maximum(best_sim, x @ x[nxt])
    cent = x[seeds].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(cent.shape[0]):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def assign_ivf_cells(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Add the nearest-centroid cell id (vectorized Arrow UDF; at scale the
    table is written `partitionBy(ivf_cell)` so probes prune partitions)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cent = centroids  # broadcast via closure

    @pandas_udf(IntegerType())
    def cell(vs: pd.Series) -> pd.Series:
        x = np.array(vs.tolist(), dtype=np.float64)
        x = normalize_rows(x)
        return pd.Series((x @ cent.T).argmax(axis=1).astype(np.int32))

    return embeddings.withColumn(out_col, cell(F.col(vec_col)))


# ---------------------------------------------------------------------------
# partitioned ANN storage — probes become partition-pruned scans
# ---------------------------------------------------------------------------

def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train centroids, assign cells, write ``partitionBy(ivf_cell)`` parquet
    + centroid metadata.  A probe then reads only ``n_probe`` partition
    directories (PartitionFilters) instead of filtering a full scan — the
    IVF scale path the round-1 version only promised in a docstring."""
    import os

    cents = train_ivf_centroids(
        embeddings, n_centroids, sample, iters, vec_col=vec_col, id_col=id_col
    )
    with_cell = assign_ivf_cells(embeddings, cents, vec_col=vec_col)
    (
        with_cell.repartition("ivf_cell")
        .write.mode("overwrite")
        .partitionBy("ivf_cell")
        .parquet(path)
    )
    # meta goes through fs_for like the index manifests, so non-local
    # index paths (s3/hdfs) work end-to-end (review finding, round 5)
    fs_for(path).commit_json(
        os.path.join(path, "_ivf_meta.json"),
        {"centroids": cents.tolist(), "dim": int(cents.shape[1])},
    )
    return cents


def load_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    import os

    meta = fs_for(path).read_json(os.path.join(path, "_ivf_meta.json"))
    return spark.read.parquet(path), np.asarray(meta["centroids"], dtype=np.float64)


class ProbeQueries(NamedTuple):
    """The query side of a vector probe, prepared once per call."""

    qids: np.ndarray  # int64 query ids
    qmat: np.ndarray  # float64 query rows, as given
    qnorms: np.ndarray  # their 1-D norms, clamped at 1e-300
    cells: list[np.ndarray]  # per query: its n_probe nearest cells, nearest first
    union: list[int]  # every query's probed cells, sorted

    def spec(self, k, id_col, col, key_col=None, keys=None, rerank=None) -> "ProbeSpec":
        """The call's ``ProbeSpec``: of the queries it ships only what the
        tasks read (ids, rows, norms)."""
        return ProbeSpec(self.qids, self.qmat, self.qnorms, k, id_col, col, key_col, keys, rerank)


def probe_queries(
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray | None = None,
    n_probe: int = 0,
) -> ProbeQueries:
    """The one place a vector probe decides its query prep and probe
    order: every ``*_probe_many`` and ``ann_recall.reference_topk`` call
    it.  A query's norm is its own 1-D ``np.linalg.norm`` (the bits the
    cosine refine divides by); its cells rank by centroid cosine (none
    without ``centroids``: the exact scan)."""
    qids = np.asarray([q for q, _ in queries], dtype=np.int64)
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qnorms = np.array([max(float(np.linalg.norm(v)), 1e-300) for v in qmat])
    qn = qmat / qnorms[:, None]
    cells = [
        np.argsort(-(centroids @ qn[i]))[:n_probe].astype(np.int64)
        for i in range(len(qids) if centroids is not None else 0)
    ]
    union = sorted({int(c) for cs in cells for c in cs})
    return ProbeQueries(qids, qmat, qnorms, cells, union)


def knn_ivf_probe_many(
    indexed: "DataFrame | Standing",
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    as_rows: bool = False,
    rerank: ProbeRerank | None = None,
) -> "DataFrame | list[tuple[int, int, float]]":
    """Batched IVF ANN probe in ONE map-only pass (round 6): each Arrow
    task of the pruned union-of-cells scan streams its record batches
    through ``probe_task``, scoring every query against only the rows in
    THAT query's probed cells (an in-batch cell mask), and emits the
    task-local top-k per query.

    The merge to each query's exact global top-k (same (cos desc, id asc)
    order) is picked by the arguments:

      * ``rerank`` given: none — the un-merged task-local tops come back
        lazily, each row reranked in its task (``ProbeRerank``; the probed
        frame must hold the doc-text columns).  The caller collects them
        and merges on the driver with ``merge_local_topk``, so probe +
        rerank is one job, no exchange.
      * ``as_rows=True``: on the driver, returning the merged
        (query_id, id, cos_sim) tuples (the collect is ≤ tasks ×
        |queries| × k rows — task-bounded, never corpus-sized).
      * default: a lazy per-query window over the local tops.

    This replaces the broadcast-join + global-window shape, which
    DUPLICATED each candidate row per probing query (at 960k docs × 100
    speculative queries: ~1.1M fan-out rows through the cosine UDF and the
    window exchange).  Here the fan-out never leaves the Arrow task —
    the same argument ``knn_bruteforce_many`` makes for the exact scan —
    and the task output is ≤ |queries| × k rows.

    Cosines use ``cosine_to_query_udf``'s op shapes (float64 from tolist,
    axis=1 doc norms, 1-D query norms, one ``row_cosines`` per query),
    so a cosine's bits do not depend on the task it ran in, and the local
    top-k is taken by (-cos, id), so the merge is exact;
    ``ann_recall.reference_topk`` replays this probe in numpy."""
    if not queries:
        spark = frame_of(indexed).sparkSession
        return [] if as_rows else local_frame(spark, [], probe_schema(id_col, rerank))
    prep = probe_queries(queries, centroids, n_probe)
    spec = prep.spec(k, id_col, vec_col, cell_col, prep.cells, rerank)
    local = probe_frame(indexed, spec, sql_in(cell_col, prep.union))
    return probe_result(local, k, id_col, as_rows, rerank)


# -- the one probe body: a task's batches streamed through a running top-k

class ProbeSpec(NamedTuple):
    """A vector probe call's spec, ``probe_task``'s input
    (``ProbeQueries.spec``): the query ids, rows and norms, how many rows
    each query keeps per task (``k``), the id column, the scored column
    (vectors, or byte codes), the rows each query scores — those whose
    ``key_col`` value is in ``keys[qi]`` (its probed cells, or its
    candidate ids), every row when ``keys`` is None — and the rerank
    inputs."""

    qids: np.ndarray
    qmat: np.ndarray
    qnorms: np.ndarray
    k: int
    id_col: str
    col: str
    key_col: str | None
    keys: list | None  # per query: an int array or list
    rerank: "ProbeRerank | None"


def cosine_scorer(spec: ProbeSpec):
    """``probe_task``'s cosine scorer: per batch the ``vector_rows`` of its
    vectors, then per query the ``row_cosines`` of its selected rows."""

    def batch_scorer(batch: pa.RecordBatch):
        x, norms = vector_rows(batch.column(spec.col).to_pandas())
        return lambda qi, sel: row_cosines(x[sel], norms[sel], spec.qmat[qi], spec.qnorms[qi])

    return batch_scorer


def probe_task(spec: ProbeSpec, batches, scorer=cosine_scorer):
    """Every vector probe's ``mapInArrow`` body: the task's Arrow batches
    streamed through one running top-k per query.  ``scorer(spec)`` is
    called once per task; what it returns is called once per batch and
    gives ``score(qi, sel)``, query ``qi``'s scores of the batch's rows
    ``sel``.  Each batch's ``local_topk`` of a query's rows is merged
    into the query's running top ``k`` under (score desc, id asc).
    The merge is exact and every scorer is row-local, so the tops are bit
    for bit those of the task's whole input in one block, at any batch
    size.  A task holds one batch plus |queries| × k rows: only the
    survivors' ``probe_carried_cols`` values leave their batch.  With
    ``rerank`` the final tops are reranked (``fuzzy.rerank_row``) and
    emitted with no text; the output is ≤ |queries| × k rows."""
    k = spec.k
    carried = probe_carried_cols(spec.rerank)
    score_batch = scorer(spec)
    tops: dict[int, tuple] = {}  # query index -> (ids, scores, {col: values})
    for batch in batches:
        if not batch.num_rows:
            continue
        score = score_batch(batch)
        ids = batch.column(spec.id_col).to_numpy()
        keys = None if spec.keys is None else batch.column(spec.key_col).to_numpy()
        rows = np.arange(batch.num_rows)
        for qi in range(len(spec.qids)):
            sel = (
                slice(None) if keys is None
                else np.flatnonzero(np.isin(keys, spec.keys[qi]))
            )
            pos = rows[sel]
            if not pos.size:
                continue
            s = score(qi, sel)
            top = local_topk(ids[pos], s, k)
            pos = pos[top]
            new = (ids[pos], s[top], {c: batch.column(c).take(pos) for c in carried})
            if qi in tops:
                old = tops[qi]
                cat_ids = np.concatenate([old[0], new[0]])
                cat_s = np.concatenate([old[1], new[1]])
                keep = local_topk(cat_ids, cat_s, k)
                new = (cat_ids[keep], cat_s[keep], {
                    c: pa.concat_arrays([old[2][c], new[2][c]]).take(keep)
                    for c in carried
                })
            tops[qi] = new
    if tops:
        yield topk_record_batch(spec, tops)


def probe_frame(
    rows: "DataFrame | Standing", spec: ProbeSpec, where: str | None = None,
    scorer=None,
) -> DataFrame:
    """``spec``'s task-local tops over ``rows`` as a lazy frame: one
    ``mapInArrow`` of ``probe_task`` (with ``scorer``, default cosines)
    over the columns it reads, filtered by the predicate text ``where``."""
    key = [] if spec.key_col is None else [spec.key_col]
    cols = [*dict.fromkeys([spec.id_col, spec.col, *key]), *probe_carried_cols(spec.rerank)]
    body = probe_task if scorer is None else partial(probe_task, scorer=scorer)
    schema = probe_schema(spec.id_col, spec.rerank)
    return serving_map(rows, cols, body, schema, arrow=True).frame(spec, where)


def local_topk(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the top ``k`` scores under (score desc, id asc): the
    task-local half of the engine's total order, ``merge_local_topk`` is
    the driver half.  Every UDF body that selects a local top-k calls this
    module-level function, so the worker that unpickles the body imports
    the package (see ``functions/worker_env.py``)."""
    return np.lexsort((ids, -scores))[:k]


def merge_local_topk(rows, k: int) -> list[tuple]:
    """Exact driver-side merge of task-local top-k rows → per-query global
    top-k under (score desc, id asc) — the same total order the window
    merge produced, bit-for-bit (python float compare == Spark double
    compare; ties at the k-th score keep the smallest id).  Each row is a
    tuple (query_id, id, score, *payload); the payload rides along
    untouched.  Input size is ≤ tasks × |queries| × k."""
    per_q: dict[int, list[tuple]] = {}
    for row in rows:
        per_q.setdefault(row[0], []).append(tuple(row))
    out: list[tuple] = []
    for q in sorted(per_q):
        lst = per_q[q]
        lst.sort(key=lambda t: (-t[2], t[1]))
        out.extend(lst[:k])
    return out


def probe_result(
    local: DataFrame, k: int, id_col: str, as_rows: bool,
    rerank: "ProbeRerank | None",
) -> "DataFrame | list[tuple[int, int, float]]":
    """A probe's answer from its task-local tops ``local`` (query_id, id,
    score, ...): with ``rerank`` the tops themselves, lazily (the caller
    merges them with ``merge_local_topk``); else each query's exact top-k
    under (score desc, id asc), merged on the driver (``as_rows``: the
    rows, no further job) or as a lazy per-query window over ``cos_sim``
    (a frame; one exchange)."""
    if rerank is not None:
        return local
    if as_rows:
        return merge_local_topk((tuple(r[:3]) for r in collect_frame(local)), k)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# -- probe task output: task-local top-k rows, optionally reranked in the task

# the doc-text columns a standing plan joins into its IVF-family ANN cache
# (and its delta embeddings), so a probe task reranks its hits itself
DOC_TEXT_COL = "doc_text"
HAS_DOC_COL = "has_doc"


@dataclass(frozen=True)
class ProbeRerank:
    """The rerank inputs of a probe whose tasks rerank their own task-local
    top-k rows (``fuzzy.rerank_row``): per query id its text and L10
    anchors (dates, ids), and whether the L9 fuzz rerank is on (``fuzz``).
    The probed frame must carry ``DOC_TEXT_COL`` and ``HAS_DOC_COL`` (null
    where the vector has no doc row)."""

    qtext: dict[int, str]
    anchors: dict[int, tuple[list[str], list[str]]]
    fuzz: bool

    @property
    def needs_text(self) -> bool:
        """Whether a row's rerank reads its doc text: the fuzz rerank is
        on, or a query carries anchors.  Without, ``rerank_row`` keeps the
        cosine and a multiplier of 1.0, and the probe reads no text."""
        return self.fuzz or any(d or i for d, i in self.anchors.values())


def probe_schema(id_col: str, rerank: ProbeRerank | None) -> str:
    """The DDL schema of a probe's task-local top-k rows.  With ``rerank``
    each row carries its reranked score, anchor multiplier and whether its
    vector has a doc row — no string column: the doc text stays in the
    task."""
    base = f"query_id long, {id_col} long, cos_sim double"
    if rerank is None:
        return base
    return f"{base}, score double, anchor_mult double, {HAS_DOC_COL} boolean"


def probe_carried_cols(rerank: ProbeRerank | None) -> list[str]:
    """The input columns a probe task keeps for its survivors: none
    without ``rerank``; with it whether the vector has a doc row, and its
    text when the rerank reads it — every other consumer leaves the text
    unread."""
    if rerank is None:
        return []
    return [DOC_TEXT_COL, HAS_DOC_COL] if rerank.needs_text else [HAS_DOC_COL]


def topk_record_batch(spec: ProbeSpec, tops: dict[int, tuple]) -> pa.RecordBatch:
    """A probe task's final tops as one Arrow batch (``probe_schema``):
    ``tops`` holds per query index its (ids, scores, carried columns).
    With ``rerank`` the task reranks those rows itself
    (``fuzzy.rerank_row``), so it makes Python strings for its top-k alone
    and emits none."""
    order = sorted(tops)
    qid = np.concatenate(
        [np.full(tops[qi][0].size, spec.qids[qi], np.int64) for qi in order]
    )
    score = np.concatenate([tops[qi][1] for qi in order])
    cols = {
        "query_id": pa.array(qid, pa.int64()),
        spec.id_col: pa.array(np.concatenate([tops[qi][0] for qi in order]), pa.int64()),
        "cos_sim": pa.array(score, pa.float64()),
    }
    rerank = spec.rerank
    if rerank is not None:
        carried = {
            c: pa.concat_arrays([tops[qi][2][c] for qi in order])
            for c in probe_carried_cols(rerank)
        }
        text = carried[DOC_TEXT_COL].to_pylist() if DOC_TEXT_COL in carried else [None] * qid.size
        scored = [
            rerank_row(rerank.qtext[q], t, c, rerank.anchors[q], rerank.fuzz)
            for q, t, c in zip(qid.tolist(), text, score.tolist())
        ]
        cols.update(
            score=pa.array([s for s, _ in scored], pa.float64()),
            anchor_mult=pa.array([m for _, m in scored], pa.float64()),
            **{HAS_DOC_COL: carried[HAS_DOC_COL]},
        )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def cosine_pair_udf():
    """Arrow UDF: row-wise cosine of two array columns, one numpy pass per
    batch (for wide vectors where the interpreted-HOF `cosine_col` would cost
    2·dim lambda evals per pair — the CLAUDE.md HOF rule)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        x, nx = vector_rows(a)
        y, ny = vector_rows(b)
        dots = np.einsum("ij,ij->i", x, y)
        return pd.Series(dots / (nx * ny))

    return cos


def cosine_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool | None = None,
) -> DataFrame:
    """All cross pairs with cosine ≥ threshold (use blocked inputs; the LSH
    variant in dedup.py is the scale path). Emits (id_a, id_b, cos_sim),
    id_a < id_b.  ``arrow=None`` auto-picks numpy for wide vectors (dim ≥ 128
    when the schema exposes a width) as in ``knn_bruteforce``."""
    a = left.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = right.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    if arrow:
        cos = cosine_pair_udf()(F.col("vec_a"), F.col("vec_b"))
    else:
        cos = cosine_col(F.col("vec_a"), F.col("vec_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
