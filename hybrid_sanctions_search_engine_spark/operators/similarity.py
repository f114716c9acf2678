"""Similarity search over embedding columns: exact kNN + LSH-bucketed ANN.

The reference's vector stage is an ES HNSW ``knn`` query
(``elasticsearch_adapters.py:819-843``, cosine, dims=384).  Spark-native
equivalents:

  * ``knn_bruteforce`` — exact cosine top-k as one scan: dot product via
    ``F.zip_with``/``F.aggregate`` (JVM, codegen), top-k via
    TakeOrderedAndProject.  Rank-stable; the correctness baseline.
  * ``knn_lsh`` — random-hyperplane LSH: 64-bit signatures precomputed per
    row (a narrow shuffle-free scan), query probes only rows whose signature
    band matches → at web scale the scan prunes to a few buckets (partition
    by band on write).  Exact cosine re-verifies candidates, so results are
    exact *within the probed buckets* (standard ANN recall trade-off).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_col
from ..sources.fs import fs_for
from ..sources.tables import local_frame


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
        x = np.array(vs.tolist(), dtype=np.float64)
        norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        return pd.Series((x @ q) / (norms * qn))

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
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for MANY queries in one shuffle-free scan →
    (query_id, id, cos_sim), per-query order (sim desc, id asc).

    This is the batched-serving counterpart of ``knn_bruteforce`` — the
    reference's vector stage is always index-served per request
    (``elasticsearch_adapters.py:819-843``); Spark's amortized equivalent for
    a query *set* is one scan scoring every query at once.  The naive shape
    (``crossJoin(queries)`` + a per-query window) materializes
    |corpus| × |queries| rows through a shuffle — the exact per-(query, doc)
    fan-out CLAUDE.md bans for BM25.  Here the fan-out never leaves the Arrow
    task: ``mapInPandas`` scores each record batch against the whole query
    matrix in numpy and emits only the batch-local top-k per query (by the
    compound (-cos, id) order, so the global window merge is EXACT — ties at
    the k-th score keep the smallest id, same as ``knn_bruteforce``).

    Scoring loops one ``X @ q`` gemv per query instead of a single
    ``X @ Q.T`` gemm on purpose: the gemv path is bit-identical to
    ``cosine_to_query_udf`` (same dtype conversion, same clamp), so
    ``search_many`` reproduces ``search()``'s scores exactly — the parity
    tests compare at 9 decimals.  At |queries| ≤ a few hundred the gemv loop
    is within ~2× of gemm and both are scan-dominated."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    out_schema = f"query_id long, {id_col} long, cos_sim double"
    if not queries:
        return local_frame(spark, [], out_schema)
    qids = np.asarray([q for q, _ in queries], dtype=np.int64)
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qnorms = np.maximum(np.linalg.norm(qmat, axis=1), 1e-300)
    nq = len(qids)
    kk = k

    def score_batches(it):
        import pandas as pd

        for pdf in it:
            if pdf.empty:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
            out_q, out_i, out_s = [], [], []
            for qi in range(nq):
                cos = (x @ qmat[qi]) / (norms * qnorms[qi])
                top = np.lexsort((ids, -cos))[:kk]
                out_q.append(np.full(top.size, qids[qi]))
                out_i.append(ids[top])
                out_s.append(cos[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    local = embeddings.select(id_col, vec_col).mapInPandas(
        score_batches, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


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
    # arrow=True at every dim: the numpy gemv refine is bit-identical
    # to the batched cosine_vs_queries_udf on the same candidates, so
    # search() and search_many() score ANN hits identically
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """k-means centroids from a bounded driver-side sample (deterministic).

    The sample cap makes this O(sample·dim·iters) regardless of corpus size —
    the standard IVF training shape (train on a sample, assign everything).

    Sampling orders by ``xxhash64(id)`` and takes the first ``sample`` rows:
    a TakeOrderedAndProject (no full sort shuffle) that is (a) *uniform* in
    the hash order — immune to source-clustered / id-sorted inputs that made
    a bare ``limit()`` pick one cluster's head — and (b) *deterministic*
    across runs and partition layouts (``limit`` on unordered data is not)."""
    rows = (
        embeddings.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
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
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ cent.T).argmax(axis=1).astype(np.int32))

    return embeddings.withColumn(out_col, cell(F.col(vec_col)))


def knn_ivf(
    embeddings_with_cell: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """ANN top-k: probe the ``n_probe`` cells nearest the query, exact cosine
    inside them. Recall/latency dial = n_probe (n_probe = n_centroids ⇒
    exact)."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(centroids @ q))[:n_probe].tolist()
    candidates = embeddings_with_cell.where(F.col(cell_col).isin(probe))
    # arrow=True at every dim: the numpy gemv refine is bit-identical
    # to the batched cosine_vs_queries_udf on the same candidates, so
    # search() and search_many() score ANN hits identically
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


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


def knn_ivf_probe(
    indexed: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k over a ``write_ivf_index`` dataset: the ``ivf_cell IN (...)``
    predicate on the partition column prunes the scan to n_probe directories
    (asserted via input_file_name in tests), then exact cosine re-ranks."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(c) for c in np.argsort(-(centroids @ q))[:n_probe]]
    candidates = indexed.where(F.col("ivf_cell").isin(probe))
    # arrow=True at every dim: the numpy gemv refine is bit-identical
    # to the batched cosine_vs_queries_udf on the same candidates, so
    # search() and search_many() score ANN hits identically
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


def knn_ivf_probe_many(
    indexed: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    as_rows: bool = False,
) -> "DataFrame | list[tuple[int, int, float]]":
    """Batched IVF ANN probe in ONE map-only pass (round 6): each Arrow
    batch of the pruned union-of-cells scan scores every query against only
    the rows in THAT query's probed cells (an in-task cell mask), emits the
    task-local top-k per query, and a DRIVER-side merge picks each query's
    exact global top-k under the same (cos desc, id asc) order the former
    window produced (round 7: the window exchange + its broadcast-rebuild
    in downstream joins cost ~0.15-0.2 s of stage floors per batch; the
    collect is ≤ tasks × |queries| × k rows — task-bounded, never corpus-
    sized).  ``as_rows=True`` returns the merged (query_id, id, cos_sim)
    tuples directly (the ladder consumes rows anyway); default returns a
    DataFrame of exactly those rows.

    This replaces the broadcast-join + global-window shape, which
    DUPLICATED each candidate row per probing query (at 960k docs × 100
    speculative queries: ~1.1M fan-out rows through the cosine UDF and the
    window exchange).  Here the fan-out never leaves the Arrow task —
    the same argument ``knn_bruteforce_many`` makes for the exact scan —
    and the task output is ≤ |queries| × k rows per batch.

    Bit-parity: same op shapes as the single-query refine
    (``cosine_to_query_udf`` / ``knn_bruteforce_many`` — float64 from
    tolist, axis=1 doc norms, 1-D query norms, one gemv per query, local
    top-k by (-cos, id) making the window merge exact), so
    search() ≡ search_many() holds on ANN-served plans."""
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
    cells = [
        np.argsort(-(centroids @ qn[i]))[:n_probe].astype(np.int64)
        for i in range(len(qids))
    ]
    union = sorted({int(c) for cs in cells for c in cs})
    nq, kk = len(qids), k

    def score(it):
        # concatenate the task's Arrow batches FIRST: the nq-query mask+gemv
        # loop then runs once per TASK instead of once per ~10k-row batch
        # (a 960k scan is ~96 batches over ~30 tasks — 3× fewer Python loop
        # iterations, identical per-row float ops so results are bit-equal;
        # memory stays bounded by the task's partition of (id, vec, cell)).
        pdfs = [pdf for pdf in it if not pdf.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        cell = pdf[cell_col].to_numpy(dtype=np.int64)
        norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        batch_cells = set(int(c) for c in np.unique(cell))
        out_q, out_i, out_s = [], [], []
        for qi in range(nq):
            probe = [c for c in cells[qi] if int(c) in batch_cells]
            if not probe:
                continue
            mask = np.isin(cell, np.asarray(probe, dtype=np.int64))
            xs = x[mask]
            cos = (xs @ qmat[qi]) / (norms[mask] * qnorms[qi])
            idsm = ids[mask]
            top = np.lexsort((idsm, -cos))[:kk]
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

    local = (
        indexed.where(F.col(cell_col).isin(union))
        .select(id_col, vec_col, cell_col)
        .mapInPandas(score, out_schema)
    )
    if as_rows:
        # rerank-free serving: merge the task-local tops on the DRIVER
        # (collect ≤ tasks × nq × k rows) — no window exchange, no
        # further job for the consumer
        return merge_local_topk(
            ((r["query_id"], r[id_col], r["cos_sim"]) for r in local.collect()),
            k,
        )
    # lazy subplan (default): consumers that JOIN the hits downstream keep
    # the whole probe+merge+join as ONE Spark action
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def merge_local_topk(
    rows, k: int
) -> list[tuple[int, int, float]]:
    """Exact driver-side merge of task-local top-k rows → per-query global
    top-k under (score desc, id asc) — the same total order the window
    merge produced, bit-for-bit (python float compare == Spark double
    compare; ties at the k-th score keep the smallest id).  Input size is
    ≤ tasks × |queries| × k."""
    per_q: dict[int, list[tuple[int, int, float]]] = {}
    for q, i, s in rows:
        per_q.setdefault(q, []).append((q, i, s))
    out: list[tuple[int, int, float]] = []
    for q in sorted(per_q):
        lst = per_q[q]
        lst.sort(key=lambda t: (-t[2], t[1]))
        out.extend(lst[:k])
    return out


_LSH_TOP_BITS = 8


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Signature + ``partitionBy(lsh_band)`` parquet, band = top 8 signature
    bits.  Any candidate within total Hamming ≤ h of the query is within
    Hamming ≤ h in the band too, so a probe reads only the Σ C(8,i), i≤h
    matching band directories (37/256 at h=2) — partition-pruned multi-probe."""
    import os

    with_sig = add_lsh_signature(embeddings, dim, n_planes, seed, vec_col)
    banded = with_sig.withColumn(
        "lsh_band",
        F.shiftrightunsigned(F.col("lsh_sig"), n_planes - _LSH_TOP_BITS)
        .bitwiseAND(F.lit((1 << _LSH_TOP_BITS) - 1))
        .cast("int"),
    )
    banded.repartition("lsh_band").write.mode("overwrite").partitionBy(
        "lsh_band"
    ).parquet(path)
    fs_for(path).commit_json(
        os.path.join(path, "_lsh_meta.json"),
        {"dim": dim, "n_planes": n_planes, "seed": seed},
    )


def knn_lsh_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    df: DataFrame | None = None,
) -> DataFrame:
    """Partition-pruned LSH ANN: enumerate the band values within
    ``max_hamming`` of the query's band (bounded: Σ C(8,i)), prune the scan
    to those directories, then exact-signature Hamming filter + cosine.
    ``df``: pre-loaded (typically cached) index DataFrame — a standing
    server passes its persisted handle instead of re-reading parquet."""
    import itertools
    import os

    meta = fs_for(path).read_json(os.path.join(path, "_lsh_meta.json"))
    n_planes = meta["n_planes"]
    qsig = lsh_signature_of(query_vec, meta["dim"], n_planes, meta["seed"])
    qband = (qsig >> (n_planes - _LSH_TOP_BITS)) & ((1 << _LSH_TOP_BITS) - 1)
    bands = set()
    for h in range(max_hamming + 1):
        for flips in itertools.combinations(range(_LSH_TOP_BITS), h):
            b = qband
            for f in flips:
                b ^= 1 << f
            bands.add(b)
    if df is None:
        df = spark.read.parquet(path)
    candidates = df.where(F.col("lsh_band").isin(sorted(bands))).where(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
    )
    # arrow=True at every dim: the numpy gemv refine is bit-identical
    # to the batched cosine_vs_queries_udf on the same candidates, so
    # search() and search_many() score ANN hits identically
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


def write_lsh_multiband_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_bands: int = 8,
    band_bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """OR-amplified banded LSH (the classic b×r construction): the
    ``n_bands × band_bits``-plane signature splits into ``n_bands``
    independent bands; a vector is a candidate if ANY band matches the
    query's exactly.  For same-cluster cosine c the per-band match
    probability is ``(1 − arccos(c)/π)^band_bits`` and the OR over bands
    amplifies it to ``1 − (1−p)^n_bands`` — much better recall than the
    single-signature multi-probe layout at the same probe cost (measured:
    BENCH.md ANN recall table).

    Layout: rows duplicated per band, written
    ``partitionBy(lsh_band_idx, lsh_band_val)`` — a probe reads exactly
    ``n_bands`` partition directories by EQUALITY (no Hamming enumeration),
    each holding ~n/2^band_bits rows.  The ×n_bands storage is the
    standard LSH trade (every bucket stores its members); the embedding
    rides along so the exact rerank needs no join back."""
    import os

    with_sig = add_lsh_signature(
        embeddings, dim, n_bands * band_bits, seed, vec_col
    )
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("lsh_sig"), i * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .cast("int")
            for i in range(n_bands)
        ]
    )
    exploded = (
        with_sig.withColumn("_bands", bands)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode("_bands").alias("lsh_band_idx", "lsh_band_val"),
        )
    )
    (
        exploded.repartition("lsh_band_idx", "lsh_band_val")
        .write.mode("overwrite")
        .partitionBy("lsh_band_idx", "lsh_band_val")
        .parquet(path)
    )
    fs_for(path).commit_json(
        os.path.join(path, "_lsh_mb_meta.json"),
        {"dim": dim, "n_bands": n_bands, "band_bits": band_bits, "seed": seed},
    )


def knn_lsh_multiband_probe(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe_bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    df: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k over a ``write_lsh_multiband_index`` dataset: one equality
    predicate per band prunes the scan to ``n_probe_bands`` directories
    (recall dial: fewer bands probed = faster, lower recall), candidates
    dedup by id, exact cosine reranks.  ``df``: pre-loaded (typically
    cached) index DataFrame from a standing server."""
    import os

    meta = fs_for(path).read_json(os.path.join(path, "_lsh_mb_meta.json"))
    n_bands, band_bits = meta["n_bands"], meta["band_bits"]
    if n_probe_bands is None:
        n_probe_bands = n_bands
    sig = lsh_signature_of(
        query_vec, meta["dim"], n_bands * band_bits, meta["seed"]
    )
    if df is None:
        df = spark.read.parquet(path)
    cond = None
    for i in range(min(n_probe_bands, n_bands)):
        v = (sig >> (i * band_bits)) & ((1 << band_bits) - 1)
        c = (F.col("lsh_band_idx") == i) & (F.col("lsh_band_val") == v)
        cond = c if cond is None else (cond | c)
    candidates = (
        df.where(cond)
        .select(id_col, vec_col)
        .dropDuplicates([id_col])
    )
    # arrow=True at every dim: the numpy gemv refine is bit-identical
    # to the batched cosine_vs_queries_udf on the same candidates, so
    # search() and search_many() score ANN hits identically
    return knn_bruteforce(candidates, query_vec, k, id_col, vec_col,
                          arrow=True)


def cosine_pair_udf():
    """Arrow UDF: row-wise cosine of two array columns, one numpy pass per
    batch (for wide vectors where the interpreted-HOF `cosine_col` would cost
    2·dim lambda evals per pair — the CLAUDE.md HOF rule)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        x = np.array(a.tolist(), dtype=np.float64)
        y = np.array(b.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", x, y)
        nx = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        ny = np.maximum(np.linalg.norm(y, axis=1), 1e-300)
        return pd.Series(dots / (nx * ny))

    return cos


def cosine_vs_queries_udf(qvecs: dict[int, list[float]]):
    """Arrow UDF: cosine of an embedding column against the query vector
    selected by a ``query_id`` column — the k-bounded query matrix ships
    ONCE in the closure instead of riding every candidate row as a
    duplicated array column (at 960k docs × 34 escalating queries the
    per-row qvec doubled the Arrow traffic through the python worker).

    Scoring loops one ``x_sub @ q`` gemv per distinct query in the batch —
    the SAME formula (dtype conversion, norm clamp, gemv shape) as
    ``cosine_to_query_udf``, so the batched ANN refine is bit-identical to
    the single-query probes' refine on the same candidate rows (the
    search()≡search_many() parity discipline; einsum row-dots differ from
    gemv in the last ulp)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    qids = sorted(qvecs)
    qmat = np.array([qvecs[q] for q in qids], dtype=np.float64)
    # per-query 1-D norm, NOT an axis=1 matrix norm: numpy's 1-D norm goes
    # through BLAS dot while the axis reduction is a pairwise add.reduce —
    # they can differ in the last ulp, and cosine_to_query_udf uses the 1-D
    # form
    qnorm = np.array(
        [
            max(float(np.linalg.norm(np.asarray(qvecs[q], dtype=np.float64))), 1e-300)
            for q in qids
        ]
    )
    pos = {q: i for i, q in enumerate(qids)}

    @pandas_udf(DoubleType())
    def cos(emb: pd.Series, qid: pd.Series) -> pd.Series:
        x = np.array(emb.tolist(), dtype=np.float64)
        idx = qid.map(pos).to_numpy(dtype=np.int64)
        nx = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
        out = np.empty(x.shape[0], dtype=np.float64)
        for qi in np.unique(idx):
            m = idx == qi
            out[m] = (x[m] @ qmat[qi]) / (nx[m] * qnorm[qi])
        return pd.Series(out)

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
