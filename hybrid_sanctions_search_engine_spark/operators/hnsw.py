"""HNSW-over-partitions — the measurement prototype behind the round-6
IVF-vs-HNSW adjudication (verdict "what's missing" #3).

The reference's two ANN backends are graph indexes: ES dense_vector HNSW
(``elasticsearch_index_manager.py:209-214``) and FAISS ``IndexHNSWFlat``
(``vector_index_service.py:75-77``).  The repo serves IVF + two LSH layouts
instead — partition-prunable, which a navigable graph is not: HNSW's whole
point is that every hop may jump anywhere in the corpus, so the natural
Spark mapping is one INDEPENDENT graph per partition ("HNSW-over-
partitions"): build a graph per id-hash partition inside an Arrow task,
probe = beam-search every partition's graph and merge top-k.  That keeps
build shuffle-free and probes embarrassingly parallel, but — unlike IVF —
a probe must touch EVERY partition (the graph can't tell which partitions
matter), so the scan-pruning that makes IVF cheap at 1000 executors is
structurally unavailable.  ``bench.py``'s ``ann_design`` extra measures
build cost, probe cost and recall for both layouts on the same clustered
corpus; DESIGN_100TB.md records the adjudication.

The graph construction is the standard HNSW insert (Malkov & Yashunin,
arXiv:1603.09320): exponential level draw (deterministic per vec_id here —
resumable builds must not depend on RNG state), greedy descent from the top
layer, ef_construction beam at the insert layers, bidirectional links
pruned to M (2M at layer 0).  Distances are dot products on L2-normalized
vectors (cosine), batched per neighbor-expansion with one numpy gather+gemv.

This is a PROTOTYPE for measurement — correct and tested (recall sanity in
tests/test_hnsw.py), but not wired into HybridSearchPlan: the adjudication
(DESIGN_100TB.md) concludes IVF stays the serving layout on this substrate.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame


class _HnswGraph:
    """In-memory single-partition HNSW over a fixed matrix (rows = vectors,
    L2-normalized).  Pure numpy; one instance lives inside one Arrow task."""

    def __init__(self, m: int = 8, ef_construction: int = 64):
        self.m = m
        self.m0 = 2 * m
        self.ef_c = ef_construction
        self.ml = 1.0 / math.log(m)
        self.levels: list[int] = []
        self.links: list[list[list[int]]] = []  # node -> level -> neighbor ids
        self.entry: int = -1
        self.max_level: int = -1
        self.x: np.ndarray | None = None

    def _level_of(self, vec_id: int) -> int:
        # deterministic "random" level from the id hash (splitmix-style) so
        # rebuilds are reproducible and resumable without RNG state
        z = (vec_id * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        u = ((z >> 11) + 1) / float(1 << 53)
        return int(-math.log(u) * self.ml)

    def _search_layer(
        self, q: np.ndarray, entry: int, ef: int, level: int
    ) -> list[tuple[float, int]]:
        """Beam search one layer → up to ef (similarity, node) pairs,
        best-first.  Neighbor expansions batch through one gather+gemv."""
        sims = {entry: float(self.x[entry] @ q)}
        import heapq

        cand = [(-sims[entry], entry)]  # max-heap on similarity
        best: list[tuple[float, int]] = [(sims[entry], entry)]  # min-heap
        visited = {entry}
        while cand:
            negs, node = heapq.heappop(cand)
            if -negs < best[0][0] and len(best) >= ef:
                break
            nbrs = [
                n for n in self.links[node][level] if n not in visited
            ]
            if not nbrs:
                continue
            visited.update(nbrs)
            s = self.x[nbrs] @ q
            for n, sim in zip(nbrs, s):
                sim = float(sim)
                if len(best) < ef or sim > best[0][0]:
                    heapq.heappush(best, (sim, n))
                    if len(best) > ef:
                        heapq.heappop(best)
                    heapq.heappush(cand, (-sim, n))
        return sorted(best, reverse=True)

    def build(self, x: np.ndarray, ids: np.ndarray) -> None:
        self.x = x
        n = x.shape[0]
        self.levels = [self._level_of(int(i)) for i in ids]
        self.links = [
            [[] for _ in range(lv + 1)] for lv in self.levels
        ]
        for i in range(n):
            self._insert(i)

    def _insert(self, i: int) -> None:
        lv = self.levels[i]
        if self.entry < 0:
            self.entry, self.max_level = i, lv
            return
        q = self.x[i]
        ep = self.entry
        # greedy descent above the insert level
        for level in range(self.max_level, lv, -1):
            moved = True
            while moved:
                moved = False
                for nb in self.links[ep][level]:
                    if float(self.x[nb] @ q) > float(self.x[ep] @ q):
                        ep, moved = nb, True
        # beam-connect at the insert levels
        for level in range(min(lv, self.max_level), -1, -1):
            found = self._search_layer(q, ep, self.ef_c, level)
            m_max = self.m0 if level == 0 else self.m
            nbrs = [node for _, node in found[: self.m]]
            self.links[i][level] = list(nbrs)
            for nb in nbrs:
                lk = self.links[nb][level]
                lk.append(i)
                if len(lk) > m_max:
                    # prune to the m_max most similar (simple heuristic)
                    s = self.x[lk] @ self.x[nb]
                    keep = np.argsort(-s)[:m_max]
                    self.links[nb][level] = [lk[j] for j in keep]
            ep = found[0][1]
        if lv > self.max_level:
            self.entry, self.max_level = i, lv

    def search(self, q: np.ndarray, k: int, ef_search: int) -> list[tuple[float, int]]:
        if self.entry < 0:
            return []
        ep = self.entry
        for level in range(self.max_level, 0, -1):
            moved = True
            while moved:
                moved = False
                for nb in self.links[ep][level]:
                    if float(self.x[nb] @ q) > float(self.x[ep] @ q):
                        ep, moved = nb, True
        found = self._search_layer(q, ep, max(ef_search, k), 0)
        return found[:k]


def ann_design_report(
    spark,
    n: int = 20_000,
    dim: int = 384,
    n_clusters: int = 64,
    n_queries: int = 50,
    k: int = 10,
    n_partitions: int = 8,
    ivf_centroids: int = 128,
    ivf_n_probe: int = 4,
    ef_search: int = 96,
    seed: int = 7,
) -> dict:
    """Measured IVF-vs-HNSW adjudication on the shared clustered fixture
    (round-6 verdict item 6): build wall, batched 50-query probe wall, and
    recall@k for both layouts, member AND boundary query regimes.  The
    numbers land in bench extra ``ann_design`` and DESIGN_100TB.md."""
    import tempfile
    import time

    from pyspark.sql import Window

    from .ann_recall import brute_force_topk, make_clustered_fixture
    from .similarity import cosine_vs_queries_udf, write_ivf_index

    out: dict = {
        "n": n, "dim": dim, "k": k,
        "ivf": {"n_centroids": ivf_centroids, "n_probe": ivf_n_probe},
        "hnsw": {
            "n_partitions": n_partitions, "m": 8,
            "ef_construction": 64, "ef_search": ef_search,
        },
    }
    x, _ = make_clustered_fixture(
        n=n, dim=dim, n_clusters=n_clusters, n_queries=n_queries,
        seed=seed, query_mode="member",
    )
    emb = local_frame(
        spark,
        [(i, x[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).persist()
    emb.count()

    # --- IVF: build once (partitioned parquet), probe batched ------------
    ivf_dir = tempfile.mkdtemp(prefix="design_ivf_")
    t0 = time.monotonic()
    cents = write_ivf_index(emb, ivf_dir, n_centroids=ivf_centroids)
    out["ivf"]["build_sec"] = round(time.monotonic() - t0, 3)
    ivf_df = spark.read.parquet(ivf_dir).persist()
    ivf_df.count()

    def ivf_probe(q: np.ndarray) -> dict[int, list[int]]:
        qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-300)
        cells = {
            i: [int(c) for c in np.argsort(-(cents @ qn[i]))[:ivf_n_probe]]
            for i in range(q.shape[0])
        }
        union = sorted({c for cs in cells.values() for c in cs})
        celldf = local_frame(
            spark,
            [(i, c) for i, cs in cells.items() for c in cs],
            "query_id long, ivf_cell int",
        )
        qvecs = {i: qn[i].tolist() for i in range(q.shape[0])}
        cos = cosine_vs_queries_udf(qvecs)(
            F.col("embedding"), F.col("query_id")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        rows = (
            ivf_df.where(F.col("ivf_cell").isin(union))
            .join(F.broadcast(celldf), "ivf_cell")
            .withColumn("cos_sim", cos)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("query_id", "vec_id")
            .collect()
        )
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r["vec_id"])
        return got

    for mode in ("member", "boundary"):
        _, q = make_clustered_fixture(
            n=n, dim=dim, n_clusters=n_clusters, n_queries=n_queries,
            seed=seed, query_mode=mode,
        )
        truth = brute_force_topk(x, q, k)
        t0 = time.monotonic()
        got = ivf_probe(q)
        out["ivf"][f"probe_sec_{mode}"] = round(time.monotonic() - t0, 3)
        out["ivf"][f"recall_{mode}"] = round(
            sum(
                len(set(got.get(i, [])) & set(truth[i]))
                for i in range(n_queries)
            )
            / (n_queries * k),
            4,
        )
        queries = [(i, q[i].tolist()) for i in range(q.shape[0])]
        t0 = time.monotonic()
        hrows = hnsw_probe_partitioned(
            emb, queries, k=k, n_partitions=n_partitions,
            ef_search=ef_search,
        ).collect()
        out["hnsw"][f"build_plus_probe_sec_{mode}"] = round(
            time.monotonic() - t0, 3
        )
        hgot: dict[int, list[int]] = {}
        for r in hrows:
            hgot.setdefault(r["query_id"], []).append(r["vec_id"])
        out["hnsw"][f"recall_{mode}"] = round(
            sum(
                len(set(hgot.get(i, [])) & set(truth[i]))
                for i in range(n_queries)
            )
            / (n_queries * k),
            4,
        )

    # split the fused HNSW wall: one partition-sized graph build, driver-side
    bs = n // n_partitions
    t0 = time.monotonic()
    g = _HnswGraph(m=8, ef_construction=64)
    xs = x[:bs] / np.maximum(
        np.linalg.norm(x[:bs], axis=1, keepdims=True), 1e-300
    )
    g.build(xs, np.arange(bs, dtype=np.int64))
    out["hnsw"]["single_partition_build_sec"] = round(
        time.monotonic() - t0, 3
    )
    out["hnsw"]["build_vecs_per_sec_per_core"] = round(
        bs / max(out["hnsw"]["single_partition_build_sec"], 1e-9), 1
    )
    import shutil

    ivf_df.unpersist()
    emb.unpersist()
    shutil.rmtree(ivf_dir, ignore_errors=True)
    return out


def hnsw_probe_partitioned(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_partitions: int = 8,
    m: int = 8,
    ef_construction: int = 64,
    ef_search: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build-and-probe HNSW-over-partitions in one pass: each id-hash
    partition builds its own graph inside an Arrow task and beam-searches
    every query; a per-query window merges the partition-local top-k.

    Shuffle profile: ONE repartition by id hash (graph builds need their
    whole partition in one task), then map-only; probes cannot prune
    partitions — every partition's graph runs every query, which is exactly
    the structural disadvantage vs IVF that the adjudication measures.  A
    standing server would persist the graphs; this build-and-probe form is
    what the design benchmark times (build cost IS part of the comparison).
    """
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    out_schema = f"query_id long, {id_col} long, cos_sim double"
    if not queries:
        return local_frame(spark, [], out_schema)
    qids = [q for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qmat = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300
    )

    def probe(pdfs):
        # ONE graph per PARTITION: mapInPandas yields one pdf per Arrow
        # record batch (spark.sql.execution.arrow.maxRecordsPerBatch), so
        # the batches must concatenate first — a per-batch graph would
        # silently shrink the experiment whenever a partition exceeds the
        # batch size and the adjudication numbers would describe smaller
        # graphs than claimed (round-6 review finding)
        batches = [pdf for pdf in pdfs if not pdf.empty]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        x = x / np.maximum(
            np.linalg.norm(x, axis=1, keepdims=True), 1e-300
        )
        g = _HnswGraph(m=m, ef_construction=ef_construction)
        g.build(x, ids)
        out_q, out_i, out_s = [], [], []
        for qi, qid in enumerate(qids):
            for sim, node in g.search(qmat[qi], k, ef_search):
                out_q.append(qid)
                out_i.append(int(ids[node]))
                out_s.append(sim)
        yield pd.DataFrame(
            {"query_id": out_q, id_col: out_i, "cos_sim": out_s}
        )

    local = (
        embeddings.select(id_col, vec_col)
        .repartition(n_partitions, F.col(id_col))
        .mapInPandas(probe, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
