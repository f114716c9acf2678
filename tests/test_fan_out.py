"""Serving jobs fan out by the size of their cached input.

* The rule (``sources.tables.fan_out``): one task per
  ``spark.sql.files.openCostInBytes`` of input, at least 1, at most
  ``defaultParallelism`` — Spark's own file-split sizing.  A small cache is
  scored by one task; a 960k-doc index fills every core.  A lexical job's
  input is its cache once per query id it scores, so a large batch on a
  mid-size index is split too.
* Results do not depend on the task count: a lexical job scored by one
  task (every cached partition in one flush) returns the same score bits
  as one scored by ``defaultParallelism`` tasks — over the compressed
  index cache, the raw no-index cache and an attached delta, for ≥ 3-term
  queries, an override set and an in-job fuzzy set — and a vector probe
  over a one-partition cache returns the same ids, cosines and reranked
  scores as over a ``defaultParallelism``-partition cache.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
    FuzzyQueries,
    extract_anchors,
)
from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    ProbeRerank,
    knn_bruteforce_many,
    merge_local_topk,
    row_cosines,
)
from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan
from hybrid_sanctions_search_engine_spark.sources.index_io import (
    build_index,
    index_bytes,
    load_index,
)
from hybrid_sanctions_search_engine_spark.sources.tables import (
    fan_out,
    frame_bytes,
    local_frame,
    serving_tasks,
)

MB = 1 << 20
OPEN_COST = 4 * MB  # spark.sql.files.openCostInBytes' default
K = 8
DIM = 32


def test_fan_out_rule():
    """One task below the byte floor, every core at 960k-doc index size
    (22.3M postings at 2.42 B each, BENCH.md), monotone in size and never
    above the parallelism."""
    for par in (1, 2, 4, 8, 32):
        assert fan_out(0, OPEN_COST, par) == 1
        assert fan_out(OPEN_COST, OPEN_COST, par) == 1
        assert fan_out(OPEN_COST + 1, OPEN_COST, par) == min(2, par)
    index_960k = int(22_316_352 * 2.42)
    for par in (2, 4, 8):
        assert fan_out(index_960k, OPEN_COST, par) == par
    sizes = range(0, 200 * MB, MB // 3)
    for par in (1, 4, 8, 32):
        counts = [fan_out(n, OPEN_COST, par) for n in sizes]
        assert counts == sorted(counts)
        assert counts[0] == 1 and max(counts) == par


@contextmanager
def _open_cost(spark, n_bytes: int):
    """The session's ``openCostInBytes`` set to ``n_bytes`` for the block."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n_bytes))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_serving_tasks_reads_the_session(spark):
    """The byte unit is the session's ``openCostInBytes``: a tiny frame's
    bytes (Spark's statistic, no job) are one task, and every core once
    the unit is one byte."""
    n = frame_bytes(spark.range(1000))
    par = spark.sparkContext.defaultParallelism
    assert par < n < OPEN_COST
    assert serving_tasks(spark, n) == 1
    with _open_cost(spark, 1):
        assert serving_tasks(spark, n) == par


def test_row_cosines_are_row_local():
    """A row's cosine is the same bits whatever rows share its matrix — a
    BLAS gemv's are not (its kernel blocking depends on the row's place)."""
    rng = np.random.default_rng(1)
    x = rng.standard_normal((301, DIM))
    norms = np.maximum(np.linalg.norm(x, axis=1), 1e-300)
    q = rng.standard_normal(DIM)
    qn = float(np.linalg.norm(q))
    full = row_cosines(x, norms, q, qn)
    for lo, n in ((0, 1), (3, 5), (7, 13), (100, 201)):
        sl = slice(lo, lo + n)
        assert np.array_equal(row_cosines(x[sl], norms[sl], q, qn), full[sl])
    sel = np.sort(rng.choice(301, 77, replace=False))
    assert np.array_equal(row_cosines(x[sel], norms[sel], q, qn), full[sel])


# -- lexical leg: 1 task vs defaultParallelism tasks ----------------------

FILLER = ["mono", "nano", "pico", "rota", "sine", "tala", "umbo", "vela"]


def _doc_text(rng, doc: int, rare: bool = False) -> str:
    """Common terms ``yak`` / ``zeta`` everywhere, ``alpha`` every third
    doc, ``beta`` every fifth, and ``aardvark`` (sorted first) where
    ``rare``."""
    words = ["yak"] * int(rng.integers(1, 4)) + ["zeta"] * int(rng.integers(1, 3))
    if doc % 3 == 0:
        words += ["alpha"] * int(rng.integers(1, 3))
    if doc % 5 == 0:
        words.append("beta")
    if rare:
        words += ["aardvark"] * int(rng.integers(1, 3))
    words += [FILLER[i] for i in rng.integers(0, len(FILLER), int(rng.integers(2, 12)))]
    return " ".join(rng.permutation(words))


N_DOCS, CHUNK_BITS, DELTA_BASE = 640, 6, 10**6


def _first_partition_ids(spark, ids: list[int]) -> set[int]:
    """The docs the plans cache in partition 0 — the first partition a
    one-task job reads: the index cache hashes ``pmod(chunk, n_groups)``,
    the raw caches hash ``doc_id`` (Murmur3, seed 42: ``F.hash``)."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.plans.wand import batch_n_groups

    par = spark.sparkContext.defaultParallelism
    groups = batch_n_groups(spark, SimpleNamespace(n_docs=N_DOCS, chunk_bits=CHUNK_BITS))
    frame = local_frame(spark, [(d,) for d in ids], "doc_id long")
    grp = F.pmod(F.shiftright("doc_id", CHUNK_BITS), F.lit(groups).cast("long"))
    first = (F.pmod(F.hash(grp), F.lit(groups)) == 0) | (
        F.pmod(F.hash("doc_id"), F.lit(par)) == 0
    )
    return {r[0] for r in frame.where(first).collect()}


@pytest.fixture(scope="module")
def lexical_plans(spark, tmp_path_factory):
    """An indexed plan with a delta attached, and a no-index plan, over
    docs where ``aardvark`` — the query terms' first in sorted order — is
    absent from every cache's first partition and frequent elsewhere.  A
    flush of several partitions then meets it after the other terms, so
    a scorer summing in first-appearance order would add it last there,
    while a task whose first partition holds it adds it first."""
    rng = np.random.default_rng(17)
    ids = list(range(N_DOCS)) + [DELTA_BASE + d for d in range(200)]
    first = _first_partition_ids(spark, ids)
    text = {d: _doc_text(rng, d, rare=d % 2 == 0 and d not in first) for d in ids}
    docs = local_frame(spark, [(d, text[d]) for d in ids[:N_DOCS]], "doc_id long, text string")
    delta_docs = local_frame(
        spark, [(d, text[d]) for d in ids[N_DOCS:]], "doc_id long, text string"
    )
    index_dir = str(tmp_path_factory.mktemp("fan_out_index"))
    build_index(docs, index_dir, n_shards=2, chunk_bits=CHUNK_BITS)
    plans = {
        "index": HybridSearchPlan(docs, index_dir=index_dir),
        "raw": HybridSearchPlan(docs),
    }
    plans["index"].attach_delta(
        delta_docs=delta_docs,
        delta_postings=build_postings(delta_docs, positions=False),
    )
    yield plans
    for plan in plans.values():
        plan.close()


ENTRIES = [(1, "aardvark yak zeta"), (2, "beta aardvark zeta yak alpha")]
OVERRIDE = [(7, "aardvark", 0.8), (7, "yak", 0.6), (7, "zeta", 0.9), (7, "beta", 0.7)]
# one edit past each 2-character prefix bucket
FUZZY = FuzzyQueries(
    ((9, ("aardvarx", "yax", "zetx")),), max_edits=1, max_expansions=20
)


def _lexical_rows(score, tasks: int):
    """Every matched doc's row per query (k above the corpus size), from a
    job of ``tasks`` tasks."""
    k = 2000
    frame = score(
        ENTRIES, k=k, query_terms_override=OVERRIDE, min_should_match=1,
        fuzzy=FUZZY,
    )
    assert frame.rdd.getNumPartitions() == tasks
    rows = frame.collect()
    tops = merge_local_topk(
        [(r["query_id"], r["doc_id"], r["score"], r["n_terms_matched"])
         for r in rows if r["term"] is None],
        k,
    )
    return tops, sorted({r["term"] for r in rows if r["term"] is not None})


@pytest.mark.parametrize("cache", ["index", "raw", "delta"])
def test_lexical_scores_identical_across_task_counts(spark, lexical_plans, cache):
    par = spark.sparkContext.defaultParallelism
    plan = lexical_plans["index" if cache == "delta" else cache]
    score = plan._score_delta if cache == "delta" else plan._score_base
    cached = {"index": plan.index_df, "raw": plan.postings, "delta": plan._delta_cache}
    by_part = (
        cached[cache].select(F.spark_partition_id().alias("p"), "term")
        .where(F.col("term") == "aardvark").groupBy("p").count().collect()
    )
    assert by_part and 0 not in {r["p"] for r in by_part}  # the trap is set
    one, one_terms = _lexical_rows(score, 1)
    with _open_cost(spark, 1):
        wide, wide_terms = _lexical_rows(score, par)
    # multi-term sums: a term-order change would show in their last bits
    assert sum(1 for *_, n in one if n >= 3) > 100
    assert {q for q, *_ in one} == {1, 2, 7, 9}
    assert one_terms == wide_terms
    assert {"aardvark", "yak", "zeta"} <= set(one_terms)  # the fuzzy candidates
    assert one == wide  # exact: ids, score bits, matched-term counts


def test_lexical_job_size_counts_its_queries(spark, lexical_plans):
    """A standing plan measures each lexical cache once — the index by its
    shard bytes on disk, the delta by its postings' bytes — and a lexical
    job's input is that figure once per query id: a few ids over these
    KB-sized caches are one task, base and delta alike, and under a unit of
    1.5 index sizes one query is one task, two are two, and a large batch
    fills every core."""
    par = spark.sparkContext.defaultParallelism
    plan = lexical_plans["index"]
    n_bytes = plan._score_base.keywords["cache_bytes"]
    # the file system's figure is the one Spark's file scan reports
    scan, _ = load_index(spark, plan.index_dir)
    assert n_bytes == index_bytes(plan.index_dir) == frame_bytes(scan)
    assert plan._score_delta.keywords["cache_bytes"] == frame_bytes(plan.delta_postings)

    def width(score, n_queries):
        entries = [(q, "yak zeta") for q in range(n_queries)]
        return score(entries, k=5).rdd.getNumPartitions()

    raw = lexical_plans["raw"]
    for score in (plan._score_base, plan._score_delta, raw._score_base):
        assert width(score, len(ENTRIES)) == 1
    unit = n_bytes * 3 // 2
    with _open_cost(spark, unit):
        counts = [width(plan._score_base, n) for n in (1, 2, 3, 4 * par)]
    assert counts[:2] == [1, min(2, par)] and counts[-1] == par
    assert counts == sorted(counts)
    assert counts[2] == fan_out(3 * n_bytes, unit, par)


# -- vector leg: a 1-partition cache vs a defaultParallelism one ----------

VQUERIES = [
    (1, "yak zeta aardvark"),
    (2, "beta mono nano 1970-01-01"),
    (3, "rota sine tala"),
    (4, "zeta vela umbo pico"),
]


@pytest.fixture(scope="module")
def vector_plans(spark, tmp_path_factory):
    from hybrid_sanctions_search_engine_spark.operators.pq import write_ivf_pq_index
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index

    rng = np.random.default_rng(23)
    rows = [(d, _doc_text(rng, d, rare=d % 7 == 0)) for d in range(400)]
    rows[5] = (5, rows[5][1] + " born 1970-01-01")
    docs = local_frame(spark, rows, "doc_id long, text string")
    emb = local_frame(
        spark,
        [(d, pseudo_embedding(t, DIM)) for d, t in rows],
        "vec_id long, embedding array<double>",
    )
    root = tmp_path_factory.mktemp("fan_out_ivf")
    write_ivf_index(emb, str(root / "ivf"), n_centroids=6, iters=6)
    write_ivf_pq_index(emb, str(root / "ivf_pq"), n_centroids=6, m=8, iters=6)
    write_ivf_sq8_index(emb, str(root / "ivf_sq8"), n_centroids=6, iters=6)
    plans = {
        kind: HybridSearchPlan(
            docs, embedding_dim=DIM, ann_index_dir=str(root / kind),
            ann_kind=kind, ann_n_probe=3, ann_refine=4,
        )
        for kind in ("ivf", "ivf_pq", "ivf_sq8")
    }
    plans["bruteforce"] = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    yield plans
    for plan in plans.values():
        plan.close()


@pytest.mark.parametrize("batch", [None, 64], ids=["default-batch", "batch-64"])
@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "ivf_sq8", "bruteforce"])
@pytest.mark.parametrize("rerank", [True, False], ids=["rerank", "rerank-free"])
def test_vector_probe_identical_across_partition_counts(
    spark, vector_plans, kind, rerank, batch
):
    """Also across Arrow batch sizes: ``batch`` rows per record batch
    (``maxRecordsPerBatch``; None keeps the session's) streams a task's
    input through the probe body's running top-k in several batches."""
    par = spark.sparkContext.defaultParallelism
    plan = vector_plans[kind]
    # the plan's own cache: one partition for a few hundred small vectors
    assert plan.ann_df.rdd.getNumPartitions() == 1
    if kind == "bruteforce":
        wide_df = plan.ann_df.repartition(par)
    else:
        wide_df = plan.ann_df.repartitionByRange(par, "ivf_cell").sortWithinPartitions(
            "ivf_cell", "vec_id"
        )
    assert wide_df.rdd.getNumPartitions() > 1
    qvecs = [(q, plan.encoder.encode_one(t)) for q, t in VQUERIES]
    probe_rerank = (
        ProbeRerank(
            qtext=dict(VQUERIES),
            anchors={q: extract_anchors(t) for q, t in VQUERIES},
            fuzz=True,
        )
        if rerank
        else None
    )

    def probe(cache):
        if kind == "bruteforce":
            fn = partial(knn_bruteforce_many, cache)
        else:
            bound = plan._probe
            fn = partial(bound.func, cache, *bound.args[1:], **bound.keywords)
        out = fn(qvecs, k=K, as_rows=not rerank, rerank=probe_rerank)
        return merge_local_topk(out.collect(), K) if rerank else out

    one = probe(plan.ann_df)  # the session's batch size
    assert len(one) == len(VQUERIES) * K
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch is not None:
        spark.conf.set(key, str(batch))
    try:
        # exact: ids, cosines, reranked scores, anchor mults
        assert probe(plan.ann_df) == one
        assert probe(wide_df) == one
    finally:
        spark.conf.set(key, old)


class _TrackedBatches:
    """An iterator of record batches that asserts, at each pull, that
    every batch handed out two or more pulls earlier has been freed."""

    def __init__(self, batches):
        self._batches = iter(batches)
        self.refs: list = []

    def __iter__(self):
        return self

    def __next__(self):
        import gc
        import weakref

        gc.collect()
        for i, ref in enumerate(self.refs[:-1]):
            assert ref() is None, f"batch {i} alive at pull {len(self.refs)}"
        batch = next(self._batches)
        self.refs.append(weakref.ref(batch))
        return batch


@pytest.mark.parametrize("layout", ["ivf", "bruteforce", "refine", "sq8"])
@pytest.mark.parametrize("rerank", [True, False], ids=["rerank", "rerank-free"])
def test_probe_task_frees_each_batch(layout, rerank):
    """Spark-free: the probe body keeps no input batch past the next
    pull (a task holds one batch plus its running tops), and its output
    over many small batches equals one batch's, bit for bit."""
    import pyarrow as pa

    from hybrid_sanctions_search_engine_spark.operators.fused_probe import (
        code_scorer,
    )
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        probe_queries,
        probe_task,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import sq8_scorer

    rng = np.random.default_rng(5)
    n = 600
    texts = [_doc_text(rng, d, rare=d % 7 == 0) for d in range(n)]
    x = np.array([pseudo_embedding(t, DIM) for t in texts])
    x[50:70] = x[49]  # a tie block: equal cosines keep the smallest ids
    cents = x[rng.choice(n, 6, replace=False)]
    cells = (x @ cents.T).argmax(axis=1)
    rows = pa.table({
        "vec_id": pa.array(rng.permutation(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float64())),
        "ivf_cell": pa.array(cells, pa.int32()),
        "sq_code": pa.array(
            [r.tobytes() for r in rng.integers(0, 256, (n, DIM), dtype=np.uint8)]
        ),
        "doc_text": pa.array([None if d % 9 == 0 else t for d, t in enumerate(texts)]),
        "has_doc": pa.array([None if d % 9 == 0 else True for d in range(n)]),
    })
    qvecs = [(q, pseudo_embedding(t, DIM)) for q, t in VQUERIES] + [(99, list(x[49]))]
    prep = probe_queries(qvecs, cents, 3)
    qtext = {**dict(VQUERIES), 99: "fresh query"}
    probe_rerank = (
        ProbeRerank(qtext, {q: extract_anchors(t) for q, t in qtext.items()}, fuzz=True)
        if rerank
        else None
    )
    scorer = {}
    if layout == "ivf":
        spec = prep.spec(K, "vec_id", "embedding", "ivf_cell", prep.cells, probe_rerank)
    elif layout == "bruteforce":
        spec = prep.spec(K, "vec_id", "embedding", rerank=probe_rerank)
    elif layout == "refine":
        keys = [rng.choice(n, 40, replace=False).astype(np.int64) for _ in prep.qids]
        spec = prep.spec(K, "vec_id", "embedding", "vec_id", keys, probe_rerank)
    else:
        vmin, vmax = x.min(axis=0), x.max(axis=0)
        spec = prep.spec(3 * K, "vec_id", "sq_code", "ivf_cell", prep.cells)
        scorer = {"scorer": partial(code_scorer, sq8_scorer(vmin, vmax), DIM)}

    def run(batches):
        return [
            tuple(r.values())
            for out in probe_task(spec, batches, **scorer)
            for r in out.to_pylist()
        ]

    whole = run(iter(rows.to_batches()))
    assert whole
    # each batch made at its pull: a list of batches would hold them all
    tracked = _TrackedBatches(
        b for i in range(0, n, 37) for b in rows.slice(i, 37).to_batches()
    )
    assert run(tracked) == whole
    assert len(tracked.refs) == -(-n // 37)
