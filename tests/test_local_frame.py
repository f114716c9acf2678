"""Driver-built frames: ``local_frame`` ≡ ``createDataFrame(list)``, with no
Spark job behind it.

Every k-bounded ladder result and query-side table the engine hands back to
Spark goes through ``sources.tables.local_frame``, which Spark plans as a
``LocalRelation``.  The pins here count the jobs a collect submits, so a
site reverted to ``spark.createDataFrame(<list>)`` (an RDD-backed frame
whose every action is a whole job) fails them.
"""

from __future__ import annotations

import ast
import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import hybrid_sanctions_search_engine_spark as pkg
from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.fuzzy import TermBloom
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

QMETA = (
    "query_id long, qtext string, qdates array<string>, "
    "qid_anchors array<string>"
)
RESULT = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType()),
        StructField("n_terms_matched", IntegerType()),
    ]
)

CASES = {
    "dicts_with_nulls": (
        [{"doc_id": 3, "score": 0.25}, {"doc_id": 1, "score": None}, {"doc_id": 2}],
        "doc_id long, score double",
    ),
    "tuples_long_int_double": (
        [(7, 2**40, 1.5, 1), (7, None, -0.0, None), (8, 5, 1e-300, 3)],
        "query_id long, doc_id long, score double, rank int",
    ),
    "rows_struct_type": (
        [Row(doc_id=5, score=9.5, n_terms_matched=2), Row(doc_id=4, score=None, n_terms_matched=None)],
        RESULT,
    ),
    "empty_ddl": ([], "doc_id long, score double, cos_sim double"),
    "empty_struct_type": ([], RESULT),
    "qmeta_arrays": (
        [
            {"query_id": 1, "qtext": "ivan petrov", "qdates": ["1970-01-01"], "qid_anchors": []},
            {"query_id": 2, "qtext": None, "qdates": None, "qid_anchors": ["AB123", None]},
            {"query_id": 3, "qtext": "", "qdates": [], "qid_anchors": None},
        ],
        QMETA,
    ),
    "array_struct_type": (
        [(1, ["a", "b"]), (2, None)],
        StructType(
            [
                StructField("query_id", LongType()),
                StructField("terms", ArrayType(StringType())),
            ]
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_data_frame(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` submits on this thread, read from the status store
    through a job group unique to the call.  A job group is thread-local, so
    jobs from speculative threads an earlier search left running cannot leak
    into the count."""
    sc = spark.sparkContext
    group = f"zero-job-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "zero-job pin")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_counter_sees_a_list_frame(spark):
    """The counter itself: a ``createDataFrame(list)`` collect is one job."""
    df = spark.createDataFrame([(1, 2.0)], "doc_id long, score double")
    assert _jobs_run_by(spark, df.collect) == 1


@pytest.fixture(scope="module")
def plan(spark, sf_smoke_dir):
    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    rows = [
        (r["doc_id"], pseudo_embedding(r["text"], 64))
        for r in docs.select("doc_id", "text").limit(200).collect()
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plan = HybridSearchPlan(docs, embeddings=emb, embedding_dim=64)
    assert plan._driver_dictionary() is not None  # the in-RAM dictionary
    yield plan
    plan.close()


@pytest.mark.parametrize("query", ["spark query join window", "sparc", "zzzqqq"])
def test_search_result_collect_submits_no_job(spark, plan, query):
    res, _ = plan.search(query, SearchOpts(top_k=5))
    rows = []
    assert _jobs_run_by(spark, lambda: rows.extend(res.collect())) == 0
    assert len(rows) <= 5


def test_search_many_result_collect_submits_no_job(spark, plan):
    queries = [(1, "spark query join window"), (2, "sparc"), (3, "zzzqqq")]
    res, meta = plan.search_many(queries, SearchOpts(top_k=5))
    rows = []
    assert _jobs_run_by(spark, lambda: rows.extend(res.collect())) == 0
    assert {r["query_id"] for r in rows} <= set(meta)


@pytest.mark.parametrize("cap", [None, 0], ids=["in-ram", "above-cap"])
def test_absent_terms_search_submits_no_job(spark, plan, cap, monkeypatch):
    """Terms absent from the dictionary — the in-RAM term set, or above the
    cap the dictionary's Bloom filter once it is built: with escalation
    off, a ``search()`` and a ``search_many()`` of them, and the collects
    of their (empty) results, submit no job at all."""
    if cap is not None:
        monkeypatch.setattr(plan, "driver_expansion_max_terms", cap)
        plan._driver_dict = ...
        assert plan._driver_dictionary() is None
        assert isinstance(plan._dict_present_set(), TermBloom)
    opts = SearchOpts(top_k=5, enable_escalation=False)
    try:
        rows = []
        n = _jobs_run_by(
            spark,
            lambda: (
                rows.extend(plan.search("zzzqqq xyzzy", opts)[0].collect()),
                rows.extend(
                    plan.search_many([(1, "zzzqqq xyzzy"), (2, "xyzzy")], opts)[0].collect()
                ),
            ),
        )
        assert (n, rows) == (0, [])
    finally:
        monkeypatch.undo()
        plan._driver_dict = ...
        assert plan._driver_dictionary() is not None


@pytest.mark.parametrize("shape", ["indexed", "no-index", "above-cap"])
def test_strong_search_runs_one_job(spark, plan, ivf_index_plan, shape, monkeypatch):
    """A strong single ``search()`` is the ladder on a batch of one, which
    never speculates: exactly 1 job, the in-place AC scoring, on an indexed
    plan, on a no-index plan, and above the in-RAM dictionary cap — where
    it builds no Bloom filter and runs no fuzzy job."""
    target = plan if shape == "no-index" else ivf_index_plan
    opts = SearchOpts(top_k=5)
    query = "spark query join window"
    target.search(query, opts)  # fills the standing caches
    if shape == "above-cap":
        monkeypatch.setattr(target, "driver_expansion_max_terms", 0)
        monkeypatch.setattr(target, "_driver_dict", ..., raising=False)
    out = {}
    n = _jobs_run_by(spark, lambda: out.update(trace=target.search(query, opts)[1]))
    assert [t.stage for t in out["trace"]] == ["AC", "HYBRID"]
    assert out["trace"][0].hits > 0
    assert n == 1
    if shape == "above-cap":
        assert target._dict_present_set() is None


@pytest.mark.parametrize("shape", ["indexed", "no-index"])
def test_fresh_plan_first_batch_scores_in_place(
    spark, sf_smoke_dir, tmp_path_factory, shape, monkeypatch
):
    """A fresh plan's first ``search_many`` batch — the lexical cache not
    yet materialized — plans no exchange between the Python scorer
    (``MapInPandas``) and the cached scan: the cache's own shuffle runs
    once, inside its materialization."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    index_dir = None
    if shape == "indexed":
        index_dir = str(tmp_path_factory.mktemp("fresh_plan_idx"))
        build_index(docs, index_dir, n_shards=2, chunk_bits=7)
    fresh = HybridSearchPlan(docs, index_dir=index_dir)
    queries = [(1, "spark query join window"), (2, "merge sort")]
    try:
        _, plans, _ = _counted_inline(
            spark, monkeypatch,
            lambda: fresh.search_many(queries, SearchOpts(top_k=5, enable_escalation=False)),
        )
        lexical = [p for p in plans if "InPandas" in p]
        assert len(lexical) == 1, plans
        scorer = lexical[0].find("MapInPandas")
        assert scorer >= 0 and "InMemoryTableScan" in lexical[0][scorer:], lexical
        assert "Exchange" not in lexical[0][scorer:], lexical
    finally:
        fresh.close()


@pytest.fixture(scope="module")
def above_cap_plan(spark, sf_smoke_dir, tmp_path_factory):
    """An indexed plan with no vector index, above its in-RAM dictionary
    cap, its Bloom filter built."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    index_dir = str(tmp_path_factory.mktemp("above_cap_idx"))
    build_index(docs, index_dir, n_shards=2, chunk_bits=7)
    plan = HybridSearchPlan(docs, index_dir=index_dir)
    plan.driver_expansion_max_terms = 0
    assert plan._driver_dictionary() is None
    yield plan
    plan.close()


def _assert_in_job_fuzzy_plan(plans: list[str]) -> None:
    """One collect, whose plan filters the index cache's scan by the
    fuzzy candidate predicate and plans no exchange."""
    assert len(plans) == 1, plans
    assert "levenshtein" in plans[0] and "InMemoryTableScan" in plans[0], plans
    assert "Exchange" not in plans[0], plans


def test_typo_search_above_cap_runs_one_job(spark, above_cap_plan, monkeypatch):
    """Above the in-RAM dictionary cap, with the Bloom filter built, an
    escalated typo'd ``search()`` runs exactly 1 job: the in-place fuzzy
    scoring, whose tasks find and weight their own candidates — the
    ``levenshtein`` candidate filter over the index cache's scan, no
    exchange.  The AC stage submits none."""
    plan = above_cap_plan
    query = "sparc qurey"
    assert not any(t in plan._dict_present_set() for t in query.split())
    plan.search(query, SearchOpts(top_k=5))  # fills the index cache
    out = {}
    n, plans, _ = _counted_inline(
        spark, monkeypatch,
        lambda: out.update(trace=plan.search(query, SearchOpts(top_k=5))[1]),
    )
    assert [t.stage for t in out["trace"]] == ["AC", "FUZZY", "HYBRID"]
    assert out["trace"][1].hits > 0
    assert out["trace"][1].meta == {"expansion": "in_job", "rescored": False}
    assert n == 1, plans
    _assert_in_job_fuzzy_plan(plans)


def test_typo_search_many_above_cap_runs_one_job(spark, above_cap_plan, monkeypatch):
    """Above the in-RAM dictionary cap, an escalated ``search_many`` batch
    on a plan with no vector index runs exactly 1 job: the AC entries and
    every query's speculative fuzzy stage fused in one in-place scoring
    job, its tasks expanding the fuzzy ids over the candidate rows they
    read."""
    plan = above_cap_plan
    queries = [(1, "sparc qurey"), (2, "spark query join window"), (3, "merge sortt")]
    opts = SearchOpts(top_k=5)
    plan.search_many(queries, opts)  # fills the index cache
    out = {}
    n, plans, _ = _counted_inline(
        spark, monkeypatch, lambda: out.update(meta=plan.search_many(queries, opts)[1])
    )
    assert out["meta"][1]["escalated"] and not out["meta"][2]["escalated"]
    assert plan.last_batch_trace["fuzzy_rescored"] == 0
    assert n == 1, plans
    _assert_in_job_fuzzy_plan(plans)


def _tagged_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted through a job tag unique to the
    call.  Tags are thread-local and additive, so the count survives the
    job group a speculative stage sets on the (inlined) thread."""
    sc = spark.sparkContext
    tag = f"job-pin-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    listed = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    return sum(
        1 for i in range(listed.size()) if listed.apply(i).jobTags().contains(tag)
    )


def test_broadcast_local_frame_costs_a_job(spark):
    """Collecting a ``local_frame`` submits no job, but broadcasting one
    does: each broadcast ``LocalRelation`` is one more job for the action
    that joins it, the join into a cached frame included."""
    from pyspark.sql import functions as F

    cached = spark.range(2000).withColumn("v", F.col("id") * 2).persist()
    try:
        cached.count()
        side = local_frame(spark, [(1, "a"), (2, "b")], "id long, tag string")
        qmeta = local_frame(spark, [(1, "q")], "id long, qtext string")
        left = local_frame(spark, [(i, float(i)) for i in range(100)], "id long, x double")
        assert _tagged_jobs(spark, side.collect) == 0
        assert _tagged_jobs(spark, cached.where(F.col("id").isin([1, 2])).collect) == 1
        assert _tagged_jobs(spark, cached.join(F.broadcast(side), "id").collect) == 2
        assert _tagged_jobs(spark, left.join(F.broadcast(side), "id").collect) == 2
        nested = left.join(F.broadcast(side.join(F.broadcast(qmeta), "id")), "id")
        assert _tagged_jobs(spark, nested.collect) == 3
    finally:
        cached.unpersist()


# date and id anchors, a typo and a plain query: every one escalates
ANCHOR_QUERIES = [
    (1, "spark query join 2020-01-01"),
    (2, "sparc qurey 1234567890"),
    (3, "merge sort"),
]


@pytest.fixture(scope="module")
def ivf_index_plan(spark, sf_smoke_dir, tmp_path_factory):
    """A standing plan serving a lexical index and an IVF vector index."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    root = tmp_path_factory.mktemp("two_job_batch")
    build_index(docs, str(root / "index"), n_shards=2, chunk_bits=7)
    emb = local_frame(
        spark,
        [
            (r["doc_id"], pseudo_embedding(r["text"], 64))
            for r in docs.select("doc_id", "text").limit(200).collect()
        ],
        "vec_id long, embedding array<double>",
    )
    write_ivf_index(emb, str(root / "ivf"), n_centroids=8, iters=8)
    plan = HybridSearchPlan(
        docs, embedding_dim=64, index_dir=str(root / "index"),
        ann_index_dir=str(root / "ivf"), ann_kind="ivf", ann_n_probe=2,
    )
    yield plan
    plan.close()


def _counted_inline(spark, monkeypatch, fn) -> tuple[int, list[str], list[list[str]]]:
    """(jobs, executed plans of the collects, their columns) of ``fn``
    with ``_Async`` inlined on the calling thread."""
    from hybrid_sanctions_search_engine_spark.plans import hybrid

    class Inline:
        """``_Async`` on the calling thread, inside the job tag."""

        def __init__(self, fn):
            self._out = fn()

        def result(self):
            return self._out

    monkeypatch.setattr(hybrid, "_Async", Inline)
    frame_cls = type(spark.range(1))
    collect = frame_cls.collect
    plans, columns = [], []

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        columns.append(self.columns)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    try:
        n = _tagged_jobs(spark, fn)
    finally:
        monkeypatch.undo()
    # the part of each plan above its cached scan (whose own lineage — the
    # cache build — ran once when the cache filled)
    return n, [p.split("InMemoryRelation")[0] for p in plans], columns


def test_escalated_ivf_search_many_runs_two_jobs(spark, ivf_index_plan, monkeypatch):
    """An escalated ``search_many`` on an IVF plan, rerank on and anchor
    queries in the batch, runs exactly 2 jobs: the fused AC+fuzzy scoring
    job and the vector probe that reranks inside its tasks.  Neither plans
    an exchange or a broadcast — both collects merge task-local tops on the
    driver."""
    plan = ivf_index_plan
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    plan.search_many(ANCHOR_QUERIES, opts)  # fills the standing caches
    out = {}
    n, plans, columns = _counted_inline(
        spark, monkeypatch,
        lambda: out.update(meta=plan.search_many(ANCHOR_QUERIES, opts)[1]),
    )
    assert all(m["escalated"] for m in out["meta"].values())
    assert n == 2, plans
    assert len(plans) == 2 and all("InMemoryTableScan" in p for p in plans), plans
    assert not [p for p in plans if "Exchange" in p], plans
    # no document text reaches the driver
    assert not [c for c in columns if {"text", "doc_text"} & set(c)], columns


def test_escalated_ivf_search_vector_leg_runs_one_job(spark, ivf_index_plan, monkeypatch):
    """A single escalated ``search()`` on an IVF plan, rerank on and a
    date-anchored query, serves its vector leg as a batch of one: exactly 1
    job, the probe that reranks inside its tasks — counted by job tag on the
    stage's own thread."""
    plan = ivf_index_plan
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    query = ANCHOR_QUERIES[0][1]
    plan.search(query, opts)  # fills the standing caches
    stage, jobs = plan._vector_stage_batch, []

    def counted(*args, **kwargs):
        out = {}
        jobs.append(_tagged_jobs(spark, lambda: out.update(rows=stage(*args, **kwargs))))
        return out["rows"]

    monkeypatch.setattr(plan, "_vector_stage_batch", counted)
    _, trace = plan.search(query, opts)
    assert [t.stage for t in trace] == ["AC", "FUZZY", "SEMANTIC", "HYBRID"]
    assert trace[2].hits > 0
    assert jobs == [1]


def test_no_index_search_many_vector_leg_plans_no_exchange(spark, plan, monkeypatch):
    """With no ANN index, the batched vector leg scans the plan's cached
    text-carrying embeddings and reranks in the same tasks: its collect
    plans no exchange and no broadcast."""
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    plan.search_many(ANCHOR_QUERIES, opts)  # fills the standing caches
    _, plans, columns = _counted_inline(
        spark, monkeypatch, lambda: plan.search_many(ANCHOR_QUERIES, opts)
    )
    vector = [p for p, c in zip(plans, columns) if "anchor_mult" in c]
    assert len(vector) == 1, plans
    assert "InMemoryTableScan" in vector[0], vector
    assert "Exchange" not in vector[0], vector


def test_windowed_text_join_composition_runs_more_jobs(spark, ivf_index_plan, monkeypatch):
    """The negative control: the composition the two-job batch replaced —
    windowed lexical tops, and windowed probe hits joined with the query
    table and the doc store — plans exchanges and broadcasts and runs more
    than 2 jobs for the same batch.  It runs at the width it had then,
    ``defaultParallelism`` scoring tasks (a one-byte ``openCostInBytes``):
    over the fixture's one-task fan-out a window needs no exchange (one
    partition is clustered by any key)."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_ivf_probe_many,
    )
    from hybrid_sanctions_search_engine_spark.plans.wand import batch_topk_indexed

    plan = ivf_index_plan
    plan.search_many(ANCHOR_QUERIES, SearchOpts(top_k=5))  # fills the caches
    qmeta = local_frame(
        spark, [(q, t) for q, t in ANCHOR_QUERIES], "query_id long, qtext string"
    )

    def windowed():
        batch_topk_indexed(
            spark, plan.index_dir, ANCHOR_QUERIES, k=5, index_df=plan.index_df,
            meta=plan.index_meta,
        ).collect()
        hits = knn_ivf_probe_many(
            plan.ann_df, plan.ann_centroids,
            [(q, plan.encoder.encode_one(t)) for q, t in ANCHOR_QUERIES],
            k=5, n_probe=plan.ann_n_probe,
        ).select("query_id", F.col("vec_id").alias("doc_id"), "cos_sim")
        plan.docs.select("doc_id", "text").join(
            F.broadcast(hits.join(F.broadcast(qmeta), "query_id")), "doc_id"
        ).collect()

    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        n, plans, _ = _counted_inline(spark, monkeypatch, windowed)
    finally:
        spark.conf.set(key, old)
    assert n > 2, plans
    assert any("Exchange hashpartitioning" in p for p in plans), plans
    assert any("BroadcastExchange" in p for p in plans), plans


def test_topk_search_empty_query_submits_no_job(spark, tmp_path_factory, sf_smoke_dir):
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    index_dir = str(tmp_path_factory.mktemp("local_frame_idx"))
    build_index(docs, index_dir, n_shards=2, chunk_bits=7)
    idx, meta = load_index(spark, index_dir)
    rows = []
    n = _jobs_run_by(
        spark,
        lambda: rows.extend(
            topk_search(spark, index_dir, "", k=5, index_df=idx, meta=meta).collect()
        ),
    )
    assert (n, rows) == (0, [])


def _create_data_frame_calls(path: str) -> list[tuple[str, int, str]]:
    """(file, line, enclosing function) of every ``<x>.createDataFrame(...)``
    call in ``path``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.append((path, node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_create_data_frame_only_in_local_frame():
    """The RDD-backed ``createDataFrame(<list>)`` must not creep back into
    the package: its one call is the Arrow table inside ``local_frame``."""
    root = os.path.dirname(pkg.__file__)
    calls = [
        call
        for dirpath, _, files in os.walk(root)
        for name in sorted(files)
        if name.endswith(".py")
        for call in _create_data_frame_calls(os.path.join(dirpath, name))
    ]
    tables = os.path.join(root, "sources", "tables.py")
    assert [(os.path.relpath(p, root), f) for p, _, f in calls] == [
        (os.path.relpath(tables, root), "local_frame")
    ], calls
