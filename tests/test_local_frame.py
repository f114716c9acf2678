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


def test_ac_stage_absent_terms_submits_no_job(spark, plan):
    """Terms absent from the in-RAM dictionary: the AC stage and the collect
    of its (empty) result submit no job at all."""
    rows = []
    n = _jobs_run_by(
        spark, lambda: rows.extend(plan.ac_stage("zzzqqq xyzzy", k=5).collect())
    )
    assert (n, rows) == (0, [])


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
