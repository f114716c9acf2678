"""The per-task Python worker floor: ``functions/worker_env.py``.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task; on CPython ≤ 3.12 every zip importer then re-reads its whole
archive directory.  The package installs a stat check on import, and the
first tests here pin that check without Spark.  The Spark tests pin the
worker side: a task's ``invalidate_caches()`` stays cheap, and every
serving-path UDF body pulls the package (hence the check) into the worker
that unpickles it.  The last pin bounds the ladder's driver collects.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import hybrid_sanctions_search_engine_spark
from hybrid_sanctions_search_engine_spark.functions.worker_env import (
    install_zip_invalidate_check,
)

PKG = hybrid_sanctions_search_engine_spark.__name__
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``wenv_m1``, first on ``sys.path``, imported;
    yields (archive path, its importer)."""
    archive = str(tmp_path / "wenv_mods.zip")
    _write_zip(archive, {"wenv_m1": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    import wenv_m1

    assert wenv_m1.VALUE == 1
    yield archive, sys.path_importer_cache[archive]
    for name in ("wenv_m1", "wenv_m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.fixture
def read_spy(monkeypatch):
    """Records the archive of every zip directory read."""
    reads: list[str] = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_package_import_installs_the_check():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__wrapped__.__module__ == "zipimport"
    assert not hasattr(method.__wrapped__, "__wrapped__")


def test_unchanged_archive_is_not_reread(zip_on_path, read_spy):
    archive, importer = zip_on_path
    # an importer created after the install reads once on its first call
    importer.invalidate_caches()
    files = importer._files
    read_spy.clear()
    importer.invalidate_caches()
    importlib.invalidate_caches()  # what the worker calls on every task
    assert read_spy == []
    assert importer._files is files


def test_rewritten_archive_is_reread(zip_on_path, read_spy):
    archive, importer = zip_on_path
    importer.invalidate_caches()
    _write_zip(archive, {"wenv_m1": "VALUE = 1\n", "wenv_m2": "VALUE = 2\n"})
    read_spy.clear()
    importlib.invalidate_caches()
    assert read_spy.count(archive) == 1
    import wenv_m2

    assert wenv_m2.VALUE == 2


def test_install_is_idempotent():
    method = zipimport.zipimporter.invalidate_caches
    install_zip_invalidate_check()
    install_zip_invalidate_check()
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")


# -- worker side --------------------------------------------------------------

DIM = 64
QUERIES = [
    (1, "spark query join"), (2, "sparc qurey"), (3, "merge sort"), (4, "customer ordr"),
]
# every query escalates past AC to the vector leg
ESCALATE = dict(top_k=5, escalation_threshold=1e9)


@pytest.fixture(scope="module")
def served(spark, sf_smoke_dir, tmp_path_factory):
    """A lexical index, and standing plans serving it with an IVF and an
    IVF-SQ8 vector leg."""
    from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index
    from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index
    from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    work = tmp_path_factory.mktemp("worker_env")
    index_dir = str(work / "index")
    build_index(docs, index_dir, n_shards=2, chunk_bits=7)
    emb = local_frame(
        spark,
        [
            (r["doc_id"], pseudo_embedding(r["text"], DIM))
            for r in docs.select("doc_id", "text").limit(200).collect()
        ],
        "vec_id long, embedding array<double>",
    )
    write_ivf_index(emb, str(work / "ivf"), n_centroids=8, iters=8)
    write_ivf_sq8_index(emb, str(work / "ivf_sq8"), n_centroids=4, iters=8)
    plans = {
        kind: HybridSearchPlan(
            docs, embeddings=emb, embedding_dim=DIM, index_dir=index_dir,
            ann_index_dir=str(work / kind), ann_kind=kind, ann_n_probe=2,
        )
        for kind in ("ivf", "ivf_sq8")
    }
    yield index_dir, plans
    for plan in plans.values():
        plan.close()


def test_task_invalidate_caches_is_cheap(spark, served):
    """Inside a task, ``importlib.invalidate_caches()`` — the call the
    worker makes before every task — costs well under a JVM task's ~5 ms
    floor (0.15–0.4 s without the check)."""
    import pandas as pd

    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

    index_dir, _ = served
    assert topk_search(spark, index_dir, "spark query join", k=5).collect()
    n = spark.sparkContext.defaultParallelism

    def probe(it):
        import time

        # the package reference every engine UDF body carries
        assert hybrid_sanctions_search_engine_spark.__version__
        for _ in it:
            pass
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            times.append((time.perf_counter() - t0) * 1000.0)
        yield pd.DataFrame({"ms": [min(times)]})

    tasks = spark.range(n, numPartitions=n).mapInPandas(probe, "ms double")
    ms = [r["ms"] for r in tasks.collect()]
    assert len(ms) == n
    assert max(ms) < 5.0, ms


_LOADS_PACKAGE = f"""
import pickle, sys
pickle.loads(sys.stdin.buffer.read())
print({PKG!r} in sys.modules)
"""


def _unpickling_imports_package(func) -> bool:
    """Whether unpickling ``func`` the way a worker does, in a fresh
    interpreter, imports the package (and so installs the check)."""
    from pyspark import cloudpickle

    out = subprocess.run(
        [sys.executable, "-c", _LOADS_PACKAGE],
        input=cloudpickle.dumps(func),
        capture_output=True,
        env={**os.environ, "PYTHONPATH": REPO},
        check=True,
    )
    return out.stdout.decode().strip() == "True"


def test_serving_udf_bodies_import_the_package(spark, served, monkeypatch):
    """Every Python UDF body the serving ladder ships references a package
    module, so the worker that unpickles it runs the package import and
    gets the check; a body pickled with only numpy and pandas would leave
    its worker paying the per-task re-read."""
    import pyspark.sql.udf

    from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
    from hybrid_sanctions_search_engine_spark.plans.hybrid import SearchOpts
    from hybrid_sanctions_search_engine_spark.plans.wand import topk_search
    from hybrid_sanctions_search_engine_spark.sources.tables import (
        local_frame,
        standing_task,
    )

    shipped = {}
    wrap = pyspark.sql.udf._wrap_function

    def spy(sc, func, returnType=None):
        body = getattr(func, "func", func)  # a partial: its bound function
        if body is standing_task:  # a standing map's UDF: the body it runs
            body = getattr(func.args[1], "func", func.args[1])
        shipped.setdefault(f"{body.__module__}.{body.__qualname__}", func)
        return wrap(sc, func, returnType)

    monkeypatch.setattr(pyspark.sql.udf, "_wrap_function", spy)
    index_dir, plans = served
    topk_search(spark, index_dir, "spark query join", k=5).collect()
    for plan in plans.values():
        plan.search_many(QUERIES, SearchOpts(**ESCALATE))[0].collect()
    plans["ivf"].search("sparc qurey", SearchOpts(**ESCALATE))[0].collect()
    # a delta overlay's vectors: the exact batched scan beside the probe
    delta = [(10**6, "sparc query join fresh")]
    plans["ivf"].attach_delta(
        delta_docs=local_frame(spark, delta, "doc_id long, text string"),
        delta_embeddings=local_frame(
            spark, [(i, pseudo_embedding(t, DIM)) for i, t in delta],
            "vec_id long, embedding array<double>",
        ),
    )
    try:
        plans["ivf"].search_many(QUERIES, SearchOpts(**ESCALATE))[0].collect()
    finally:
        plans["ivf"].detach_delta()
    # above the in-RAM dictionary cap: the Bloom filter build and the probe
    plan = plans["ivf_sq8"]
    plan.driver_expansion_max_terms = 0
    plan._driver_dict = ...
    try:
        plan.search("sparc qurey", SearchOpts(**ESCALATE))[0].collect()
    finally:
        del plan.driver_expansion_max_terms
        plan._driver_dict = ...

    expected = {
        "operators.fuzzy.dictionary_bloom.<locals>.build",
        # every lexical stage's and topk_search's one in-place body (the
        # batch scorer, score_doc_group, rides in its spec): module-level,
        # run by a standing map's ``standing_task`` or bound to a one-off
        # call's spec by functools.partial
        "operators.bm25.score_in_place",
        # every vector probe's one module-level Arrow-map body (the code
        # scan's ``fused_probe.code_scorer`` rides in its partial): it
        # emits its task's top-k, reranked in the task
        "operators.similarity.probe_task",
    }
    assert {f"{PKG}.{name}" for name in expected} <= set(shipped), sorted(shipped)
    missing = [
        name for name, func in shipped.items() if not _unpickling_imports_package(func)
    ]
    assert not missing


@pytest.mark.parametrize("rerank", [True, False], ids=["text-rerank", "rerank-free"])
def test_search_many_collects_are_k_bounded(spark, served, monkeypatch, rerank):
    """Every driver collect of an escalated ``search_many`` on an IVF plan
    returns at most tasks × k rows per query id, so at most tasks × nq × k
    rows, where tasks counts the result-stage tasks of the last job the
    collect ran: task-local top-k merged on the driver, never a corpus-sized
    pull.  (The fused lexical job gives a query's AC and fuzzy legs their
    own ids.)  Rerank-free serving collects the IVF probe's task-local
    tops directly; the text rerank joins them in-cluster first."""
    import uuid
    from collections import Counter

    from hybrid_sanctions_search_engine_spark.plans.hybrid import SearchOpts

    sc = spark.sparkContext
    _, plans = served
    plan, opts = plans["ivf"], SearchOpts(**ESCALATE, rapidfuzz_rerank=rerank)
    plan.search_many(QUERIES, opts)[0].collect()  # fills the standing caches
    collects = []
    frame_cls = type(spark.range(1))
    collect = frame_cls.collect

    def spy(self):
        tag = f"collect-bound-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            rows = collect(self)
        finally:
            sc.removeJobTag(tag)
        collects.append((tag, Counter(r["query_id"] for r in rows)))
        return rows

    monkeypatch.setattr(frame_cls, "collect", spy)
    plan.search_many(QUERIES, opts)
    monkeypatch.undo()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    listed = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    jobs = [listed.apply(i) for i in range(listed.size())]
    pulls = []
    for tag, per_query in collects:
        ran = [j for j in jobs if j.jobTags().contains(tag)]
        if not ran:  # a driver-side frame: its rows were never in the cluster
            continue
        last = max(ran, key=lambda j: j.jobId()).stageIds()
        result_stage = max(last.apply(i) for i in range(last.size()))
        tasks = sc.statusTracker().getStageInfo(result_stage).numTasks
        pulls.append((tasks, dict(per_query)))
    assert pulls
    over = [
        (tasks, per_query) for tasks, per_query in pulls
        if max(per_query.values(), default=0) > tasks * opts.top_k
    ]
    assert not over, over


_INPUT_WAIT = """
import json, os, statistics
from hybrid_sanctions_search_engine_spark.session import get_spark

spark = get_spark("input-wait", cores=2)


def body(batches):
    import time

    import pyarrow as pa

    from hybrid_sanctions_search_engine_spark.operators.similarity import local_topk

    assert local_topk  # the package import: the worker's zip check
    t0 = time.perf_counter()
    n = sum(b.num_rows for b in batches)
    yield pa.RecordBatch.from_pydict({"ms": [(time.perf_counter() - t0) * 1e3], "n": [n]})


frame = spark.range(10, numPartitions=1).mapInArrow(body, "ms double, n long")
frame.collect()  # starts the worker
rows = [frame.collect()[0] for _ in range(15)]
conf = spark.sparkContext.getConf()
print(json.dumps({
    "waits": [r["ms"] for r in rows],
    "rows": [r["n"] for r in rows],
    "uds": conf.get("spark.python.unix.domain.socket.enabled"),
    "dir": conf.get("spark.python.unix.domain.socket.dir"),
}))
spark.stop()
"""


def test_small_task_input_wait_over_unix_sockets(tmp_path):
    """A session from ``get_spark`` streams to its Python workers over
    Unix domain sockets: a 10-row ``mapInArrow`` task waits well under a
    millisecond for its input, where loopback TCP stalled it ~40 ms
    (delayed ACK).  Under a temp directory of more than 100 characters —
    a benchmark's ``TMPDIR`` grows with its checkout path — the sockets go
    to a short private directory, removed at exit."""
    import json
    import statistics

    long_tmp = tmp_path / ("t" * 100)
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "TMPDIR": str(long_tmp),
        "SPARK_DRIVER_MEM": "1g",
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={long_tmp} pyspark-shell",
    }
    out = subprocess.run(
        [sys.executable, "-c", _INPUT_WAIT], env=env, capture_output=True,
        check=True, timeout=300,
    )
    got = json.loads(out.stdout.decode().strip().splitlines()[-1])
    assert got["uds"] == "true"
    assert len(got["dir"]) <= 64 and not os.path.exists(got["dir"])
    assert got["rows"] == [10] * 15
    assert statistics.median(got["waits"]) < 10.0, got["waits"]
