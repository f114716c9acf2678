"""North-rule deployment contract: `spark-submit --py-files hse.zip`.

The whole job must run from a CLEAN working directory with the engine
shipped as a zip — driver and python workers both import the package from
`--py-files`, nothing from the repo checkout.  (Without the zip the
workers' cloudpickle by-reference imports fail with ModuleNotFoundError —
verified while writing this test.)"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


needs_submit = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def _submit(tmp_path, job, *args):
    """Run ``jobs/<job>`` through ``spark-submit --py-files hse.zip`` from a
    clean directory; asserts exit 0 → its JSON stdout lines."""
    workdir = tmp_path / f"clean-{job}"
    if not workdir.exists():
        workdir.mkdir()
        with zipfile.ZipFile(str(workdir / "hse.zip"), "w", zipfile.ZIP_DEFLATED) as zf:
            pkg_root = os.path.join(REPO, "hybrid_sanctions_search_engine_spark")
            for root, _dirs, files in os.walk(pkg_root):
                if "__pycache__" in root:
                    continue
                for f in files:
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
        shutil.copy(os.path.join(REPO, "jobs", job), workdir)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", "hse.zip", job, *args],
        cwd=str(workdir), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]


@needs_submit
def test_query_job_via_py_files(spark, sf_smoke_dir, tmp_path):
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    index_dir = str(tmp_path / "idx")
    build_index(docs.limit(200), index_dir, n_shards=2, chunk_bits=7)

    rows = _submit(
        tmp_path, "query_job.py", "--index-dir", index_dir,
        "--query", "spark query", "--k", "3",
    )
    assert len(rows) == 3
    assert all("doc_id" in r and "score" in r for r in rows)
    # deterministic order contract survives the deployment boundary
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))


@needs_submit
def test_compact_job_via_py_files(spark, sf_smoke_dir, tmp_path):
    """The compaction job folds a postings delta file, deletes it, and a
    second run over the emptied delta dir is the empty-delta no-op."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.postings import build_postings
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        IndexMeta,
        build_index,
    )

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    base, delta = docs.where(F.col("doc_id") % 4 != 0), docs.where(F.col("doc_id") % 4 == 0)
    index_dir, delta_dir = str(tmp_path / "idx"), str(tmp_path / "delta")
    build_index(base, index_dir, n_shards=2, chunk_bits=7)
    build_postings(delta, positions=False).coalesce(1).write.parquet(delta_dir)
    args = ("--index-dir", index_dir, "--delta-dir", delta_dir)

    (report,) = _submit(tmp_path, "compact_job.py", *args)
    assert report["status"] == "ok" and report["files_folded"]
    assert not [f for f in os.listdir(delta_dir) if f.endswith(".parquet")]
    assert report["n_docs"] == IndexMeta.load(index_dir).n_docs == base.count() + delta.count()
    assert _submit(tmp_path, "compact_job.py", *args) == [
        {"status": "noop", "reason": "empty delta"}
    ]
