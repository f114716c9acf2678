"""Dedup + similarity operators: synthesized near-dups must be found."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.dedup import (
    exact_duplicate_groups,
    distinct_by_text,
    jaccard_pairs_blocked,
    minhash_lsh_pairs,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    add_lsh_signature,
    knn_bruteforce,
    knn_lsh,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different text about spark query optimization engines"),
        (4, "another unrelated document mentioning databases and indexes"),
        (5, base + " with a small suffix appended"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(dup_docs):
    groups = exact_duplicate_groups(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [0, 1]
    kept = distinct_by_text(dup_docs)
    assert kept.count() == 5  # one of 0/1 dropped
    assert kept.where(F.col("doc_id").isin([0, 1])).count() == 1


def test_jaccard_blocked(dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_blocked(dup_docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (3, 4) not in pairs


def test_minhash_lsh_finds_near_dups(dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(dup_docs, threshold=0.6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert all(a < b for a, b in pairs)
    assert (3, 4) not in pairs


def test_simhash(dup_docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(dup_docs).collect()}
    assert fps[0] == fps[1]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(dup_docs, max_hamming=6).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs


def test_knn_bruteforce_and_lsh(spark):
    texts = [
        "spark join query engine",
        "spark join query engines",
        "totally different words entirely here",
        "sql analytics window functions",
        "spark join query engine extra",
    ]
    dim = 64
    rows = [(i, pseudo_embedding(t, dim)) for i, t in enumerate(texts)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = pseudo_embedding("spark join query engine", dim)

    exact = knn_bruteforce(emb, q, k=3).collect()
    assert exact[0]["vec_id"] == 0 and abs(exact[0]["cos_sim"] - 1.0) < 1e-9
    top_ids = [r["vec_id"] for r in exact]
    assert 2 not in top_ids

    with_sig = add_lsh_signature(emb, dim=dim, n_planes=12)
    ann = knn_lsh(with_sig, q, dim=dim, k=3, n_planes=12, max_hamming=4).collect()
    assert ann[0]["vec_id"] == 0 and abs(ann[0]["cos_sim"] - 1.0) < 1e-9


def test_knn_ivf_recall(spark):
    """IVF probe recovers the exact top-k on clustered data."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        assign_ivf_cells,
        knn_bruteforce,
        knn_ivf_probe_many,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(7)
    dim, per_cluster = 16, 40
    centers = rng.standard_normal((4, dim)) * 5
    rows = []
    i = 0
    for c in centers:
        for _ in range(per_cluster):
            v = c + rng.standard_normal(dim) * 0.3
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids(emb, n_centroids=4, iters=8)
    with_cell = assign_ivf_cells(emb, cents).persist()
    # cells should be balanced-ish (4 clusters of 40)
    sizes = [r["n"] for r in with_cell.groupBy("ivf_cell").count().withColumnRenamed("count", "n").collect()]
    assert len(sizes) == 4 and min(sizes) >= 20

    q = rows[5][1]  # a member of cluster 0
    exact = [r["vec_id"] for r in knn_bruteforce(emb, q, k=10).collect()]
    ann = [
        vid
        for _, vid, _ in knn_ivf_probe_many(
            with_cell, cents, [(0, q)], k=10, n_probe=1, as_rows=True
        )
    ]
    # single-probe IVF recovers the full exact top-10 on well-separated clusters
    assert ann == exact


def test_fnv1a_batch_matches_scalar():
    """The vectorized batch hash must stay byte-identical to the scalar
    FNV-1a reference (signatures/fingerprints depend on it bit-for-bit)."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.dedup import (
        _fnv1a_batch,
        _hash64,
    )

    strs = [
        "",
        "a",
        "hello world",
        "привет мир дуже довгий рядок",
        "日本語テスト",
        "x" * 257,
        "mixed 123 éüß",
    ]
    batch = _fnv1a_batch(strs)
    ref = np.array([_hash64(s) for s in strs], dtype=np.uint64)
    assert (batch == ref).all()
    assert _fnv1a_batch([]).size == 0


def test_ivf_partitioned_probe_prunes(spark, tmp_path):
    """A probe over a write_ivf_index dataset physically reads only the
    n_probe partition directories (verdict: replace the full-scan filter
    with a pruned storage path) — asserted from the files actually read —
    on a SOURCE-SORTED (clustered) fixture, and still recovers exact top-k."""
    import re

    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_probe_many,
        load_ivf_index,
        write_ivf_index,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    dim = 8
    centers = rng.standard_normal((4, dim)) * 6
    rows = []
    i = 0
    for c in centers:  # source-sorted: all of cluster 0 first, etc.
        for _ in range(50):
            v = c + rng.standard_normal(dim) * 0.2
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_idx")
    cents = write_ivf_index(emb, path, n_centroids=4, iters=8)
    indexed, loaded_cents = load_ivf_index(spark, path)
    assert np.allclose(cents, loaded_cents)

    q = rows[7][1]
    n_probe = 1
    probed = knn_ivf_probe_many(
        indexed, loaded_cents, [(0, q)], k=10, n_probe=n_probe, as_rows=True
    )
    exact = [r["vec_id"] for r in knn_bruteforce(emb, q, k=10).collect()]
    assert [vid for _, vid, _ in probed] == exact

    # physical pruning: every file the probe reads lives in <= n_probe cells
    qn = np.asarray(q) / np.linalg.norm(q)
    probe_cells = {int(c) for c in np.argsort(-(loaded_cents @ qn))[:n_probe]}
    cands = indexed.where(F.col("ivf_cell").isin(sorted(probe_cells)))
    files = [
        r[0] for r in cands.select(F.input_file_name()).distinct().collect()
    ]
    assert files
    cells_read = {int(re.search(r"ivf_cell=(\d+)", f).group(1)) for f in files}
    assert cells_read <= probe_cells


def test_knn_bruteforce_many_matches_per_query(spark):
    """Batched multi-query exact kNN ≡ per-query knn_bruteforce (arrow path),
    including tie-breaks, and its plan has NO cartesian fan-out — the
    query×doc product lives inside the mapInPandas task, never in a join."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce_many,
    )

    dim = 32
    texts = [f"doc number {i} spark {'join ' * (i % 5)}query" for i in range(60)]
    rows = [(i, pseudo_embedding(t, dim)) for i, t in enumerate(texts)]
    # duplicate embeddings force cosine ties → exercises the doc_id tie-break
    rows += [(100 + i, rows[i][1]) for i in range(5)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    queries = [
        (7, pseudo_embedding("spark join query", dim)),
        (8, pseudo_embedding("doc number 3", dim)),
        (9, pseudo_embedding("zzz unrelated", dim)),
    ]
    batched = knn_bruteforce_many(emb, queries, k=6)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    for qid, qv in queries:
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in knn_bruteforce(emb, qv, k=6, arrow=True).collect()
        ]
        assert got[qid] == want, qid

    plan = batched._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_filtered_is_topk_of_subset(spark):
    """ES knn.filter semantics: the filter applies DURING search — the
    result is the exact top-k OF the filtered subset (k survivors whenever
    the subset has >= k rows), not a starvable post-filter of an
    unfiltered top-k."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_filtered,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    dim = 16
    q = rng.standard_normal(dim)
    rows = []
    for i in range(200):
        # even ids hug the query direction, odd ids are noise: an
        # unfiltered top-5 contains (almost) no odd ids, so post-filtering
        # it to odds would starve — the pre-filter contract must not
        v = q * (2.0 if i % 2 == 0 else 0.0) + rng.standard_normal(dim)
        rows.append((i, i % 2, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    got = knn_filtered(emb, q.tolist(), predicate=F.col("label") == 1, k=5).collect()
    want = knn_bruteforce(
        emb.where(F.col("label") == 1), q.tolist(), k=5
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]
    assert len(got) == 5 and all(r["vec_id"] % 2 == 1 for r in got)

    # allowed-ids (doc-metadata) form: broadcast semi-join, same contract
    allowed = spark.createDataFrame(
        [(i,) for i in range(0, 200, 2)], "doc_id long"
    )
    got2 = knn_filtered(emb, q.tolist(), allowed_ids=allowed, k=5).collect()
    want2 = knn_bruteforce(
        emb.where(F.col("vec_id") % 2 == 0), q.tolist(), k=5
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got2] == [
        (r["vec_id"], r["cos_sim"]) for r in want2
    ]


def test_filtered_ann_probe_composes_and_keeps_pruning(spark, tmp_path):
    """Filtered ANN = pass a filtered index DataFrame to any probe: the
    cell predicate composes with the filter (partition pruning preserved
    — asserted from the files actually read) and the survivors are the
    filtered subset's exact top-k when the probe covers its cells."""
    import re

    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_probe_many,
        load_ivf_index,
        write_ivf_index,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(12)
    dim = 8
    centers = rng.standard_normal((4, dim)) * 6
    rows = []
    i = 0
    for c in centers:
        for _ in range(50):
            v = c + rng.standard_normal(dim) * 0.2
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_idx_filtered")
    write_ivf_index(emb, path, n_centroids=4, iters=8)
    indexed, cents = load_ivf_index(spark, path)

    q = rows[7][1]
    filtered = indexed.where(F.col("vec_id") % 3 == 0)
    probed = knn_ivf_probe_many(
        filtered, cents, [(0, q)], k=10, n_probe=4, as_rows=True
    )
    exact = knn_bruteforce(
        emb.where(F.col("vec_id") % 3 == 0), q, k=10
    ).collect()
    assert [(vid, round(cos, 9)) for _, vid, cos in probed] == [
        (r["vec_id"], round(r["cos_sim"], 9)) for r in exact
    ]

    # pruning survives under the filter: n_probe=1 still reads <= 1 cell dir
    qn = np.asarray(q) / np.linalg.norm(q)
    probe_cells = {int(c) for c in np.argsort(-(cents @ qn))[:1]}
    cands = filtered.where(F.col("ivf_cell").isin(sorted(probe_cells)))
    files = [
        r[0] for r in cands.select(F.input_file_name()).distinct().collect()
    ]
    assert files
    cells_read = {int(re.search(r"ivf_cell=(\d+)", f).group(1)) for f in files}
    assert cells_read <= probe_cells
