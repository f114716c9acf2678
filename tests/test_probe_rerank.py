"""The batched vector leg reranks inside its probe tasks, and the batched
lexical job merges its local tops on the driver — both must return exactly
what the windowed compositions they replace returned.

* Vector leg: every plan — IVF-family or no-index — caches each vector's
  doc text, so each probe task reranks its own local top-k
  (``fuzzy.rerank_row``: the L9 fuzz boost and the L10 anchor multiplier)
  and emits no text; the driver merges.  The oracle is the windowed
  composition: per-query windowed hits ⋈ the doc store (base ∪ delta) →
  ``rapidfuzz_rerank_expr`` with the partial-ratio UDF → the JVM anchor
  multiplier.  Rows must agree in ids, score bits, ``cos_sim`` and
  ``anchor_mult``.
* The kernel alone: ``rerank_row`` row for row against the same JVM
  expressions over hand-picked edge cases (case mapping, Java's ``\\s``,
  empty strings, scores on the 60 / 80 class bounds), and its Levenshtein
  against a DP without Spark.
* Lexical leg: ``merge_local_topk`` over ``batch_topk_local`` must equal
  ``batch_topk_indexed``'s windowed rows in ids, score bits and order.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
    extract_anchors,
    partial_ratio_col,
    rapidfuzz_rerank_expr,
    rerank_row,
)
from hybrid_sanctions_search_engine_spark.operators.similarity import (
    ProbeRerank,
    knn_bruteforce_many,
    merge_local_topk,
)
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

DIM = 64
K = 5
# docs whose text carries a date or an 8-12-digit id, near the queries below
ANCHOR_DOCS = [
    (900, "ivan petrov born 1970-01-01 passport 1234567890 spark join"),
    (901, "ivan petrova born 01.02.1980 spark query join window"),
    (902, "olga ivanova id 987654321012 merge sort table"),
    (903, "passport 1234567890 customer order data"),
]
DELTA_DOCS = [
    (950, "ivan petrov 1970-01-01 fresh delta entry spark join"),
    (951, "delta customer 987654321012 order data merge"),
]
# vectors with no doc row: base (ANN) and delta side
NO_TEXT_BASE, NO_TEXT_DELTA = 10**9, 10**9 + 1
QUERIES = [
    (1, "ivan petrov 1970-01-01"),
    (2, "passport 1234567890 customer order"),
    (3, "olga ivanova 987654321012"),
    (4, "spark query join window"),
    (5, "zzzqqq unknown words"),
]
# the no-text vectors sit exactly on query 5 / query 4, so both rank first
NO_TEXT_QUERY = {NO_TEXT_BASE: QUERIES[4][1], NO_TEXT_DELTA: QUERIES[3][1]}


def _emb_rows(rows):
    return [(i, pseudo_embedding(t, DIM)) for i, t in rows]


@pytest.fixture(scope="module")
def corpus(spark, sf_smoke_dir):
    base = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
        .select("doc_id", "text").limit(120).collect()
    ] + ANCHOR_DOCS
    docs = local_frame(spark, base, "doc_id long, text string")
    emb = local_frame(
        spark,
        _emb_rows(base) + _emb_rows([(NO_TEXT_BASE, NO_TEXT_QUERY[NO_TEXT_BASE])]),
        "vec_id long, embedding array<double>",
    )
    delta_docs = local_frame(spark, DELTA_DOCS, "doc_id long, text string")
    delta_emb = local_frame(
        spark,
        _emb_rows(DELTA_DOCS + [(NO_TEXT_DELTA, NO_TEXT_QUERY[NO_TEXT_DELTA])]),
        "vec_id long, embedding array<double>",
    )
    return docs, emb, delta_docs, delta_emb


@pytest.fixture(scope="module")
def plans(spark, corpus, tmp_path_factory):
    from hybrid_sanctions_search_engine_spark.operators.pq import write_ivf_pq_index
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index

    docs, emb, _, _ = corpus
    root = tmp_path_factory.mktemp("probe_rerank")
    write_ivf_index(emb, str(root / "ivf"), n_centroids=4, iters=8)
    write_ivf_pq_index(emb, str(root / "ivf_pq"), n_centroids=4, m=16, iters=8)
    write_ivf_sq8_index(emb, str(root / "ivf_sq8"), n_centroids=4, iters=8)
    out = {
        kind: HybridSearchPlan(
            docs, embedding_dim=DIM, ann_index_dir=str(root / kind),
            ann_kind=kind, ann_n_probe=2, ann_refine=4,
        )
        for kind in ("ivf", "ivf_pq", "ivf_sq8")
    }
    out["no-index"] = HybridSearchPlan(docs, embeddings=emb, embedding_dim=DIM)
    yield out
    for plan in out.values():
        plan.close()


def _jvm_anchor_mult(text):
    """The L10 multiplier as a JVM expression over (qdates, qid_anchors):
    dob ×1.2, id ×1.1 when ``text`` contains a query anchor."""
    return F.when(
        F.exists(F.col("qdates"), lambda d: text.contains(d)), F.lit(1.2)
    ).otherwise(F.lit(1.0)) * F.when(
        F.exists(F.col("qid_anchors"), lambda i: text.contains(i)), F.lit(1.1)
    ).otherwise(F.lit(1.0))


def _windowed_hits(plan, qvecs):
    """Per-query windowed top-k (query_id, doc_id, cos_sim): the plan's
    probe with its default (windowed) merge, unioned with the delta's and
    re-windowed."""
    from pyspark.sql import Window

    hits = plan._probe(qvecs, k=K).select(
        "query_id", F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    if plan.delta_embeddings is not None:
        # the delta's cached embeddings, so both sides score the same rows
        dhits = knn_bruteforce_many(plan._delta_ann, qvecs, k=K).select(
            "query_id", F.col("vec_id").alias("doc_id"), "cos_sim"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        hits = (
            hits.unionByName(dhits)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= K)
            .drop("rn")
        )
    return hits.withColumn("score", F.col("cos_sim"))


def _oracle_rows(spark, plan, queries, opts):
    """The windowed composition the probe-side rerank replaced."""
    qtext = dict(queries)
    qvecs = [(q, plan.encoder.encode_one(t)) for q, t in queries]
    anchors = {q: extract_anchors(t) for q, t in queries}
    hits = _windowed_hits(plan, qvecs)
    if not opts.rapidfuzz_rerank and not any(d or i for d, i in anchors.values()):
        rows = [
            (r["query_id"], r["doc_id"], r["score"], r["cos_sim"], 1.0)
            for r in hits.collect()
        ]
    else:
        qmeta = local_frame(
            spark,
            [(q, qtext[q], anchors[q][0], anchors[q][1]) for q in qtext],
            "query_id long, qtext string, qdates array<string>, "
            "qid_anchors array<string>",
        )
        docs = plan.docs.select("doc_id", "text")
        if plan.delta_docs is not None:
            docs = docs.unionByName(plan.delta_docs.select("doc_id", "text"))
        with_text = docs.join(
            F.broadcast(hits.join(F.broadcast(qmeta), "query_id")), "doc_id"
        )
        if opts.rapidfuzz_rerank:
            with_text = rapidfuzz_rerank_expr(
                with_text, F.col("qtext"),
                partial_ratio_col(F.col("qtext"), F.col("text")),
                text_col="text",
            )
        rows = [
            tuple(r)
            for r in with_text.select(
                "query_id", "doc_id", "score", "cos_sim",
                _jvm_anchor_mult(F.col("text")).alias("anchor_mult"),
            ).collect()
        ]
    out = {q: [] for q in qtext}
    for q, d, s, c, m in rows:
        out[q].append((d, s, c, m))
    return {q: sorted(v) for q, v in out.items()}


def _served_rows(plan, queries, opts):
    got = plan._vector_stage_batch([q for q, _ in queries], dict(queries), opts)
    return {
        q: sorted((r["doc_id"], r["score"], r["cos_sim"], r["anchor_mult"]) for r in rows)
        for q, rows in got.items()
    }


OPTS = {
    "rerank": (SearchOpts(top_k=K), QUERIES),
    "anchors-only": (SearchOpts(top_k=K, rapidfuzz_rerank=False), QUERIES),
    "rerank-free": (
        SearchOpts(top_k=K, rapidfuzz_rerank=False),
        [(q, t) for q, t in QUERIES if not any(extract_anchors(t))],
    ),
}


@pytest.mark.parametrize("delta", [False, True], ids=["base", "delta"])
@pytest.mark.parametrize("mode", sorted(OPTS))
@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "ivf_sq8", "no-index"])
def test_probe_rerank_equals_windowed_join(spark, corpus, plans, kind, mode, delta):
    _, _, delta_docs, delta_emb = corpus
    plan = plans[kind]
    opts, queries = OPTS[mode]
    if delta:
        plan.attach_delta(delta_docs=delta_docs, delta_embeddings=delta_emb)
    try:
        want = _oracle_rows(spark, plan, queries, opts)
        got = _served_rows(plan, queries, opts)
    finally:
        if delta:
            plan.detach_delta()
    assert got == want
    # the case is live: anchors bite, and the no-text vectors rank first
    # for their queries — dropped (not replaced) exactly when text is read
    mults = {m for rows in got.values() for *_, m in rows}
    no_text = {NO_TEXT_BASE, NO_TEXT_DELTA} if delta else {NO_TEXT_BASE}
    served = {d for rows in got.values() for d, *_ in rows}
    if mode == "rerank-free":
        assert mults == {1.0} and no_text <= served
    else:
        assert {1.1, 1.2} & mults and not no_text & served
        assert len(got[5]) == K - 1


@pytest.mark.parametrize("kind", ["ivf", "ivf_pq", "ivf_sq8", "no-index"])
def test_empty_query_batch(plans, kind):
    """Every layout's probe takes an empty query batch: no merged rows, and
    an empty frame with the schema a non-empty batch's frame has — with
    rerank inputs or without — so base and delta frames still union."""
    plan = plans[kind]
    qtext = dict(QUERIES[:1])
    qvecs = [(q, pseudo_embedding(t, DIM)) for q, t in qtext.items()]
    rerank = ProbeRerank(
        qtext=qtext, anchors={q: extract_anchors(t) for q, t in qtext.items()},
        fuzz=True,
    )
    assert plan._probe([], k=K, as_rows=True) == []
    for rr in (None, rerank):
        empty = plan._probe([], k=K, rerank=rr)
        assert empty.schema == plan._probe(qvecs, k=K, rerank=rr).schema
        assert empty.collect() == []
    # the probe tasks rerank: no doc text reaches the JVM past them, nor
    # the driver
    assert not [
        f.name for f in empty.schema.fields if isinstance(f.dataType, StringType)
    ]
    assert empty.columns == [
        "query_id", "vec_id", "cos_sim", "score", "anchor_mult", "has_doc"
    ]


# (query, doc text) edge cases for the rerank kernel; each row is also run
# with a ±anchors variant.  Near-threshold rows: 10 distinct letters, the
# query upper-cased, with 0-4 substitutions give ratio = partial = 100 /
# 90 / 80 / 70 / 60 exactly.
_BASE10 = "abcdefghij"
KERNEL_CASES = [
    ("ИВАН ПЕТРОВ", "иван петров 1970-01-01"),
    ("Іван ПЕТРЕНКО", "іван петренко"),
    ("ΟΔΟΣ ΣΟΦΙΑΣ", "οδος σοφιας"),
    ("ΟΔΟΣ ΣΟΦΙΑΣ", "οδοσ σοφιασ"),
    ("ΣΑΣ. Σ", "σας. σ"),
    ("İSTANBUL İLİ", "istanbul ili"),
    ("İSTANBUL", "i̇stanbul"),
    ("STRAẞE 5", "straße 5"),
    ("STRAẞE", "strasse"),
    ("ivan\tpetrov", "petrov ivan"),
    ("ivan\npetrov", "petrov\r\nivan"),
    ("  ivan petrov  ", "ivan petrov"),
    ("\tpetrov ivan\n", " ivan\x0bpetrov\f"),
    # Java's \s does not match NBSP or U+2003, Python's does
    ("petrov\u00a0ivan", "ivan petrov"),
    ("petrov\u2003ivan", "ivan petrov"),
    ("ivan petrov", "petrov\u00a0ivan"),
    ("", "ivan petrov"),
    ("", ""),
    ("ivan", ""),
    ("   ", "ivan"),
    # short docs: ratio > 80 decides before the partial ratio runs
    ("ivan petrov", "ivan petrov"),
    ("ivan petrov", "ivan petrow"),
    ("ab", "ab"),
    ("ab", "ba"),
    ("a", "b"),
    ("ivanov ivan petrovich", "ivanov irina"),
    ("ivanov ivan petrovich", "completely unrelated words"),
    ("olga", "passport 1234567890 customer order data olga ivanova"),
    ("ivan petrov", "ivan petrov born 1970-01-01 passport 1234567890"),
    ("spark query join window", "ivan petrova born 01.02.1980 spark query join window"),
    *[
        (_BASE10.upper(), "".join("xyzw"[i] if i < n else c for i, c in enumerate(_BASE10)))
        for n in range(5)
    ],
    ("abcde", "abxde"),
    ("abcde", "abxye"),
    ("abcdefghijklmno", "abcdefghijklmnoxyz"),
    ("abcdefghijklmno", "abcdefghijkl"),
    ("ivan", None),
]
_KERNEL_ANCHORS = (["1970-01-01", "01.02.1980"], ["1234567890"])


def _kernel_rows():
    """(row id, query, text, cos, (dates, ids)) for every case × {no
    anchors, anchors}."""
    out = []
    for i, (q, t) in enumerate(KERNEL_CASES):
        for j, anchors in enumerate((([], []), _KERNEL_ANCHORS)):
            out.append((2 * i + j, q, t, 0.5 + 0.01 * i, anchors))
    return out


@pytest.mark.parametrize("fuzz", [True, False], ids=["fuzz", "anchors-only"])
def test_rerank_kernel_equals_jvm_expressions(spark, fuzz):
    """``rerank_row`` gives, row for row and bit for bit, the (score,
    anchor_mult) of ``rapidfuzz_rerank_expr`` over ``partial_ratio_col``
    and the JVM anchor multiplier."""
    rows = _kernel_rows()
    frame = local_frame(
        spark,
        [(r, q, t, c, a[0], a[1]) for r, q, t, c, a in rows],
        "rid long, qtext string, text string, score double, "
        "qdates array<string>, qid_anchors array<string>",
    )
    cos = {r: c for r, _, _, c, _ in rows}
    if fuzz:
        frame = rapidfuzz_rerank_expr(
            frame, F.col("qtext"), partial_ratio_col(F.col("qtext"), F.col("text"))
        )
    else:
        frame = frame.withColumn("fuzz_score", F.lit(None).cast("double"))
    want = {
        r["rid"]: (r["score"], r["mult"], r["fuzz_score"])
        for r in frame.select(
            "rid", "score", "fuzz_score", _jvm_anchor_mult(F.col("text")).alias("mult")
        ).collect()
    }
    got = {r: rerank_row(q, t, c, a, fuzz) for r, q, t, c, a in rows}
    assert got == {r: w[:2] for r, w in want.items()}
    assert {w[1] for w in want.values()} == {1.0, 1.1, 1.2, 1.2 * 1.1}
    if fuzz:
        # the case is live: all three classes, fuzz exactly on both class
        # bounds, and the Java-\s rows do not token-sort to a match
        classes = {
            round(w[0] / cos[r], 9) for r, w in want.items() if w[2] is not None
        }
        assert classes == {1.0, 1.1, 1.2}
        fuzz_at = {w[2] for w in want.values()}
        assert {60.0, 80.0} <= fuzz_at
        java_ws = [
            2 * KERNEL_CASES.index((f"petrov{sp}ivan", "ivan petrov"))
            for sp in ("\u00a0", "\u2003")
        ]
        assert all(want[r][2] <= 80 for r in java_ws)


def _dp_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_levenshtein_equals_dp():
    """The bit-parallel Levenshtein equals the textbook DP over random
    code-point strings (astral and combining code points included), both
    ways round, across the 64-bit word boundary."""
    import random

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import levenshtein

    rng = random.Random(7)
    alphabet = "abcйцΣςİ \u0307\U0001F600"
    for _ in range(3000):
        a, b = (
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, n)))
            for n in (12, 90)
        )
        want = _dp_levenshtein(a, b)
        assert levenshtein(a, b) == want == levenshtein(b, a), (a, b)


def test_plans_do_not_serve_through_the_jvm_rerank():
    """``rapidfuzz_rerank_expr`` is the JVM reference the tests compare the
    kernel against: no serving plan uses it."""
    import ast
    import pathlib

    import hybrid_sanctions_search_engine_spark.plans as plans_pkg

    hits = []
    for path in pathlib.Path(plans_pkg.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            names = (
                [a.name for a in node.names] if isinstance(node, ast.ImportFrom)
                else [node.attr] if isinstance(node, ast.Attribute)
                else [node.id] if isinstance(node, ast.Name) else []
            )
            if "rapidfuzz_rerank_expr" in names:
                hits.append(f"{path.name}:{node.lineno}")
    assert not hits


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    """A small index where many docs tie: 24 copies of each of two texts,
    in 2-doc chunks, so ties straddle the k cut across scorer groups."""
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index,
        load_index,
    )

    texts = ["alpha beta gamma", "alpha delta", "beta gamma delta epsilon"]
    rows = [(i, texts[i % 3]) for i in range(72)]
    docs = local_frame(spark, rows, "doc_id long, text string")
    index_dir = str(tmp_path_factory.mktemp("tie_index"))
    build_index(docs, index_dir, n_shards=2, chunk_bits=1)
    idx, meta = load_index(spark, index_dir)
    return index_dir, idx, meta


LEX_CASES = {
    "ties": dict(queries=[(1, "alpha"), (2, "beta gamma"), (3, "delta zeta")]),
    "msm75": dict(
        queries=[(1, "alpha beta gamma delta"), (2, "beta epsilon zeta omega")],
        min_should_match="75%",
    ),
    "fused-override": dict(
        queries=[(1, "alpha"), (2, "gamma delta")],
        # override ids ride above fz_off = max entry id + 1
        query_terms_override=[
            (3, "alpha", 0.5), (3, "beta", 0.75), (4, "epsilon", 0.8),
            (4, "delta", 1.0),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(LEX_CASES))
def test_lexical_local_tops_merge_equals_window(spark, tie_index, case, monkeypatch):
    from hybrid_sanctions_search_engine_spark.operators import bm25
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed,
        batch_topk_local,
    )

    # four scoring tasks, whatever the cores and this tiny index's size,
    # so the driver merge meets more task-local rows than it keeps
    monkeypatch.setattr(bm25, "serving_tasks", lambda spark, n_bytes: 4)
    index_dir, idx, meta = tie_index
    kw = dict(k=K, index_df=idx, meta=meta, **LEX_CASES[case])
    queries = kw.pop("queries")
    local = batch_topk_local(spark, index_dir, queries, **kw).collect()
    merged = merge_local_topk(
        ((r["query_id"], r["doc_id"], r["score"]) for r in local), K
    )
    windowed = [
        (r["query_id"], r["doc_id"], r["score"])
        for r in sorted(
            batch_topk_indexed(spark, index_dir, queries, **kw).collect(),
            key=lambda r: (r["query_id"], r["rank"]),
        )
    ]
    assert merged == windowed
    # the case is live: more local rows than the merge keeps, and (ties)
    # equal scores on both sides of the k cut
    assert len(local) > len(merged)
    if case == "ties":
        q1 = sorted((-r["score"], r["doc_id"]) for r in local if r["query_id"] == 1)
        assert q1[K - 1][0] == q1[K][0]
