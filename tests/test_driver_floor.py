"""The driver floor of a serving call: per-call frames are built from one
predicate string, so a call's py4j round trips do not grow with its batch.

A ``Column`` predicate costs the driver py4j round trips per literal
(``F.lit``, each element of ``isin``'s list), so a call's round trips grew
with its queries, terms, cells and candidate ids.  Every serving
frame is now ``<projection built once per cache>.where(<text>)``, its
literals in ``sources.tables.sql_literal``'s hex form.  The pins here:

* the py4j count of an escalated ``search_many`` is the same for a
  2-query × 1-term batch and a 16-query × 6-term batch, on an indexed IVF
  plan, an indexed SQ8 plan, a no-index plan and a plan above its in-RAM
  dictionary cap;
* the lexical and probe frames still push their ``INSET`` filter into the
  cached scan;
* the literal form reads back byte for byte under both settings of
  ``spark.sql.parser.escapedStringLiterals``, and the served top-k and the
  fuzzy candidate rows equal their ``isin`` / ``Column`` references;
* no serving module builds an ``isin`` predicate again (AST guard).
"""

from __future__ import annotations

import ast
import os
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

import hybrid_sanctions_search_engine_spark as pkg
from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
from hybrid_sanctions_search_engine_spark.plans.hybrid import (
    HybridSearchPlan,
    SearchOpts,
)
from hybrid_sanctions_search_engine_spark.sources.tables import (
    local_frame,
    sql_in,
    sql_literal,
)

# strings whose SQL text a quote, a backslash or a multi-byte code point
# could break: the six characters A stay six characters
TRICKY = [
    "it's",
    "back\\slash",
    'dq"x',
    "end\\",
    "\\u0041",
    "кирилл",
    "ẞİς",
    "🙂x",
    "",
]

# -- the literal helper, Spark-free ------------------------------------------


def test_sql_literal_forms():
    assert sql_literal("it's") == "CAST(X'69742773' AS STRING)"
    assert sql_literal("") == "CAST(X'' AS STRING)"
    assert sql_literal("🙂") == "CAST(X'f09f9982' AS STRING)"
    assert sql_literal(7) == "7" and sql_literal(-3) == "-3"
    assert sql_literal(np.int64(12)) == "12" and sql_literal(np.int32(-1)) == "-1"
    for s in TRICKY:
        text = sql_literal(s)
        assert "\\" not in text and text.count("'") == 2, text
        hex_part = text[len("CAST(X'"):-len("' AS STRING)")]
        assert bytes.fromhex(hex_part).decode("utf-8") == s
    for bad in (True, 1.5, None, b"x"):
        with pytest.raises(TypeError):
            sql_literal(bad)


def test_sql_in_forms():
    assert sql_in("term", ["a", "b"]) == (
        "`term` IN (CAST(X'61' AS STRING), CAST(X'62' AS STRING))"
    )
    assert sql_in("ivf_cell", [3, np.int64(5)]) == "`ivf_cell` IN (3, 5)"
    assert sql_in("odd`name", [1]) == "`odd``name` IN (1)"
    assert sql_in("term", []) == "false"


# -- the literal form under both parser settings ------------------------------


@pytest.fixture(params=["false", "true"], ids=["escaped_off", "escaped_on"])
def escaped_literals(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


def _reference_candidate_filter(fuzzy) -> Column:
    """``FuzzyQueries.candidate_filter`` as the per-literal ``Column``
    builder it replaced: the reference its text must select the rows of."""
    by_len: dict[int, dict[str, set[str]]] = {}
    for _, ts in fuzzy.queries:
        for q in ts:
            by_len.setdefault(len(q[:2]), {}).setdefault(q[:2], set()).add(q)
    term = F.col("term")
    prefixes = sorted(p for buckets in by_len.values() for p in buckets)
    in_bucket = reduce(Column.__or__, (term.startswith(p) for p in prefixes))
    hits = []
    for plen, buckets in sorted(by_len.items()):
        prefix_map = F.create_map(
            *(
                c
                for pfx, qs in sorted(buckets.items())
                for c in (F.lit(pfx), F.array(*map(F.lit, sorted(qs))))
            )
        )
        hits.append(
            F.exists(
                prefix_map[F.substring(term, 1, plen)],
                lambda q: F.levenshtein(term, q) <= fuzzy.max_edits,
            )
        )
    return in_bucket & reduce(Column.__or__, hits)


def test_literals_read_back_exactly(spark, escaped_literals):
    frame = spark.range(1).select(
        *(F.expr(sql_literal(s)).alias(f"s{i}") for i, s in enumerate(TRICKY))
    )
    assert list(frame.collect()[0]) == TRICKY


def test_tricky_terms_serve_like_isin(spark, escaped_literals):
    """A tiny raw postings cache whose terms hold quotes, backslashes and
    multi-byte code points: the filter text keeps exactly ``isin``'s rows,
    the served top-k equals the scorer over those rows, and the fuzzy
    candidate rows equal the ``Column`` reference's."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import (
        RAW_CACHE_COLS,
        batch_query_terms,
        cached_topk_local,
        make_batch_group_scorer,
        raw_postings_cache,
    )
    from hybrid_sanctions_search_engine_spark.operators.fuzzy import FuzzyQueries
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        merge_local_topk,
    )

    terms = [t for t in TRICKY if t] + ["it'z", "back/slash", 'dq"y', "end/", "кирилп"]
    rows = [
        (t, doc, 1 + (doc + i) % 3, 5 + doc % 4)
        for i, t in enumerate(terms)
        for doc in range(i % 4, 12, 1 + i % 3)
    ]
    postings = local_frame(spark, rows, "term string, doc_id long, tf long, doc_len long")
    cache = raw_postings_cache(
        postings, postings.groupBy("term").agg(F.count("*").alias("df"))
    )
    try:
        want = sorted(terms[:5] + ["кирилл", "🙂x"])
        got_rows = cache.where(sql_in("term", want)).collect()
        assert sorted(got_rows) == sorted(cache.where(F.col("term").isin(want)).collect())
        assert sorted({r["term"] for r in got_rows}) == want

        queries = [(1, ["it's", "end\\"]), (2, ['dq"x', "\\u0041", "🙂x"]), (3, ["ẞİς", "кирилл"])]
        k, n_docs, avgdl = 5, 12.0, 6.5
        served = merge_local_topk(
            (tuple(r) for r in cached_topk_local(
                cache, queries, k, n_docs=n_docs, avgdl=avgdl, cache_bytes=1,
            ).collect()),
            k,
        )
        qid_list, term_to_qidx, msm = batch_query_terms(queries, None, 1, None)
        score_group = make_batch_group_scorer(
            term_to_qidx, qid_list, n_docs, avgdl, 1.2, 0.75, k,
            min_match_per_qidx=msm,
        )
        ref_rows = (
            cache.where(F.col("term").isin(sorted(term_to_qidx)))
            .select(*RAW_CACHE_COLS).toPandas()
        )
        ref = merge_local_topk(
            (tuple(r) for r in score_group(None, ref_rows).itertuples(index=False)),
            k,
        )
        assert served and served == ref
        assert {q for q, *_ in served} == {1, 2, 3}

        fuzzy = FuzzyQueries(
            queries=((1, ("it's", "back\\slash", "end\\")), (2, ('dq"x', "кирилл", "🙂x", "ẞİς"))),
        )
        text_rows = sorted(cache.where(fuzzy.candidate_filter()).collect())
        column_rows = sorted(cache.where(_reference_candidate_filter(fuzzy)).collect())
        assert text_rows == column_rows
        assert {"it'z", "back/slash", 'dq"y', "end/", "кирилп"} <= {
            r["term"] for r in text_rows
        }
    finally:
        cache.unpersist()


# -- the py4j count of a serving call ----------------------------------------


@pytest.fixture(scope="module")
def floor_plans(spark, sf_smoke_dir, tmp_path_factory):
    """Plans of every serving shape the ladder has: indexed with an IVF and
    with an SQ8 vector index, no index (exact vector scan), and indexed
    above the in-RAM dictionary cap (Bloom-pruned AC, in-job fuzzy)."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.operators.sq import write_ivf_sq8_index
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    root = tmp_path_factory.mktemp("driver_floor")
    index_dir = str(root / "index")
    build_index(docs, index_dir, n_shards=2, chunk_bits=7)
    emb = local_frame(
        spark,
        [
            (r["doc_id"], pseudo_embedding(r["text"], 64))
            for r in docs.select("doc_id", "text").limit(200).collect()
        ],
        "vec_id long, embedding array<double>",
    )
    write_ivf_index(emb, str(root / "ivf"), n_centroids=16, iters=8)
    write_ivf_sq8_index(emb, str(root / "sq8"), n_centroids=16, iters=8)
    vec = dict(embedding_dim=64, index_dir=index_dir, ann_n_probe=2)
    plans = {
        "ivf": HybridSearchPlan(docs, ann_index_dir=str(root / "ivf"), ann_kind="ivf", **vec),
        "sq8": HybridSearchPlan(docs, ann_index_dir=str(root / "sq8"), ann_kind="ivf_sq8", **vec),
        "no_index": HybridSearchPlan(docs, embeddings=emb, embedding_dim=64),
        "above_cap": HybridSearchPlan(docs, index_dir=index_dir),
    }
    plans["above_cap"].driver_expansion_max_terms = 0
    words = [
        r["term"]
        for r in plans["ivf"].dictionary.orderBy(F.desc("df"), "term").limit(120).collect()
    ]
    yield plans, words
    for plan in plans.values():
        plan.close()


def _py4j_calls(spark, monkeypatch, fn) -> int:
    """The py4j commands the driver sends while ``fn`` runs — without
    py4j's garbage-collection deletes, which run whenever Python frees a
    JVM handle.  ``_Async`` runs on the calling thread: pyspark's
    ``collect`` sets the call site only at its process-wide nesting depth
    0, so two threads collecting at once skip some of those commands by
    timing alone."""
    from py4j import protocol

    from hybrid_sanctions_search_engine_spark.plans import hybrid

    class Inline:
        """``_Async`` on the calling thread."""

        def __init__(self, fn):
            self._out = fn()

        def result(self):
            return self._out

    client = spark.sparkContext._gateway._gateway_client
    gc_delete = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith(gc_delete):
            sent.append(command)
        return send(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(hybrid, "_Async", Inline)
        m.setattr(client, "send_command", counting)
        fn()
    return len(sent)


@pytest.mark.parametrize("shape", ["ivf", "sq8", "no_index", "above_cap"])
def test_search_many_py4j_calls_do_not_grow_with_the_batch(
    spark, floor_plans, shape, monkeypatch
):
    """An escalated ``search_many`` (rerank on) sends the JVM as many py4j
    commands for 16 queries of 6 terms as for 2 queries of 1 term: every
    query, term, cell and candidate id rides in a predicate string."""
    plans, words = floor_plans
    plan = plans[shape]
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    small = [(1, words[0]), (2, words[1])]
    big = [
        (q, " ".join(words[(2 + 6 * q + j) % len(words)] for j in range(6)))
        for q in range(16)
    ]
    assert len({w for _, text in big for w in text.split()}) > 20
    counts = {}
    for name, batch in (("small", small), ("big", big)):
        out = {}
        plan.search_many(batch, opts)  # fills the caches and the dictionary views
        counts[name] = _py4j_calls(
            spark, monkeypatch, lambda: out.update(meta=plan.search_many(batch, opts)[1])
        )
        assert all(m["escalated"] for m in out["meta"].values()), name
        assert plan.last_batch_trace["fuzzy_rescored"] == 0, name
    assert counts["small"] == counts["big"], counts


def _cached_scan_filters(df) -> str:
    """The pushed filters of ``df``'s InMemoryTableScan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    line = next(ln for ln in text.splitlines() if "InMemoryTableScan" in ln)
    return line


def test_serving_frames_push_inset_into_the_cached_scan(spark, floor_plans):
    """The predicate text plans what ``isin`` planned: constant folding
    turns the hex literals into plain ones, and past the optimizer's
    ``IN``→``INSET`` threshold the cached scan prunes its batches by an
    ``INSET`` — the lexical frame on its terms, the probes on their cells
    and the SQ8 re-rank on its candidate ids."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import ProbeRerank

    plans, words = floor_plans
    entries = [(q, " ".join(words[6 * q: 6 * q + 6])) for q in range(4)]
    assert len({w for _, text in entries for w in text.split()}) == 24
    for shape in ("ivf", "no_index"):
        scan = _cached_scan_filters(plans[shape]._score_base(entries, k=5))
        assert "term#" in scan and " INSET " in scan, scan
    plan = plans["ivf"]
    qvecs = [(q, plan.encoder.encode_one(t)) for q, t in entries]
    rerank = ProbeRerank(
        qtext=dict(entries), anchors={q: ([], []) for q, _ in entries}, fuzz=True
    )
    probe = plan._probe(qvecs, k=5, as_rows=False, rerank=rerank, n_probe=12)
    scan = _cached_scan_filters(probe)
    assert "ivf_cell#" in scan and " INSET " in scan, scan
    sq8 = plans["sq8"]
    rerank_frame = sq8._probe(qvecs, k=5, as_rows=False, rerank=rerank, n_probe=12)
    scan = _cached_scan_filters(rerank_frame)
    assert "vec_id#" in scan and " INSET " in scan, scan


# -- AST guard ----------------------------------------------------------------

# the serving modules, and the serving functions of modules that also hold
# one-off or reference code (``bm25_topk``, the folds) free to use ``isin``
SERVING = {
    "plans/hybrid.py": None,
    "plans/wand.py": None,
    "operators/similarity.py": None,
    "operators/fused_probe.py": None,
    "operators/bm25.py": {"cached_topk_local", "topk_pre_grouped"},
    "operators/fuzzy.py": {"candidate_filter"},
}


def _isin_calls(path: str, functions: set[str] | None) -> list[tuple[int, str]]:
    """(line, enclosing function) of each ``<expr>.isin(...)`` call in
    ``path`` (within ``functions`` when given) — numpy's ``np.isin`` on
    task-side arrays excepted."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name if fn is None else fn
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "isin"
            and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "np")
            and (functions is None or fn in functions)
        ):
            found.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_no_isin_in_serving_frames():
    """A per-literal ``isin`` must not creep back into a serving frame: its
    list costs the driver ~4 py4j round trips per element."""
    root = os.path.dirname(pkg.__file__)
    calls = {
        rel: _isin_calls(os.path.join(root, rel), fns) for rel, fns in SERVING.items()
    }
    assert all(os.path.exists(os.path.join(root, rel)) for rel in SERVING)
    assert {rel: c for rel, c in calls.items() if c} == {}


def test_isin_guard_sees_a_column_isin(tmp_path):
    """The guard's negative control: it reports a ``Column.isin`` call in a
    named function, and passes ``np.isin`` and calls outside it."""
    src = tmp_path / "mod.py"
    src.write_text(
        "import numpy as np\n"
        "def serve(df, F, ids):\n"
        "    return df.where(F.col('term').isin(ids)), np.isin(ids, ids)\n"
        "def reference(df, F, ids):\n"
        "    return df.where(F.col('term').isin(ids))\n"
    )
    assert _isin_calls(str(src), {"serve"}) == [(3, "serve")]
    assert _isin_calls(str(src), None) == [(3, "serve"), (5, "reference")]
