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

Every serving job is a standing map (``sources.tables.StandingMap``): its
projection and UDF column are built once per cache, and a call ships only
its spec, in a job-local property.  The pins here:

* an absolute ceiling on the py4j count of a warm escalated
  ``search_many`` per plan shape, and no UDF built during one;
* no spec property survives a call; two standing frames built on one
  thread read their own specs; two threads ship their own;
* a 100-query 384-d IVF batch (a spec of ~0.4 MB) serves the rows of the
  one-off probe, which binds its spec into the UDF instead;
* no ``mapInPandas`` / ``mapInArrow`` call outside the helper (AST guard).
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


# the py4j commands of a warm escalated ``search_many`` (rerank on), per
# plan shape, as measured with every serving job on a standing map — a few
# over, for call-site bookkeeping.  A rebuilt UDF costs ~45, a re-selected
# probe input ~25.
PY4J_CEILING = {"ivf": 54, "sq8": 65, "no_index": 52, "above_cap": 42}


@pytest.mark.parametrize("shape", ["ivf", "sq8", "no_index", "above_cap"])
def test_search_many_py4j_ceiling(spark, floor_plans, shape, monkeypatch):
    """A warm escalated ``search_many`` stays under its shape's py4j
    ceiling and builds no UDF: each standing map's column was built by the
    first call, and a call only ships its spec and plans its job."""
    import pyspark.sql.udf

    plans, words = floor_plans
    plan = plans[shape]
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    batch = [
        (q, " ".join(words[(3 + 5 * q + j) % len(words)] for j in range(3)))
        for q in range(16)
    ]
    plan.search_many(batch, opts)  # builds the maps, fills the caches
    built = []
    wrap = pyspark.sql.udf._wrap_function

    def spy(sc, func, returnType=None):
        built.append(func)
        return wrap(sc, func, returnType)

    out = {}
    monkeypatch.setattr(pyspark.sql.udf, "_wrap_function", spy)
    calls = _py4j_calls(
        spark, monkeypatch, lambda: out.update(meta=plan.search_many(batch, opts)[1])
    )
    assert all(m["escalated"] for m in out["meta"].values())
    assert built == []
    assert calls <= PY4J_CEILING[shape], calls


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
    "operators/bm25.py": {"cached_topk_local", "topk_pre_grouped", "phrase_match"},
    "operators/fuzzy.py": {"candidate_filter"},
}


def _method_calls(
    path: str, methods: set[str], functions: set[str] | None
) -> list[tuple[int, str]]:
    """(line, enclosing top-level function) of each ``<expr>.<method>(...)``
    call in ``path`` for a method in ``methods`` (within ``functions`` when
    given) — numpy's ``np.<method>`` on task-side arrays excepted."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name if fn is None else fn
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in methods
            and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "np")
            and (functions is None or fn in functions)
        ):
            found.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def _isin_calls(path: str, functions: set[str] | None) -> list[tuple[int, str]]:
    return _method_calls(path, {"isin"}, functions)


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


# the modules whose serving jobs run through ``sources.tables.StandingMap``:
# all of ``plans/`` and the serving operators, the dictionary's Bloom
# filter build (one job per attach, not per call) excepted.  A grouped
# ``applyInPandas`` is not allowed either: it brings an exchange of its own
MAP_SERVING = ("plans", "operators/bm25.py", "operators/similarity.py",
               "operators/fused_probe.py", "operators/pq.py", "operators/sq.py",
               "operators/fuzzy.py")
MAP_EXEMPT = {"operators/fuzzy.py": {"dictionary_bloom"}}


def _map_calls(path: str, exempt: set[str]) -> list[tuple[int, str]]:
    return [
        (line, fn)
        for line, fn in _method_calls(
            path, {"mapInPandas", "mapInArrow", "applyInPandas"}, None
        )
        if fn not in exempt
    ]


def test_no_map_udf_outside_the_standing_helper():
    """A serving job plans its Python stage through the standing helper:
    a ``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` call rebuilds
    its UDF (~45 py4j round trips) on every call."""
    root = os.path.dirname(pkg.__file__)
    files = []
    for rel in MAP_SERVING:
        path = os.path.join(root, rel)
        assert os.path.exists(path), rel
        if os.path.isdir(path):
            files += sorted(
                os.path.join(rel, f) for f in os.listdir(path) if f.endswith(".py")
            )
        else:
            files.append(rel)
    calls = {
        rel: _map_calls(os.path.join(root, rel), MAP_EXEMPT.get(rel, set()))
        for rel in files
    }
    assert {rel: c for rel, c in calls.items() if c} == {}
    # the exemption is live: the Bloom build still calls mapInPandas
    assert _method_calls(
        os.path.join(root, "operators/fuzzy.py"), {"mapInPandas"}, {"dictionary_bloom"}
    )


def test_map_guard_sees_a_map_call(tmp_path):
    """The guard's negative control: a ``mapInArrow`` or grouped
    ``applyInPandas`` call in any function is reported, one in an exempt
    function is not."""
    src = tmp_path / "mod.py"
    src.write_text(
        "def serve(df, body):\n"
        "    return df.mapInArrow(body, 'x long')\n"
        "def build(df, body):\n"
        "    return df.mapInPandas(body, 'x long')\n"
        "def match(df, body):\n"
        "    return df.groupBy('chunk').applyInPandas(body, 'x long')\n"
    )
    assert _map_calls(str(src), set()) == [(2, "serve"), (4, "build"), (6, "match")]
    assert _map_calls(str(src), {"build"}) == [(2, "serve"), (6, "match")]


# -- spec hygiene ---------------------------------------------------------------


def _spec_props(spark) -> list[str]:
    """The spec properties the calling thread holds."""
    from hybrid_sanctions_search_engine_spark.sources.tables import SPEC_PREFIX

    props = spark.sparkContext._jsc.sc().getLocalProperties()
    return sorted(
        str(k) for k in props.stringPropertyNames() if str(k).startswith(SPEC_PREFIX)
    )


@pytest.mark.parametrize("shape", ["ivf", "sq8", "no_index", "above_cap"])
def test_no_spec_property_survives_a_call(spark, floor_plans, shape, monkeypatch):
    """An escalated ``search_many`` ships specs (the lexical job's on this
    thread) and releases every one: none is left on the calling thread,
    nor on the speculative vector thread when it ends."""
    from hybrid_sanctions_search_engine_spark.plans import hybrid
    from hybrid_sanctions_search_engine_spark.sources.tables import StandingMap

    plans, words = floor_plans
    plan = plans[shape]
    shipped, left_on_threads = [], []
    frame = StandingMap.frame

    def spy(self, spec, *a, **kw):
        shipped.append(self.key)
        return frame(self, spec, *a, **kw)

    class Async(hybrid._Async):
        """``_Async`` that records the spec properties its thread holds
        once its function returns."""

        def __init__(self, fn):
            def run():
                try:
                    return fn()
                finally:
                    hybrid.release_specs()
                    left_on_threads.append(_spec_props(spark))

            super().__init__(run)

    monkeypatch.setattr(StandingMap, "frame", spy)
    monkeypatch.setattr(hybrid, "_Async", Async)
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    batch = [(q, f"{words[q]} {words[(q + 11) % len(words)]}") for q in range(8)]
    _, meta = plan.search_many(batch, opts)
    assert all(m["escalated"] for m in meta.values())
    assert shipped and all(shipped)
    assert _spec_props(spark) == []
    assert bool(left_on_threads) == plan._have_vectors
    assert all(p == [] for p in left_on_threads), left_on_threads


def _raw_tops(spark, rows) -> dict[int, list]:
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        merge_local_topk,
    )

    out: dict[int, list] = {}
    for q, doc, sc in merge_local_topk(((r[0], r[1], r[2]) for r in rows), 5):
        out.setdefault(q, []).append((doc, sc))
    return out


def test_two_standing_frames_on_one_thread_read_their_own_specs(spark, floor_plans):
    """Base ∪ delta builds two standing frames before it collects their
    union: each map ships its spec under its own key, so each frame scores
    its own queries — the rows of each collected alone."""
    from hybrid_sanctions_search_engine_spark.operators.bm25 import cached_topk_local
    from hybrid_sanctions_search_engine_spark.sources.tables import (
        Standing,
        collect_frame,
    )

    plans, words = floor_plans
    plan = plans["no_index"]
    stats = dict(n_docs=plan.stats.n_docs, avgdl=plan.stats.avgdl, cache_bytes=1)
    left, right = Standing(plan.postings), Standing(plan.postings)
    n = len(words)
    qa = [(q, f"{words[q]} {words[(q + 7) % n]}") for q in range(4)]
    qb = [(100 + q, f"{words[(q + 11) % n]} {words[(q + 17) % n]}") for q in range(4)]
    alone_a = _raw_tops(spark, collect_frame(cached_topk_local(left, qa, 5, **stats)))
    alone_b = _raw_tops(spark, collect_frame(cached_topk_local(right, qb, 5, **stats)))
    assert set(alone_a) == {0, 1, 2, 3} and set(alone_b) == {100, 101, 102, 103}
    fa = cached_topk_local(left, qa, 5, **stats)
    fb = cached_topk_local(right, qb, 5, **stats)
    both = _raw_tops(spark, collect_frame(fa.union(fb)))
    assert both == {**alone_a, **alone_b}
    assert _spec_props(spark) == []


def test_threads_ship_their_own_specs(spark, floor_plans):
    """The AC thread and the speculative vector thread each ship their own
    spec — also through one map: a spec property is per thread.  Each
    thread builds its frame, both wait, then each collects: the rows are
    each thread's own, and each thread ends holding no spec."""
    import threading

    from hybrid_sanctions_search_engine_spark.operators.similarity import ProbeRerank
    from hybrid_sanctions_search_engine_spark.sources.tables import collect_frame

    plans, words = floor_plans
    plan = plans["ivf"]
    n = len(words)
    lex = {
        "a": [(q, f"{words[q]} {words[(q + 9) % n]}") for q in range(4)],
        "b": [(q, f"{words[(q + 13) % n]}") for q in range(4)],
    }
    texts = {q: f"{words[q + 3]} {words[(q + 19) % n]}" for q in range(4)}
    qvecs = [(q, plan.encoder.encode_one(t)) for q, t in texts.items()]
    rerank = ProbeRerank(qtext=texts, anchors={q: ([], []) for q in texts}, fuzz=True)

    def lexical(name):
        return lambda: plan._score_base(lex[name], k=5)

    def vector():
        return plan._probe(qvecs, k=5, as_rows=False, rerank=rerank)

    jobs = {"a": lexical("a"), "b": lexical("b"), "v": vector}
    want = {name: sorted(collect_frame(make())) for name, make in jobs.items()}
    for pair in (("a", "v"), ("a", "b")):
        got, held, errors = {}, {}, []
        built = threading.Barrier(2, timeout=120)
        collected = threading.Barrier(2, timeout=120)

        def run(name):
            try:
                frame = jobs[name]()
                built.wait()
                if name == pair[0]:
                    got[name] = sorted(collect_frame(frame))
                    collected.wait()
                else:
                    collected.wait()  # the other thread collected (and released)
                    got[name] = sorted(collect_frame(frame))
                held[name] = _spec_props(spark)
            except BaseException as e:  # noqa: BLE001 — reported below
                errors.append(e)
                built.abort()
                collected.abort()

        threads = [threading.Thread(target=run, args=(n,)) for n in pair]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert got == {n: want[n] for n in pair}
        assert held == {n: [] for n in pair}


@pytest.fixture(scope="module")
def wide_ivf_plan(spark, sf_smoke_dir, tmp_path_factory):
    """An indexed plan with a 384-d IVF vector index."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import write_ivf_index
    from hybrid_sanctions_search_engine_spark.sources.index_io import build_index

    docs = spark.read.parquet(os.path.join(sf_smoke_dir, "documents.parquet"))
    root = tmp_path_factory.mktemp("wide_ivf")
    build_index(docs, str(root / "index"), n_shards=2, chunk_bits=7)
    emb = local_frame(
        spark,
        [
            (r["doc_id"], pseudo_embedding(r["text"], 384))
            for r in docs.select("doc_id", "text").limit(300).collect()
        ],
        "vec_id long, embedding array<double>",
    )
    write_ivf_index(emb, str(root / "ivf"), n_centroids=16, iters=8)
    plan = HybridSearchPlan(
        docs, embedding_dim=384, index_dir=str(root / "index"),
        ann_index_dir=str(root / "ivf"), ann_kind="ivf", ann_n_probe=3,
    )
    yield plan
    plan.close()


def test_wide_ivf_batch_serves_through_its_spec(spark, wide_ivf_plan, monkeypatch):
    """A 100-query 384-d IVF batch ships a spec of ~0.4 MB: the standing
    probe returns exactly the rows of the one-off probe over the same
    index (its spec bound into the UDF), and the batch's fused results
    equal ``search()``'s on a sample of its queries."""
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        ProbeRerank,
        knn_ivf_probe_many,
        merge_local_topk,
    )
    from hybrid_sanctions_search_engine_spark.sources import tables

    plan = wide_ivf_plan
    words = [
        r["term"]
        for r in plan.dictionary.orderBy(F.desc("df"), "term").limit(150).collect()
    ]
    texts = {
        q: f"{words[q % len(words)]} {words[(7 * q + 3) % len(words)]}"
        for q in range(100)
    }
    qvecs = [(q, plan.encoder.encode_one(t)) for q, t in texts.items()]
    rerank = ProbeRerank(qtext=texts, anchors={q: ([], []) for q in texts}, fuzz=True)
    sizes = []
    encode = tables.encode_spec
    def spy(spec):
        text = encode(spec)
        sizes.append(len(text))
        return text

    monkeypatch.setattr(tables, "encode_spec", spy)
    standing = merge_local_topk(
        tables.collect_frame(plan._probe(qvecs, k=5, as_rows=False, rerank=rerank)), 5
    )
    monkeypatch.undo()
    assert sizes and max(sizes) > 300_000, sizes
    # the same cache as a plain frame: a one-off map
    ref_frame = knn_ivf_probe_many(
        plan.ann_df, plan.ann_centroids, qvecs, k=5, n_probe=3, rerank=rerank,
    )
    reference = merge_local_topk(ref_frame.collect(), 5)
    assert standing == reference
    assert {q for q, *_ in standing} == set(texts)
    opts = SearchOpts(top_k=5, escalation_threshold=1e9)
    tops, meta = plan.search_many(list(texts.items()), opts)
    assert all(m["escalated"] for m in meta.values())
    batch_rows = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in tops.collect()
    )
    for q in (0, 37, 99):
        single, _ = plan.search(texts[q], opts)
        assert [(r["doc_id"], r["score"]) for r in single.collect()] == [
            (doc, score) for qq, _, doc, score in batch_rows if qq == q
        ]
