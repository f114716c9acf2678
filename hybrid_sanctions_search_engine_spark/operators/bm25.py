"""BM25 scoring and lexical-match operators as pure DataFrame plans.

Reproduces the reference's lexical retrieval semantics (SURVEY.md §2.3) on
Spark: Lucene-default BM25 (k1=1.2, b=0.75 — the reference's ES mappings set
no custom similarity, ``elasticsearch_index_manager.py:103-260``), exact term
match, multi-field dis-max, phrase adjacency, prefix completion and wildcard
match (``elasticsearch_adapters.py:172-255``).

The reference operators (``bm25_topk``, ``bm25_topk_multi``, the
completion and wildcard matchers) are JVM-side Column arithmetic — no Python
UDFs — so Catalyst keeps the plan in codegen, pushes the ``term IN (...)``
predicate into the postings scan, and plans the final top-k as
TakeOrderedAndProject.  The serving top-k (``topk_pre_grouped``) is one
numpy body over doc groups; every batched and indexed BM25 call runs it.
Phrase matching is one numpy body too (``phrase_in_place``), over raw
documents (``phrase_match``) and over a positions index
(``plans.wand.batch_phrase_search``).

Scoring (Lucene BM25, the reference engine's default):
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q,d)  = Σ_t idf(t) * tfnorm(t,d)
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cache, partial
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StringType, StructType

from ..sources.tables import (
    Standing,
    frame_bytes,
    frame_of,
    local_frame,
    serving_map,
    serving_tasks,
    sql_in,
)
from .postings import CorpusStats, build_postings, corpus_stats, doc_lengths
from .similarity import local_topk

K1 = 1.2
B = 0.75


def idf_col(df_col, n_docs: int):
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def tfnorm_col(tf_col, dl_col, avgdl: float, k1: float = K1, b: float = B):
    return (tf_col * (k1 + 1.0)) / (
        tf_col + k1 * (1.0 - b + b * dl_col / F.lit(float(avgdl)))
    )


def es_min_should_match(spec: int | str, n_terms: int) -> int:
    """Resolve an Elasticsearch ``minimum_should_match`` spec against a
    query's optional-clause count — the reference's hybrid BM25 query uses
    ``"75%"`` (``elasticsearch_adapters.py:695``) and ``1`` elsewhere.

    ES/Lucene rules for the simple forms (the reference uses no combos):
    positive int N → N; negative int -N → n_terms − N; ``"P%"`` →
    ⌊n_terms·P/100⌋ (rounded down); ``"-P%"`` → n_terms − ⌊n_terms·P/100⌋.
    The result is clamped to [1, n_terms] (a computed value < 1 behaves as
    1).  DOCUMENTED DEVIATION from ES proper: when the requested value
    exceeds the optional-clause count, ES/Lucene match NOTHING, while this
    resolver clamps down to n_terms (all terms required) — callers and
    oracle writers must not assume the ES zero-hit edge; every scorer in
    this repo applies the clamped value consistently on both engine and
    oracle sides."""
    if n_terms <= 0:
        return 0
    if isinstance(spec, str):
        s = spec.strip()
        if not s.endswith("%"):
            return es_min_should_match(int(s), n_terms)
        pct = int(s[:-1])
        part = (n_terms * abs(pct)) // 100
        got = part if pct >= 0 else n_terms - part
    else:
        got = spec if spec >= 0 else n_terms + spec
    return max(1, min(n_terms, got))


def score_terms(
    postings: DataFrame,
    dl: DataFrame,
    terms: list[str],
    stats: CorpusStats,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-(doc, term) BM25 contributions for the given query terms.

    ``term IN (...)`` is pushed into the postings scan (partition/row-group
    pruning on a term-sorted index); document frequencies come from a
    count window over the term partition of the SAME matched rows — NOT a
    broadcast aggregate subquery, which re-evaluated the whole postings
    subtree (a second full tokenize pass when postings are built inline
    from documents, the entry-query shape; guide §2.4).  The window's
    shuffle moves only the |query terms| matched postings.
    """
    from pyspark.sql import Window

    matched = postings.where(F.col("term").isin(terms))
    with_dl = (
        matched
        if "doc_len" in matched.columns  # postings carry doc_len: no join
        else matched.join(dl, "doc_id")
    )
    df_col = (
        F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
    )
    scored = with_dl.withColumn(
        "term_score",
        idf_col(df_col, stats.n_docs)
        * tfnorm_col(F.col("tf"), F.col("doc_len"), stats.avgdl, k1, b),
    )
    return scored.select("doc_id", "term", "tf", "term_score")


def bm25_topk(
    docs: DataFrame,
    query: str | list[str],
    k: int = 10,
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    postings: DataFrame | None = None,
    dl: DataFrame | None = None,
    stats: CorpusStats | None = None,
    min_should_match: int | str = 1,
) -> DataFrame:
    """Top-k BM25 → (doc_id, score, n_terms_matched), deterministic order
    (score desc, doc_id asc). Catalyst plans the limit as a distributed
    TakeOrderedAndProject — no global sort materialization.

    ``min_should_match``: ES semantics (int or "P%", resolved by
    ``es_min_should_match``) — docs matching fewer distinct query terms are
    excluded BEFORE the top-k, so the k results all qualify."""
    from ..functions.tokenize import py_index_tokens

    terms = py_index_tokens(query) if isinstance(query, str) else list(query)
    if postings is None:
        postings = build_postings(docs, text_col, positions=False)
    if dl is None:
        dl = doc_lengths(docs, text_col)
    if stats is None:
        stats = corpus_stats(docs, text_col)
    scored = score_terms(postings, dl, terms, stats, k1, b)
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score"),
        F.count("*").cast("int").alias("n_terms_matched"),
    )
    # distinct count: n_terms_matched tallies distinct terms, and ES counts
    # each duplicate clause as matched — resolving against the duplicate-
    # inclusive count over-filtered duplicate-token queries (and diverged
    # from the batch paths, which already resolve against distinct counts)
    msm = es_min_should_match(min_should_match, len(dict.fromkeys(terms)))
    if msm > 1:
        agg = agg.where(F.col("n_terms_matched") >= msm)
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_multi(
    docs: DataFrame,
    modes: list[tuple[str, list[str], "int | str"]],
    k: int = 10,
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    postings: DataFrame | None = None,
    dl: DataFrame | None = None,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """Several BM25 top-k rankings over ONE postings pass →
    (mode, doc_id, score, n_terms_matched), rank ≤ k per mode under the
    usual (score desc, doc_id asc) order.

    ``modes``: (mode_label, terms, min_should_match) triples.  Each mode's
    rows carry exactly the values ``bm25_topk(docs, terms, k,
    min_should_match=...)`` produces — the union-of-terms contributions are
    scored once and fanned out to modes through a tiny broadcast membership
    join, so a two-mode entry query stops tokenizing the corpus once per
    mode (it was 4+ tokenize passes: two scoring branches and two df
    subqueries).  With ``stats=None`` the corpus statistics ride the SAME
    action as a broadcast 1-row aggregate instead of a separate
    driver-blocking job — identical doubles, one fewer action round trip."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    if postings is None:
        postings = build_postings(docs, text_col, positions=False)
    if dl is None:
        dl = doc_lengths(docs, text_col)
    union_terms = sorted({t for _, ts, _ in modes for t in ts})
    matched = postings.where(F.col("term").isin(union_terms))
    with_dl = (
        matched if "doc_len" in matched.columns else matched.join(dl, "doc_id")
    )
    df_col = (
        F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
    )
    if stats is None:
        sdf = dl.agg(
            F.count(F.lit(1)).cast("double").alias("_bm25_n_docs"),
            F.avg("doc_len").alias("_bm25_avgdl"),
        )
        with_dl = with_dl.crossJoin(F.broadcast(sdf))
        n_col, a_col = F.col("_bm25_n_docs"), F.col("_bm25_avgdl")
    else:
        n_col, a_col = F.lit(float(stats.n_docs)), F.lit(float(stats.avgdl))
    # same expression shape as idf_col/tfnorm_col with the stats as columns
    term_score = (
        F.log(F.lit(1.0) + (n_col - df_col + 0.5) / (df_col + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / a_col))
    )
    scored = with_dl.withColumn("term_score", term_score).select(
        "doc_id", "term", "tf", "term_score"
    )
    members = local_frame(
        spark,
        [
            (m, t)
            for m, ts, _ in modes
            for t in dict.fromkeys(ts)
        ],
        "mode string, term string",
    )
    agg = (
        scored.join(F.broadcast(members), "term")
        .groupBy("mode", "doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count("*").cast("int").alias("n_terms_matched"),
        )
    )
    msm_of = {
        m: es_min_should_match(msm, len(dict.fromkeys(ts)))
        for m, ts, msm in modes
    }
    msm_col = F.lit(1)
    for m, n in msm_of.items():
        msm_col = F.when(F.col("mode") == m, F.lit(n)).otherwise(msm_col)
    w = Window.partitionBy("mode").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.where(F.col("n_terms_matched") >= msm_col)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("mode", "doc_id", "score", "n_terms_matched")
    )


BATCH_SCORE_SCHEMA = (
    StructType().add("query_id", LongType()).add("doc_id", LongType())
    .add("score", DoubleType()).add("n_terms_matched", IntegerType())
)
# a scorer given ``FuzzyQueries`` also reports the terms it read: one row per
# term with ``term`` set (its other fields 0); score rows carry a null term
FUZZY_SCORE_SCHEMA = StructType([*BATCH_SCORE_SCHEMA.fields]).add("term", StringType())


@dataclass(frozen=True)
class GroupScoreSpec:
    """The inputs of a batch group scorer (``make_batch_group_scorer``)."""

    term_to_qidx: dict
    qid_list: list
    n_docs: float
    avgdl: float
    k1: float
    b: float
    k: int
    flatten: Any
    target_acc_bytes: int
    min_match_per_qidx: list | None
    fuzzy: Any


def make_batch_group_scorer(
    term_to_qidx: dict,
    qid_list: list[int],
    n_docs: float,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
    flatten=None,
    target_acc_bytes: int = 64 << 20,
    min_match_per_qidx=None,
    fuzzy=None,
):
    """Batch scorer over a union of whole doc groups (the in-place body,
    ``score_pre_grouped``, hands it one flush at a time): accumulates a dense
    (local docs × queries) BM25 score matrix with one 2-D scatter-add per
    distinct term (each entry in ``term_to_qidx[t]`` is ``(query_idx,
    weight)``), finds every column's k-th matched score with a single matrix
    partition, and emits only the local top-k per query.  Groups must
    partition the doc space, so per-group top-k is exact.

    ``flatten``: optional adapter from the group's rows to flat postings —
    the compressed-index paths pass ``partial(decode_shard_arrays,
    include_df=True)`` (``sources.index_io``; a dict of arrays); raw
    (term, doc_id, tf, doc_len, df) posting frames pass None.

    Memory is BOUNDED regardless of batch size: the dense accumulator is
    built per query-column BLOCK sized so 8 B × local docs × block ≤
    ``target_acc_bytes`` (64 MiB default).  Per-term row positions are
    computed once and reused across blocks, and the scatter order per
    column is unchanged, so results are bit-identical to the single-block
    shape — a 10k-query batch simply walks more blocks instead of
    allocating a docs × 10k matrix.

    ``fuzzy``: an ``operators.fuzzy.FuzzyQueries`` whose query ids are in
    ``qid_list``.  Each group expands those queries over the terms it
    holds (``FuzzyQueries.expand``), scores the expanded terms at their
    edit-ratio weights beside ``term_to_qidx``, and reports the terms
    (``FUZZY_SCORE_SCHEMA``).  Until a query's cap binds, a term's weight
    depends on the term and the query alone, so the rows equal an
    override of the driver-side expansion, bit for bit.

    The scorer is ``score_doc_group`` bound to a plain-data ``GroupScoreSpec``
    by ``functools.partial``: cloudpickle ships a module-level function by
    reference, where a nested closure is pickled by value on every job
    (~15 ms of ``cloudpickle.dumps`` per lexical job, most of it in its
    submodule scan)."""
    return partial(
        score_doc_group,
        GroupScoreSpec(
            term_to_qidx, list(qid_list), float(n_docs), float(avgdl), k1, b, k,
            flatten, target_acc_bytes,
            None if min_match_per_qidx is None else list(min_match_per_qidx),
            fuzzy,
        ),
    )


def _no_score_rows():
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "query_id": np.array([], dtype=np.int64),
            "doc_id": np.array([], dtype=np.int64),
            "score": np.array([], dtype=np.float64),
            "n_terms_matched": np.array([], dtype=np.int32),
        }
    )


def score_doc_group(spec: GroupScoreSpec, key, pdf):
    """A flush of whole doc groups' local top-k per query under ``spec``
    (see ``make_batch_group_scorer``).  ``key``, a grouped-map key, is
    ignored: the in-place body passes None."""
    import numpy as np
    import pandas as pd

    flat = spec.flatten(pdf) if spec.flatten is not None else pdf
    if not isinstance(flat, dict):
        # raw posting rows: factorize the terms once (one hash pass) —
        # iterating pd.unique + an object-equality mask per term cost
        # ~15× more at 250k rows
        term_codes, uniq_terms = pd.factorize(flat["term"])
        flat = {
            "term_codes": term_codes,
            "uniq_terms": np.asarray(uniq_terms, dtype=object),
            **{c: flat[c].to_numpy() for c in ("doc_id", "tf", "doc_len", "df")},
        }
    # numpy-native rows (sources.index_io.decode_shard_arrays): terms
    # are integer codes — no O(postings) object column, integer ==
    # masks instead of per-row string comparisons
    out = _score_rows(spec, flat)
    if spec.fuzzy is None:
        return out
    seen = flat["uniq_terms"]
    report = pd.DataFrame(
        {
            "query_id": np.zeros(len(seen), dtype=np.int64),
            "doc_id": np.zeros(len(seen), dtype=np.int64),
            "score": np.zeros(len(seen), dtype=np.float64),
            "n_terms_matched": np.zeros(len(seen), dtype=np.int32),
            "term": seen,
        }
    )
    return pd.concat([out.assign(term=None), report], ignore_index=True)


def _score_rows(spec: GroupScoreSpec, flat: dict):
    import numpy as np
    import pandas as pd

    ids = flat["doc_id"].astype(np.int64)
    if ids.size == 0:
        return _no_score_rows()
    k1, b, kk = spec.k1, spec.b, spec.k
    qids_np = np.asarray(spec.qid_list, dtype=np.int64)
    nq = len(spec.qid_list)
    # per-query minimum matched-term count (ES minimum_should_match,
    # resolved per query by the caller) — defaults to 1 everywhere
    msm_np = (
        np.asarray(spec.min_match_per_qidx, dtype=np.int32)
        if spec.min_match_per_qidx is not None
        else np.ones(nq, dtype=np.int32)
    )
    tf = flat["tf"].astype(np.float64)
    dl = flat["doc_len"].astype(np.float64)
    dfv = flat["df"].astype(np.float64)
    term_codes = flat["term_codes"]
    uniq_terms = flat["uniq_terms"]
    docs_local = np.unique(ids)
    pos = np.searchsorted(docs_local, ids)
    idf = np.log(1.0 + (spec.n_docs - dfv + 0.5) / (dfv + 0.5))
    contrib = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / spec.avgdl))
    expanded: dict[str, list[tuple[int, float]]] = {}
    if spec.fuzzy is not None:
        qidx_of = {qid: i for i, qid in enumerate(spec.qid_list)}
        for (qid, t), w in spec.fuzzy.expand(uniq_terms)[0].items():
            expanded.setdefault(t, []).append((qidx_of[qid], w))
    # per-term posting rows + per-term (query columns, weights) — built
    # once, reused by every column block.  Terms go in SORTED order, not
    # code order: a (doc, query) cell sums its terms' contributions in
    # this order, so the bits of a sum over ≥ 3 terms are the same however
    # the rows arrived — one cached partition or several in one flush
    term_info = []
    for ci in np.argsort(uniq_terms, kind="stable").tolist():
        qws = spec.term_to_qidx.get(uniq_terms[ci], []) + expanded.get(
            uniq_terms[ci], []
        )
        if not qws:
            continue
        m = np.flatnonzero(term_codes == ci)
        cols = np.asarray([qi for qi, _ in qws], dtype=np.intp)
        wts = np.asarray([w for _, w in qws], dtype=np.float64)
        term_info.append((pos[m], contrib[m], cols, wts))
    nrows = docs_local.size
    qblock = max(1, min(nq, spec.target_acc_bytes // max(8 * nrows, 1)))
    out_q, out_d, out_s, out_n = [], [], [], []
    for b0 in range(0, nq, qblock):
        b1 = min(b0 + qblock, nq)
        bw = b1 - b0
        # TRANSPOSED accumulator (queries × docs): each (term, query)
        # update writes one CONTIGUOUS row slice instead of a
        # column-strided scatter — the strided 2-D form was the
        # dominant per-group cost once decoding went numpy-native
        # (102 ms vs ~15 ms per 252k-posting group measured).  Per
        # (doc, query) cell the accumulation order is unchanged
        # (term_info order; within a group a (term, doc) pair appears
        # once), so the float sums are bit-identical.
        acc = np.zeros((bw, nrows), dtype=np.float64)
        cnt = np.zeros((bw, nrows), dtype=np.int32)
        for p, c, cols, wts in term_info:
            sel = (cols >= b0) & (cols < b1)
            if not sel.any():
                continue
            for bc, w in zip((cols[sel] - b0).tolist(), wts[sel].tolist()):
                # weight-1.0 (exact AC terms): skip the elementwise
                # multiply — same bits, no temp array
                acc[bc, p] += c if w == 1.0 else c * w
                cnt[bc, p] += 1
        # vectorized per-query top-k: one matrix partition finds each
        # query row's k-th matched score; only the ≥k-th candidates (k
        # + ties, a handful) get the exact (-score, doc) lexsort.
        # "matched" = cnt ≥ that query's minimum_should_match.
        msm_blk = msm_np[b0:b1]
        s_masked = np.where(cnt >= msm_blk[:, None], acc, -np.inf)
        if nrows > kk:
            kth = np.partition(s_masked, nrows - kk, axis=1)[:, nrows - kk]
        else:
            kth = np.full(bw, -np.inf)
        for bi in range(bw):
            cand = np.flatnonzero(
                (s_masked[bi] >= kth[bi]) & (cnt[bi] >= msm_blk[bi])
            )
            if cand.size == 0:
                continue
            d = docs_local[cand]
            s = acc[bi, cand]
            order = cand[local_topk(d, s, kk)]
            out_q.append(np.full(order.size, qids_np[b0 + bi]))
            out_d.append(docs_local[order])
            out_s.append(acc[bi, order])
            out_n.append(cnt[bi, order])
    if not out_q:
        return _no_score_rows()
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
            "n_terms_matched": np.concatenate(out_n).astype(np.int32),
        }
    )


def batch_query_terms(
    queries: list[tuple[int, "str | list[str]"]],
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    fuzzy=None,
) -> tuple[list[int], dict, list[int] | None] | None:
    """A query set's batch-scorer inputs → (qid_list, term_to_qidx,
    per-query minimum matched-term counts or None), or None when no query
    has a term.  ``queries`` are tokenized (a query given as a term list is
    taken verbatim), each distinct term at weight 1.0;
    ``query_terms_override`` adds explicit (query_id, term, weight)
    triples — an expanded term contributes at its edit-ratio discount.

    When BOTH are given (the fused AC+fuzzy shape — one scan and decode
    pass instead of two jobs over the same postings) the two query-id
    spaces must be DISJOINT; each id is scored independently, so the fused
    result is row-identical to two separate calls.

    ``min_should_match`` (ES semantics, resolved PER QUERY against its own
    distinct-term count) applies only to the tokenized ``queries``: an
    override id's per-doc count tallies matched expansion VARIANTS, not
    query terms, so override-only calls reject it and override ids keep
    minimum 1.

    ``fuzzy`` (``operators.fuzzy.FuzzyQueries``): query ids whose terms the
    scorer's tasks expand themselves — appended to ``qid_list`` under the
    override rules, with no entry in ``term_to_qidx``."""
    from ..functions.tokenize import py_index_tokens

    tokens = {
        qid: list(dict.fromkeys(py_index_tokens(q) if isinstance(q, str) else q))
        for qid, q in queries
    }
    triples = [(qid, t, 1.0) for qid, _ in queries for t in tokens[qid]]
    qid_list = [qid for qid, _ in queries]
    ovr = list(query_terms_override or [])
    ovr_qids = list(dict.fromkeys(q for q, _, _ in ovr))
    fz_qids = [q for q, ts in fuzzy.queries if ts] if fuzzy is not None else []
    if ovr_qids or fz_qids:
        if set(ovr_qids + fz_qids) & set(qid_list):
            raise ValueError(
                "fused batch: override query ids must be disjoint from "
                "tokenized query ids"
            )
        if min_should_match != 1 and not queries:
            raise ValueError(
                "min_should_match cannot combine with query_terms_override"
            )
        triples += ovr
        qid_list += ovr_qids + fz_qids
    if not triples and not fz_qids:
        return None
    qidx = {qid: i for i, qid in enumerate(qid_list)}
    term_to_qidx: dict[str, list[tuple[int, float]]] = {}
    for qid, t, wgt in triples:
        term_to_qidx.setdefault(t, []).append((qidx[qid], float(wgt)))
    msm_arr = None
    if min_should_match != 1:
        msm_arr = [
            es_min_should_match(min_should_match, len(tokens[qid]))
            if qid in tokens
            else 1
            for qid in qid_list
        ]
    return qid_list, term_to_qidx, msm_arr


# a task flushes its held cached partitions to the scorer once they hold
# this many postings: the per-task memory bound of the in-place body
FLUSH_POSTINGS = 1 << 16


def score_pre_grouped(score_group, k: int):
    """The in-place scoring body: a ``mapInPandas`` function over a frame
    whose every partition holds ALL the postings of its docs (a standing
    cache, or a one-off repartition of the matched rows), coalesced into
    fewer tasks.  Rows carry their partition id in ``part``; coalescing
    concatenates whole partitions, so each partition's rows arrive
    contiguously.  A task hands ``score_group`` (``make_batch_group_scorer``
    with top ``k``) each ``partition_flushes`` flush of whole partitions
    (``FLUSH_POSTINGS`` postings): per-partition flushing paid the scorer's
    pandas/numpy set-up (~1–3 ms) once per cached partition.  A flush is a
    union of doc groups, so its local top-k per query is exact.  The task
    merges its flushes' tops into one top-k per query under (score desc,
    doc_id asc) before it yields, so its output is ≤ |queries| × k rows
    however many partitions it coalesced (plus, from a ``fuzzy`` scorer,
    one report row per distinct term read).  A module-level
    body bound by ``functools.partial``, so it pickles by reference."""
    return partial(score_in_place, (score_group, k, FLUSH_POSTINGS))


def _merged_tops(tops: list, k: int):
    import numpy as np
    import pandas as pd

    out = pd.concat(tops, ignore_index=True)
    reports = None
    if "term" in out.columns:
        is_report = out["term"].notna().to_numpy()
        reports = out[is_report].drop_duplicates("term")
        out = out[~is_report]
    order = np.lexsort(
        (out["doc_id"].to_numpy(), -out["score"].to_numpy(),
         out["query_id"].to_numpy())
    )
    out = out.iloc[order]
    out = out[(out.groupby("query_id").cumcount() < k).to_numpy()]
    return out if reports is None else pd.concat([out, reports])


def partition_flushes(batches, flush_postings: int):
    """One task's pandas batches of a ``part``-tagged frame (each cached
    partition's rows contiguous, as ``coalesce`` concatenates them) as
    flushes of WHOLE partitions: the held partitions go out together at the
    first partition boundary where they reach ``flush_postings`` postings
    (a shard row counts its ``n_docs``, a raw row one), and at the end.  A
    partition is never split, and one larger than the budget flushes
    alone.  The one per-task memory bound of the in-place bodies
    (``score_in_place``, ``phrase_in_place``): about ``flush_postings``
    postings plus one partition.  ``held`` holds whole partitions, ``cur``
    the partition still streaming in."""
    import numpy as np
    import pandas as pd

    held, held_n, cur, cur_n, cur_part = [], 0, [], 0, None
    for pdf in batches:
        if pdf.empty:
            continue
        parts = pdf["part"].to_numpy()
        sizes = pdf["n_docs"].to_numpy() if "n_docs" in pdf.columns else None
        cuts = (np.flatnonzero(parts[1:] != parts[:-1]) + 1).tolist()
        for lo, hi in zip([0, *cuts], [*cuts, len(pdf)]):
            if cur and parts[lo] != cur_part:
                held, held_n, cur, cur_n = held + cur, held_n + cur_n, [], 0
                if held_n >= flush_postings:
                    yield pd.concat(held, ignore_index=True)
                    held, held_n = [], 0
            cur_part = parts[lo]
            cur.append(pdf.iloc[lo:hi])
            cur_n += hi - lo if sizes is None else int(sizes[lo:hi].sum())
            if held and cur_n >= flush_postings:
                # an outsized partition flushes alone
                yield pd.concat(held, ignore_index=True)
                held, held_n = [], 0
    if held or cur:
        yield pd.concat(held + cur, ignore_index=True)


def score_in_place(spec: tuple, batches):
    """The lexical jobs' one body, over one task's Arrow batches under a
    call's spec ``(score_group, k, flush_postings)`` — bound by
    ``score_pre_grouped``, or shipped per call to a standing map
    (``sources.tables.StandingMap``): each ``partition_flushes`` flush
    scored, the tops merged."""
    score_group, k, flush_postings = spec
    tops = [score_group(None, pdf) for pdf in partition_flushes(batches, flush_postings)]
    if tops:
        yield _merged_tops(tops, k)


def topk_pre_grouped(
    rows: "DataFrame | Standing",
    where: str,
    score_group,
    k: int,
    cache_bytes: int,
    n_queries: int,
    schema: StructType = BATCH_SCORE_SCHEMA,
) -> DataFrame:
    """Task-local top-``k`` per query (``BATCH_SCORE_SCHEMA``) of ``rows``
    filtered by the predicate text ``where`` — rows laid out as
    ``score_pre_grouped`` requires, from an input of ``cache_bytes`` —
    scored in place by ``score_group`` (built with the same ``k`` for
    ``n_queries`` query ids): tag ``spark_partition_id()``, ``coalesce`` to
    the job's task count, one ``mapInPandas`` of ``score_in_place``, and one
    wave of Python tasks.  Over a ``Standing`` cache the map and its UDF are
    built once (``sources.tables.StandingMap``) and the call ships only its
    spec: collect the frame with ``sources.tables.collect_frame``.
    ``mapInPandas`` requires no distribution, so a filter over a standing
    cache is scored with no exchange, fresh cache or not; a one-off frame
    brings the one exchange that laid it out (``plans.wand.chunk_groups``,
    ``doc_groups``).  The task count is ``sources.tables.serving_tasks`` of
    the input's bytes once per query id: the scorer's work is postings ×
    queries, and with no column statistics a query's term filter is taken
    to keep its whole input, as Spark's own size estimate takes a filter.
    Each Python task pays a fixed start-up floor, so a 16-query batch on a
    0.1 MB index is one task and leaves the other cores to the job beside
    it (the speculative vector probe), a 100-query batch on a 3 MB index
    fills every core, and so does a 960k-doc index for one query.
    ``schema``: ``FUZZY_SCORE_SCHEMA`` for a scorer built with ``fuzzy``."""
    tasks = serving_tasks(frame_of(rows).sparkSession, cache_bytes * max(n_queries, 1))
    smap = serving_map(rows, None, score_in_place, schema, partitioned=True)
    return smap.frame((score_group, k, FLUSH_POSTINGS), where, tasks)


RAW_CACHE_COLS = ["term", "doc_id", "tf", "doc_len", "df"]


def doc_groups(rows: DataFrame) -> DataFrame:
    """The raw opener: ``rows`` hash-partitioned by doc_id to
    ``defaultParallelism``, so a partition holds every row of its docs —
    the layout ``topk_pre_grouped`` scores in place."""
    par = rows.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(par, "doc_id")


def raw_postings_cache(postings: DataFrame, df: DataFrame) -> DataFrame:
    """A standing raw postings cache: ``postings`` (term, doc_id, tf,
    doc_len) ⋈ the (term, df) table — ``RAW_CACHE_COLS``, the scorer's own
    projection — opened by ``doc_groups`` and term-sorted within
    partitions.  Persisted; the first scoring job materializes it."""
    return doc_groups(
        postings.select("term", "doc_id", "tf", "doc_len")
        .join(df.select("term", "df"), "term")
    ).sortWithinPartitions("term").persist()


def cached_topk_local(
    cached: "DataFrame | Standing",
    queries: list[tuple[int, str]],
    k: int = 10,
    *,
    n_docs: float,
    avgdl: float,
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    fuzzy=None,
    k1: float = K1,
    b: float = B,
    cache_bytes: int,
) -> DataFrame:
    """Many queries' task-local top-k over raw postings laid out by
    ``doc_groups`` (a ``raw_postings_cache`` — a plan's as a ``Standing`` —
    or ``batch_topk``'s one-off frame; ``RAW_CACHE_COLS`` only), filtered
    by one predicate string
    (``sources.tables.sql_in``: no per-term py4j round trip) and scored in
    place under the given corpus statistics →
    (query_id, doc_id, score, n_terms_matched), ≤ tasks × |queries| × k
    rows, un-merged (the caller merges them,
    ``similarity.merge_local_topk``, or ranks them in a window).  The raw
    twin of ``plans.wand.batch_topk_local``: same inputs
    (``batch_query_terms``, ``fuzzy`` included), same scorer, no varint
    decode.  ``cache_bytes``: the input's size, which with the query count
    sizes the job (``topk_pre_grouped``); a standing plan measures it once
    per cache."""
    schema = BATCH_SCORE_SCHEMA if fuzzy is None else FUZZY_SCORE_SCHEMA
    spec = batch_query_terms(queries, query_terms_override, min_should_match, fuzzy)
    if spec is None:
        return local_frame(frame_of(cached).sparkSession, [], schema)
    qid_list, term_to_qidx, msm_arr = spec
    score_group = make_batch_group_scorer(
        term_to_qidx, qid_list, n_docs, avgdl, k1, b, k,
        min_match_per_qidx=msm_arr, fuzzy=fuzzy,
    )
    cond = sql_in("term", sorted(term_to_qidx)) if term_to_qidx else None
    if fuzzy is not None:
        fz = fuzzy.candidate_filter()
        cond = fz if cond is None else f"({cond}) OR ({fz})"
    return topk_pre_grouped(
        cached, cond, score_group, k, cache_bytes, len(qid_list), schema
    )


def batch_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    stats: CorpusStats | None = None,
    min_should_match: int | str = 1,
) -> DataFrame:
    """Many queries in ONE job over raw documents (the reference's
    msearch, S7) → (query_id, doc_id, score, rank ≤ k, n_terms_matched).

    The query terms' token rows are hash-partitioned by doc_id
    (``doc_groups``, the layout of ``raw_postings_cache``) and counted into
    (term, doc_id, doc_len, tf) postings by a JVM aggregate, which the
    doc_id partitioning already satisfies (no second exchange).  Joined
    with each term's df, the frame is scored in place by
    ``cached_topk_local``, and a per-query window ranks the local tops.
    The job is sized by the corpus scan's bytes (``frame_bytes(docs)``).

    ``min_should_match`` follows ES semantics, resolved PER QUERY against
    its own distinct-term count (``es_min_should_match``)."""
    from pyspark.sql import Window

    from ..functions.tokenize import py_index_tokens, spark_index_tokens
    from .postings import tokenized_documents

    spark = docs.sparkSession
    all_terms = sorted({t for _, q in queries for t in py_index_tokens(q)})
    if not all_terms:
        return local_frame(
            spark, [],
            "query_id long, doc_id long, score double, rank int, n_terms_matched int",
        )
    if stats is None:
        stats = corpus_stats(docs, text_col)
    # df = |docs containing term|: explode each doc's DISTINCT tokens and
    # count (map-side combined, ≤ |terms| rows per partition), broadcast
    tdf = (
        docs.select(
            F.explode(F.array_distinct(spark_index_tokens(F.col(text_col)))).alias("term")
        )
        .where(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    tokens = (
        tokenized_documents(docs, text_col)
        .select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .where(F.col("term").isin(all_terms))
    )
    postings = (
        doc_groups(tokens)
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count("*").alias("tf"))
        .join(F.broadcast(tdf), "term")
        .select(*RAW_CACHE_COLS)
    )
    local = cached_topk_local(
        postings, queries, k, n_docs=stats.n_docs, avgdl=stats.avgdl,
        min_should_match=min_should_match, k1=k1, b=b,
        cache_bytes=frame_bytes(docs),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank", "n_terms_matched")
    )


# -- phrase match ---------------------------------------------------------------
#
# The phrase contracts (ES match_phrase; the reference's query at
# ``elasticsearch_adapters.py:206-216``, and the watchlist adapter's slop=1
# variant at ``elasticsearch_watchlist_adapter.py:218-229``), implemented
# once, by ``_phrase_intersect``, for both entry points (``phrase_match``
# over raw documents, ``plans.wand.batch_phrase_search`` over a positions
# index) and mirrored by the contract's DuckDB oracles:
#
# - anchored (default): an occurrence is a position ``p`` of term 0 such
#   that every later term ``i`` appears somewhere in ``[p+i, p+i+slop]`` —
#   each term may lag its exact slot by at most ``slop`` extra positions.
#   slop=0 is exact adjacency.
# - ``ordered=False`` (ES-style sloppy phrase, which permits reordering at
#   slop ≥ 2): term i's window becomes symmetric, ``[p+i-slop, p+i+slop]``,
#   so an adjacent transposition ("b a" for phrase "a b") matches at
#   slop=2, exactly like Lucene's SloppyPhraseMatcher on two terms.  A
#   strict superset of the anchored matches at the same slop.  (Per-term
#   windows are a documented approximation; for the exact budget see
#   ``lucene=True``.)
# - ``lucene=True`` (exact Lucene doc-match semantics; ``ordered`` is then
#   ignored): SloppyPhraseMatcher accepts an alignment (one position ``p_i``
#   per term) when its matchLength — the SPAN of the offset-adjusted
#   positions, ``max_i(p_i − i) − min_i(p_i − i)`` — is ≤ slop.  That
#   reduces to an anchored check whose anchor ranges over EVERY term's
#   adjusted positions: the doc matches iff some ``s ∈ ⋃_i {p − i : p ∈
#   positions(term_i)}`` has every term ``i`` present in ``[s+i,
#   s+i+slop]`` (s = the min adjusted position of a witnessing alignment;
#   conversely any such s yields an alignment of span ≤ slop).  Anchors can
#   be NEGATIVE ("b a" for phrase "a b" witnesses s=−1 at slop=2).  A
#   repeated term also needs Lucene's distinct positions: its windows are
#   equal-width with sorted starts, so a system of distinct representatives
#   exists iff Hall's condition holds on contiguous offset runs —
#   ``|P_t ∩ [s+i_a, s+i_b+slop]| ≥ b−a+1`` for every offset pair (exact:
#   overlapping runs' window unions are single intervals, and split runs
#   follow from their components; ``_repeated_term_runs``).
#
# At the same slop: ordered ⊆ lucene ⊆ unordered.  ``n_occurrences`` counts
# distinct anchors (one documented deviation from Lucene proper, NOT
# affecting doc sets: counts follow the anchor contract rather than
# Lucene's greedy phraseFreq).  tests/test_wand.py checks both entry points
# against a brute-force alignment enumerator for all three contracts.

BATCH_PHRASE_SCHEMA = (
    StructType().add("query_id", LongType()).add("doc_id", LongType())
    .add("n_occurrences", IntegerType())
)

# a position key is ``local doc << 40 | position``: positions < 2^40, and a
# flush's dense local doc index < 2^23
_PHRASE_POS_BITS = 40


def _repeated_term_runs(phrase_terms: list[str], slop: int):
    """(first_offset, run_lo_offset, run_hi_offset, need) Hall checks for
    every repeated term's contiguous offset runs (empty for distinct-term
    phrases — the common case pays nothing)."""
    by_term: dict[str, list[int]] = {}
    for i, t in enumerate(phrase_terms):
        by_term.setdefault(t, []).append(i)
    runs = []
    for offs in by_term.values():
        for a in range(len(offs)):
            for b in range(a + 1, len(offs)):
                runs.append((offs[0], offs[a], offs[b] + slop, b - a + 1))
    return runs


def _phrase_intersect(
    per_term: dict, ordered_terms: list[str], slop: int,
    ordered: bool = True, lucene: bool = False,
):
    """Anchor keys of one phrase's occurrences under the contracts above
    (None when a term has no keys), from ``per_term``: each term's packed
    ``doc << _PHRASE_POS_BITS | position`` keys, unique.  Shift each
    term's keys by its offset (and its window's displacements) and
    intersect.  A shift that borrows below a document's position 0 makes a
    key no anchor can match (anchors are real positions), so no masking is
    needed.

    ``lucene``: anchors come from EVERY term's adjusted positions, and
    every term — term 0 included — must land in [s+i, s+i+slop].  Negative
    anchors would borrow into the doc bits, so all key arithmetic carries a
    ``+(n_terms−1+slop)`` position bias: biased pos ≥ pos−(n−1)+bias = slop
    ≥ the largest displacement d, so neither the anchors nor the ``−d``
    expansions underflow position 0 of their doc.  Repeated terms then pass
    the Hall-run counts (searchsorted range counts over the term's sorted
    keys).  Returned keys keep the bias: callers read only ``key >>
    _PHRASE_POS_BITS``."""
    import numpy as np

    if any(t not in per_term for t in ordered_terms):
        return None
    if not lucene:
        lo = -slop if not ordered else 0
        keys = per_term[ordered_terms[0]]
        for offset, t in enumerate(ordered_terms[1:], start=1):
            kt = per_term[t] - offset  # (doc << 40) | (pos - offset)
            if slop:
                kt = np.unique(np.concatenate([kt - d for d in range(lo, slop + 1)]))
            keys = np.intersect1d(keys, kt, assume_unique=True)
            if keys.size == 0:
                break
        return keys
    bias = len(ordered_terms) - 1 + slop
    adj = [per_term[t] - offset + bias for offset, t in enumerate(ordered_terms)]
    keys = np.unique(np.concatenate(adj)) if len(adj) > 1 else adj[0]
    for kt in adj:
        if slop:
            kt = np.unique(np.concatenate([kt - d for d in range(slop + 1)]))
        keys = np.intersect1d(keys, kt, assume_unique=True)
        if keys.size == 0:
            return keys
    pos_mask = (np.int64(1) << _PHRASE_POS_BITS) - 1
    for first_off, lo_off, hi_off, need in _repeated_term_runs(ordered_terms, slop):
        kt = np.sort(per_term[ordered_terms[first_off]])
        doc_base = keys & ~pos_mask
        # anchor key k = (doc << bits) | (s + bias); count raw positions of
        # the term in [s+lo_off, s+hi_off], clamped to the doc's own
        # position range so negative bounds can't borrow into doc bits
        lo = np.maximum(keys - bias + lo_off, doc_base)
        hi = np.maximum(keys - bias + hi_off, doc_base - 1)
        cnt = np.searchsorted(kt, hi, side="right") - np.searchsorted(kt, lo, side="left")
        keys = keys[cnt >= need]
        if keys.size == 0:
            break
    return keys


class PhraseSpec(NamedTuple):
    """A phrase call's spec (``phrase_in_place``).  ``flatten``: shard rows
    → ``decode_shard_arrays(positions=True)`` arrays, or None for raw
    (doc_id, term, pos) rows."""

    phrases: list  # (query_id, terms)
    slop: int
    ordered: bool
    lucene: bool
    flatten: Any
    flush_postings: int


def phrase_in_place(spec: PhraseSpec, batches):
    """The phrase jobs' one body, over one task's batches of a frame laid
    out as ``score_pre_grouped`` requires (every partition holds all the
    matched positions of its docs) → (query_id, doc_id, n_occurrences).
    In each ``partition_flushes`` flush every position is keyed by its
    doc's DENSE local index (``np.unique(..., return_inverse=True)``: a raw
    doc id ≥ 2^23 shifted by 40 bits overflows int64), the keys are split
    per term, and each phrase's ``_phrase_intersect`` runs over them.  A
    flush holds every position of its docs, so its matches are exact."""
    import numpy as np
    import pandas as pd

    for pdf in partition_flushes(batches, spec.flush_postings):
        flat = spec.flatten(pdf) if spec.flatten is not None else pdf
        if isinstance(flat, dict):
            tf = flat["tf"]
            doc = np.repeat(flat["doc_id"], tf)
            codes = np.repeat(flat["term_codes"], tf)
            uniq_terms, pos = flat["uniq_terms"], flat["positions"]
        else:
            codes, uniq_terms = pd.factorize(flat["term"])
            doc, pos = flat["doc_id"].to_numpy(), flat["pos"].to_numpy()
        docs, local = np.unique(doc, return_inverse=True)
        if docs.size >> (63 - _PHRASE_POS_BITS):
            raise ValueError(f"{docs.size} docs in one phrase flush overflow the keys")
        keys = (local.astype(np.int64) << _PHRASE_POS_BITS) | pos.astype(np.int64)
        cuts = np.cumsum(np.bincount(codes, minlength=len(uniq_terms)))[:-1]
        per_term = dict(
            zip(list(uniq_terms), np.split(keys[np.argsort(codes, kind="stable")], cuts))
        )
        out = []
        for qid, terms in spec.phrases:
            hits = _phrase_intersect(per_term, terms, spec.slop, spec.ordered, spec.lucene)
            if hits is None or hits.size == 0:
                continue
            at, counts = np.unique(hits >> _PHRASE_POS_BITS, return_counts=True)
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(at.size, qid, dtype=np.int64),
                        "doc_id": docs[at].astype(np.int64),
                        "n_occurrences": counts.astype(np.int32),
                    }
                )
            )
        if out:
            yield pd.concat(out, ignore_index=True)


def phrase_in_place_frame(
    rows: DataFrame,
    phrases: list[tuple[int, list[str]]],
    slop: int,
    ordered: bool,
    lucene: bool,
    flatten,
    n_bytes: int,
) -> DataFrame:
    """(query_id, doc_id, n_occurrences) of ``phrases`` over ``rows`` laid
    out by an opener (``doc_groups``, ``plans.wand.chunk_groups``): tag
    ``spark_partition_id()``, coalesce to ``serving_tasks`` of ``n_bytes``
    once per phrase, one ``mapInPandas`` of ``phrase_in_place``."""
    tasks = serving_tasks(rows.sparkSession, n_bytes * max(len(phrases), 1))
    smap = serving_map(rows, None, phrase_in_place, BATCH_PHRASE_SCHEMA, partitioned=True)
    spec = PhraseSpec(
        [(q, list(ts)) for q, ts in phrases], slop, ordered, lucene, flatten,
        FLUSH_POSTINGS,
    )
    return smap.frame(spec, None, tasks)


def phrase_match(
    docs: DataFrame,
    phrase_terms: list[str],
    text_col: str = "text",
    slop: int = 0,
    ordered: bool = True,
    lucene: bool = False,
) -> DataFrame:
    """doc_ids containing the phrase → (doc_id, n_occurrences), under the
    anchored, symmetric (``ordered=False``) or exact-Lucene (``lucene``)
    ``slop`` contract (see the phrase section's comment).

    The documents' tokens are posexploded into (doc_id, term, pos) rows,
    filtered by one predicate string to the phrase's terms, opened by
    ``doc_groups`` (one exchange) and matched in place by the body
    ``plans.wand.batch_phrase_search`` runs over a positions index
    (``phrase_in_place``), sized by the corpus scan's bytes."""
    from .postings import tokenized_documents

    if not phrase_terms:
        raise ValueError("empty phrase")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    rows = doc_groups(
        tokenized_documents(docs, text_col)
        .select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .where(sql_in("term", sorted(set(phrase_terms))))
    )
    return phrase_in_place_frame(
        rows, [(0, list(phrase_terms))], slop, ordered, lucene, None, frame_bytes(docs),
    ).drop("query_id")


def complete_prefix(
    dictionary: DataFrame,
    prefix: str,
    k: int = 10,
    min_len: int = 2,
    weight_col: str = "df",
) -> DataFrame:
    """Completion suggester (round-6 verdict item 7): prefix → the top-k
    dictionary completions ranked by popularity, the reference's ES
    ``completion`` subfield on the watchlist mapping
    (``elasticsearch_index_manager.py:115-116`` — ES ranks suggestions by a
    stored weight; here the weight is the term's document frequency, the
    natural corpus-derived signal, with the usual (weight desc, term asc)
    tie-break).

    ``dictionary``: (term, df) rows (``term_doc_freq`` output or an index's
    term dictionary).  Serving shape at scale: the prefix predicate is
    sargable on a term-sorted/bucketed dictionary (range pruning), the
    top-k is a TakeOrderedAndProject — no shuffle beyond the k rows.  The
    rank column is computed over the k-bounded result (single partition of
    ≤ k rows, never the corpus)."""
    from pyspark.sql import Window

    p = prefix.lower()
    top = (
        dictionary.where(
            F.col("term").startswith(p) & (F.length("term") >= min_len)
        )
        .orderBy(F.desc(weight_col), F.asc("term"))
        .limit(k)
    )
    w = Window.orderBy(F.desc(weight_col), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        F.lit(p).alias("prefix"), "term", weight_col, "rank"
    )


def complete_prefix_many(
    dictionary: DataFrame,
    prefixes: list[str],
    k: int = 10,
    min_len: int = 2,
    weight_col: str = "df",
) -> DataFrame:
    """``complete_prefix`` for several prefixes over ONE dictionary pass —
    per-prefix rows identical to the single-prefix operator (same filter,
    same (weight desc, term asc) top-k and rank), but the dictionary
    subtree (a full tokenize + aggregation when built inline from
    documents) is evaluated once instead of once per prefix."""
    from pyspark.sql import Window

    lits = F.array(*[F.lit(p.lower()) for p in prefixes])
    cand = (
        dictionary.where(F.length("term") >= min_len)
        .withColumn(
            "prefix",
            F.explode(F.filter(lits, lambda p: F.col("term").startswith(p))),
        )
    )
    w = Window.partitionBy("prefix").orderBy(F.desc(weight_col), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("prefix", "term", weight_col, "rank")
    )


def wildcard_match(postings: DataFrame, prefix: str) -> DataFrame:
    """Wildcard `prefix*` gate (off by default in the reference,
    ``elasticsearch_adapters.py:218-228``): docs with any matching term."""
    return (
        postings.where(F.col("term").startswith(prefix.lower()))
        .select("doc_id")
        .distinct()
    )


def dis_max(field_scores: list[DataFrame], tie_breaker: float = 0.3) -> DataFrame:
    """ES best_fields dis-max combine: max + tie_breaker * (sum - max) over
    per-field score DataFrames (doc_id, score). Reference weights/tie-breaker
    at ``config.py:162-179``."""
    unioned = field_scores[0]
    for other in field_scores[1:]:
        unioned = unioned.unionByName(other)
    return unioned.groupBy("doc_id").agg(
        (
            F.max("score")
            + F.lit(tie_breaker) * (F.sum("score") - F.max("score"))
        ).alias("score")
    )
