"""BM25 scoring and lexical-match operators as pure DataFrame plans.

Reproduces the reference's lexical retrieval semantics (SURVEY.md §2.3) on
Spark: Lucene-default BM25 (k1=1.2, b=0.75 — the reference's ES mappings set
no custom similarity, ``elasticsearch_index_manager.py:103-260``), exact term
match, multi-field dis-max, phrase adjacency, edge-ngram prefix and wildcard
match (``elasticsearch_adapters.py:172-255``).

Everything here is JVM-side Column arithmetic — no Python UDFs — so Catalyst
keeps the whole plan in codegen, pushes the ``term IN (...)`` predicate into
the postings scan, and plans the final top-k as TakeOrderedAndProject.

Scoring (Lucene BM25, the reference engine's default):
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q,d)  = Σ_t idf(t) * tfnorm(t,d)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_frame
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


BATCH_SCORE_SCHEMA = "query_id long, doc_id long, score double, n_terms_matched int"


def group_partitioned(df: DataFrame, key, n: int) -> DataFrame:
    """Pin the partitioning of a CPU-heavy ``applyInPandas`` group stage.

    AQE's partition coalescing is byte-based: the scorer's shuffle input is
    small compressed postings, so AQE happily collapses the n_groups-way
    shuffle into ONE post-shuffle partition and the whole scoring stage
    runs single-threaded (measured on the 100-query × 960k-doc batch:
    11.5 s plain groupBy vs 1.7 s with this explicit repartition — AQE
    does not coalesce user-specified repartitions).  The repartition's
    hash partitioning on the group key satisfies the groupBy's required
    distribution, so the plan still contains exactly one exchange
    (asserted in tests/test_wand.py)."""
    return df.repartition(n, key)


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
):
    """Per-doc-group batch scorer for ``applyInPandas``: accumulates a dense
    (local docs × queries) BM25 score matrix with one 2-D scatter-add per
    distinct term (each entry in ``term_to_qidx[t]`` is ``(query_idx,
    weight)``), finds every column's k-th matched score with a single matrix
    partition, and emits only the local top-k per query.  Groups must
    partition the doc space, so per-group top-k is exact.

    This replaces the JVM shape (broadcast (query,term) join → per-(query,
    doc) hash aggregate), which materializes ~|queries| × |corpus| groups —
    the round-2 batch path's scale wall (215M joined rows / 92M groups /
    62 s at 960k docs for 100 queries; this shape: ~4 s of numpy).

    ``flatten``: optional adapter from the group's rows to flat postings —
    the compressed-index paths pass ``sources.index_io.decode_shard_arrays``
    (a dict of arrays); raw (term, doc_id, tf, doc_len, df) posting frames
    pass None.

    Memory is BOUNDED regardless of batch size: the dense accumulator is
    built per query-column BLOCK sized so 8 B × local docs × block ≤
    ``target_acc_bytes`` (64 MiB default).  Per-term row positions are
    computed once and reused across blocks, and the scatter order per
    column is unchanged, so results are bit-identical to the single-block
    shape — a 10k-query batch simply walks more blocks instead of
    allocating a docs × 10k matrix."""
    import numpy as np
    import pandas as pd

    qids_np = np.asarray(qid_list, dtype=np.int64)
    nq = len(qid_list)
    n_docs_f = float(n_docs)
    kk = k
    # per-query minimum matched-term count (ES minimum_should_match,
    # resolved per query by the caller) — defaults to 1 everywhere
    msm_np = (
        np.asarray(min_match_per_qidx, dtype=np.int32)
        if min_match_per_qidx is not None
        else np.ones(nq, dtype=np.int32)
    )

    def score_group(key, pdf):
        empty = pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int64),
                "doc_id": np.array([], dtype=np.int64),
                "score": np.array([], dtype=np.float64),
                "n_terms_matched": np.array([], dtype=np.int32),
            }
        )
        flat = flatten(pdf) if flatten is not None else pdf
        if isinstance(flat, dict):
            # numpy-native flatten (sources.index_io.decode_shard_arrays):
            # terms arrive as integer codes — no O(postings) object column,
            # integer == masks instead of per-row string comparisons
            ids = flat["doc_id"]
            if ids.size == 0:
                return empty
            tf = flat["tf"].astype(np.float64)
            dl = flat["doc_len"].astype(np.float64)
            dfv = flat["df"].astype(np.float64)
            term_codes = flat["term_codes"]
            uniq_terms = flat["uniq_terms"]
        else:
            if flat.empty:
                return empty
            ids = flat["doc_id"].to_numpy(dtype=np.int64)
            tf = flat["tf"].to_numpy(dtype=np.float64)
            dl = flat["doc_len"].to_numpy(dtype=np.float64)
            dfv = flat["df"].to_numpy(dtype=np.float64)
            # factorize once (one hash pass) — iterating pd.unique + an
            # object-equality mask per term cost ~15× more at 250k rows;
            # first-appearance order matches pd.unique, so the per-cell
            # float accumulation order (and thus every bit of the sums)
            # is unchanged
            term_codes, uniq_terms = pd.factorize(flat["term"])
        docs_local = np.unique(ids)
        pos = np.searchsorted(docs_local, ids)
        idf = np.log(1.0 + (n_docs_f - dfv + 0.5) / (dfv + 0.5))
        contrib = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        # per-term posting rows + per-term (query columns, weights) — built
        # once, reused by every column block
        term_info = []
        for ci in range(len(uniq_terms)):
            qws = term_to_qidx.get(uniq_terms[ci])
            if not qws:
                continue
            m = np.flatnonzero(term_codes == ci)
            cols = np.asarray([qi for qi, _ in qws], dtype=np.intp)
            wts = np.asarray([w for _, w in qws], dtype=np.float64)
            term_info.append((pos[m], contrib[m], cols, wts))
        nrows = docs_local.size
        qblock = max(1, min(nq, target_acc_bytes // max(8 * nrows, 1)))
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
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
                "n_terms_matched": np.concatenate(out_n).astype(np.int32),
            }
        )

    return score_group


def batch_query_terms(
    queries: list[tuple[int, str]],
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
) -> tuple[list[int], dict, list[int] | None] | None:
    """A query set's batch-scorer inputs → (qid_list, term_to_qidx,
    per-query minimum matched-term counts or None), or None when no query
    has a term.  ``queries`` are tokenized, each distinct term at weight
    1.0; ``query_terms_override`` adds explicit (query_id, term, weight)
    triples — an expanded term contributes at its edit-ratio discount.

    When BOTH are given (the fused AC+fuzzy shape — one scan and decode
    pass instead of two jobs over the same postings) the two query-id
    spaces must be DISJOINT; each id is scored independently, so the fused
    result is row-identical to two separate calls.

    ``min_should_match`` (ES semantics, resolved PER QUERY against its own
    distinct-term count) applies only to the tokenized ``queries``: an
    override id's per-doc count tallies matched expansion VARIANTS, not
    query terms, so override-only calls reject it and override ids keep
    minimum 1."""
    from ..functions.tokenize import py_index_tokens

    tokens = {qid: list(dict.fromkeys(py_index_tokens(q))) for qid, q in queries}
    triples = [(qid, t, 1.0) for qid, _ in queries for t in tokens[qid]]
    qid_list = [qid for qid, _ in queries]
    if query_terms_override is not None:
        ovr = list(query_terms_override)
        ovr_qids = list(dict.fromkeys(q for q, _, _ in ovr))
        if set(ovr_qids) & set(qid_list):
            raise ValueError(
                "fused batch: override query ids must be disjoint from "
                "tokenized query ids"
            )
        if min_should_match != 1 and not queries:
            raise ValueError(
                "min_should_match cannot combine with query_terms_override"
            )
        triples += ovr
        qid_list += ovr_qids
    if not triples:
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


def score_pre_grouped(score_group, k: int):
    """The in-place scoring body: a ``mapInPandas`` function over a
    standing cache whose every partition holds ALL the postings of its docs
    (term-sorted within the partition), coalesced into fewer tasks.  Rows
    carry their cached partition id in ``part``; coalescing concatenates
    whole cached partitions, so each partition's rows arrive contiguously
    and are scored through ``score_group`` (``make_batch_group_scorer``
    with top ``k``) as soon as the next partition's rows start.  A cached
    partition is a doc group, so its local top-k per query is exact; the
    task merges its partitions' tops into one top-k per query under
    (score desc, doc_id asc) before it yields, so its output is ≤
    |queries| × k rows however many partitions it coalesced.  Per-task
    memory stays at one cached partition's postings."""
    import numpy as np
    import pandas as pd

    def flush(parts: list) -> pd.DataFrame:
        return score_group(None, pd.concat(parts, ignore_index=True))

    def merged(tops: list) -> pd.DataFrame:
        out = pd.concat(tops, ignore_index=True)
        order = np.lexsort(
            (out["doc_id"].to_numpy(), -out["score"].to_numpy(),
             out["query_id"].to_numpy())
        )
        out = out.iloc[order]
        return out[(out.groupby("query_id").cumcount() < k).to_numpy()]

    def score(batches):
        held, held_part, tops = [], None, []
        for pdf in batches:
            if pdf.empty:
                continue
            parts = pdf["part"].to_numpy()
            cuts = (np.flatnonzero(parts[1:] != parts[:-1]) + 1).tolist()
            for lo, hi in zip([0, *cuts], [*cuts, len(pdf)]):
                if held and parts[lo] != held_part:
                    tops.append(flush(held))
                    held = []
                held_part = parts[lo]
                held.append(pdf.iloc[lo:hi])
        if held:
            tops.append(flush(held))
        if tops:
            yield merged(tops)

    return score


def topk_pre_grouped(matched: DataFrame, score_group, k: int) -> DataFrame:
    """Task-local top-``k`` per query (``BATCH_SCORE_SCHEMA``) of
    ``matched`` — a filter over a standing cache laid out as
    ``score_pre_grouped`` requires — scored in place by ``score_group``
    (built with the same ``k``): tag ``spark_partition_id()``, ``coalesce``
    to ``defaultParallelism``, one ``mapInPandas``.  One job with no
    exchange, fresh cache or not (``mapInPandas`` requires no
    distribution), and at most one wave of Python tasks.  A Python stage
    pays the job/task launch path (~33-36 ms at local[4], about a JVM
    job's floor) plus Arrow feeding of its rows, not a per-task setup, so
    removing a stage or exchange is the lever; one wave over the cache
    beats a groupBy that shuffles it."""
    par = matched.sparkSession.sparkContext.defaultParallelism
    return (
        matched.withColumn("part", F.spark_partition_id())
        .coalesce(par)
        .mapInPandas(score_pre_grouped(score_group, k), BATCH_SCORE_SCHEMA)
    )


RAW_CACHE_COLS = ["term", "doc_id", "tf", "doc_len", "df"]


def raw_postings_cache(postings: DataFrame, df: DataFrame) -> DataFrame:
    """A standing raw postings cache: ``postings`` (term, doc_id, tf,
    doc_len) ⋈ the (term, df) table, hash-partitioned by doc_id to
    ``defaultParallelism`` and term-sorted within partitions — the layout
    ``topk_pre_grouped`` scores in place (a partition holds every posting
    of its docs).  Persisted; the first scoring job materializes it."""
    par = postings.sparkSession.sparkContext.defaultParallelism
    return (
        postings.select("term", "doc_id", "tf", "doc_len")
        .join(df.select("term", "df"), "term")
        .repartition(par, "doc_id")
        .sortWithinPartitions("term")
        .persist()
    )


def cached_topk_local(
    cached: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    *,
    n_docs: float,
    avgdl: float,
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Many queries' task-local top-k over a ``raw_postings_cache``, scored
    in place under the given corpus statistics → (query_id, doc_id, score,
    n_terms_matched), ≤ tasks × |queries| × k rows, un-merged (the caller
    merges them, ``similarity.merge_local_topk``).  The raw twin of
    ``plans.wand.batch_topk_local(pre_grouped=True)``: same inputs
    (``batch_query_terms``), same scorer, no varint decode."""
    spec = batch_query_terms(queries, query_terms_override, min_should_match)
    if spec is None:
        return local_frame(cached.sparkSession, [], BATCH_SCORE_SCHEMA)
    qid_list, term_to_qidx, msm_arr = spec
    score_group = make_batch_group_scorer(
        term_to_qidx, qid_list, n_docs, avgdl, k1, b, k,
        min_match_per_qidx=msm_arr,
    )
    matched = cached.where(F.col("term").isin(sorted(term_to_qidx))).select(
        *RAW_CACHE_COLS
    )
    return topk_pre_grouped(matched, score_group, k)


def _aggregate_exploded_rows(pdf):
    """Raw exploded token rows (term, doc_id, doc_len, df) → the numpy
    dict shape ``make_batch_group_scorer`` consumes, with tf computed by a
    run-length pass after an in-task lexsort.  Groups partition the doc
    space and carry every matched term of their docs, so the in-task tf
    equals the global (term, doc_id) aggregation — this removes the
    groupBy exchange from ``batch_topk``'s inline path (the exploded rows
    were already moving through the doc-group repartition anyway)."""
    import numpy as np
    import pandas as pd

    if pdf.empty:
        return {
            "term_codes": np.empty(0, dtype=np.int64),
            "uniq_terms": np.empty(0, dtype=object),
            "doc_id": np.empty(0, dtype=np.int64),
            "tf": np.empty(0, dtype=np.int64),
            "doc_len": np.empty(0, dtype=np.int64),
            "df": np.empty(0, dtype=np.int64),
        }
    codes, uniq = pd.factorize(pdf["term"])
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    dls = pdf["doc_len"].to_numpy(dtype=np.int64)
    dfv = pdf["df"].to_numpy(dtype=np.int64)
    order = np.lexsort((ids, codes))
    cs, is_ = codes[order], ids[order]
    newpost = np.empty(cs.size, dtype=bool)
    newpost[0] = True
    newpost[1:] = (cs[1:] != cs[:-1]) | (is_[1:] != is_[:-1])
    starts = np.flatnonzero(newpost)
    tf = np.diff(np.append(starts, cs.size))
    sel = order[starts]
    return {
        "term_codes": cs[starts].astype(np.int64),
        "uniq_terms": np.asarray(uniq, dtype=object),
        "doc_id": ids[sel],
        "tf": tf.astype(np.int64),
        "doc_len": dls[sel],
        "df": dfv[sel],
    }


def batch_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    postings: DataFrame | None = None,
    stats: CorpusStats | None = None,
    n_groups: int | None = None,
    min_should_match: int | str = 1,
) -> DataFrame:
    """Many queries in ONE job (the reference's msearch, S7): the (query_id,
    term) set scores against the postings inside per-doc-group Arrow tasks
    (``make_batch_group_scorer``), then a per-query window ranks the
    n_groups × nq × k local winners → (query_id, doc_id, score, rank ≤ k).

    ``min_should_match`` follows ES semantics, resolved PER QUERY against
    its own distinct-term count (``es_min_should_match``).

    This is the scale-correct serving shape for Spark: per-query latency is
    job-bound (~100ms floor), but a thousand queries cost one job — the
    reference query set runs amortized, not sequentially — and the
    query×doc fan-out never reaches a JVM aggregate (it lives in a numpy
    block per task; see make_batch_group_scorer).
    """
    from ..functions.tokenize import py_index_tokens
    from pyspark.sql import Window

    inline_postings = postings is None
    if stats is None:
        stats = corpus_stats(docs, text_col)
    spark = docs.sparkSession
    pairs = [
        (qid, t)
        for qid, q in queries
        for t in dict.fromkeys(py_index_tokens(q))
    ]
    out_schema = "query_id long, doc_id long, score double, rank int, n_terms_matched int"
    if not pairs:
        return local_frame(spark, [], out_schema)
    all_terms = sorted({t for _, t in pairs})
    qid_list = [qid for qid, _ in queries]
    qidx = {qid: i for i, qid in enumerate(qid_list)}
    term_to_qidx: dict[str, list[tuple[int, float]]] = {}
    for qid, t in pairs:
        term_to_qidx.setdefault(t, []).append((qidx[qid], 1.0))
    if n_groups is None:
        n_groups = max(32, spark.sparkContext.defaultParallelism * 2)

    # df side table: for inline postings the old broadcast aggregate over
    # the postings subtree duplicated the whole tokenize + (term, doc_id)
    # aggregation pipeline; df = |docs containing term| needs neither —
    # explode the DISTINCT tokens per doc and count (map-side combined,
    # shuffles ≤ |terms| rows per partition).  A term window instead would
    # serialize: ≤ |query terms| distinct keys coalesce to ~1 partition.
    # Cached/precomputed postings keep the direct aggregate over them.
    flatten = None
    if inline_postings:
        from ..functions.tokenize import spark_index_tokens
        from .postings import tokenized_documents

        tdf = (
            docs.select(
                F.explode(
                    F.array_distinct(spark_index_tokens(F.col(text_col)))
                ).alias("term")
            )
            .where(F.col("term").isin(all_terms))
            .groupBy("term")
            .agg(F.count("*").cast("double").alias("df"))
        )
        # inline path skips the (term, doc_id) aggregation EXCHANGE: raw
        # exploded rows go straight through the doc-group repartition and
        # tf is a run-length pass inside the scorer task (groups hold every
        # matched row of their docs, so the in-task tf is the global tf)
        exploded = tokenized_documents(docs, text_col).select(
            "doc_id", "doc_len", F.explode("tokens").alias("term")
        )
        flat = (
            exploded.where(F.col("term").isin(all_terms))
            .join(F.broadcast(tdf), "term")
            .select("term", "doc_id", "doc_len", "df")
        )
        flatten = _aggregate_exploded_rows
    else:
        matched = postings.where(F.col("term").isin(all_terms))
        tdf = matched.groupBy("term").agg(
            F.count("*").cast("double").alias("df")
        )
        flat = matched.join(F.broadcast(tdf), "term").select(
            "term", "doc_id", "tf", "doc_len", "df"
        )
    n_terms_of = {
        qid: len(dict.fromkeys(py_index_tokens(q))) for qid, q in queries
    }
    msm_arr = [
        es_min_should_match(min_should_match, n_terms_of[qid])
        for qid in qid_list
    ]
    scorer = make_batch_group_scorer(
        term_to_qidx, qid_list, stats.n_docs, stats.avgdl, k1, b, k,
        flatten=flatten,
        min_match_per_qidx=msm_arr,
    )
    grp_key = F.pmod(F.col("doc_id"), F.lit(n_groups))
    local_topk = (
        group_partitioned(flat, grp_key, n_groups)
        .groupBy(grp_key.alias("grp"))
        .applyInPandas(scorer, BATCH_SCORE_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank", "n_terms_matched")
    )


def phrase_match(
    docs: DataFrame,
    phrase_terms: list[str],
    text_col: str = "text",
    postings: DataFrame | None = None,
    slop: int = 0,
    ordered: bool = True,
    lucene: bool = False,
) -> DataFrame:
    """doc_ids containing the phrase (ES match_phrase; reference query at
    ``elasticsearch_adapters.py:206-216``, and the watchlist adapter's
    slop=1 variant at ``elasticsearch_watchlist_adapter.py:218-229``).

    ``slop`` semantics (anchored, documented contract shared with the
    indexed path and the DuckDB oracle): an occurrence is a position ``p``
    of term 0 such that every later term ``i`` appears somewhere in
    ``[p+i, p+i+slop]`` — each term may lag its exact slot by at most
    ``slop`` extra positions.  slop=0 is exact adjacency.

    ``ordered=False`` (ES-style sloppy phrase, which permits reordering at
    slop ≥ 2): term i's window becomes symmetric, ``[p+i-slop, p+i+slop]``
    — each term may be displaced at most ``slop`` positions from its exact
    slot in EITHER direction, so an adjacent transposition ("b a" for
    phrase "a b") matches at slop=2, exactly like Lucene's
    SloppyPhraseMatcher on two terms.  A strict superset of the anchored
    ordered matches at the same slop.  (Per-term windows are a documented
    approximation; for the exact budget see ``lucene=True``.)

    ``lucene=True`` (exact Lucene doc-match semantics): Lucene's
    SloppyPhraseMatcher accepts an alignment (one position ``p_i`` per
    term) when its matchLength — the SPAN of the offset-adjusted
    positions, ``max_i(p_i − i) − min_i(p_i − i)`` — is ≤ slop.  That
    criterion reduces to an anchored check where the anchor ranges over
    EVERY term's adjusted positions: the doc matches iff some
    ``s ∈ ⋃_i {p − i : p ∈ positions(term_i)}`` has every term ``i``
    present in ``[s+i, s+i+slop]`` (s = the min adjusted position of a
    witnessing alignment; conversely any such s yields an alignment of
    span ≤ slop).  At the same slop: ordered ⊆ lucene ⊆ unordered
    (property-tested).  ``n_occurrences`` counts distinct anchors s.
    ``ordered`` is ignored when lucene=True (the span budget inherently
    admits reordering once slop ≥ 2).  Phrases with REPEATED terms get
    Lucene's distinct-position requirement too: for each repeated term the
    windows are equal-width with sorted starts, so a system of distinct
    representatives exists iff Hall's condition holds on contiguous offset
    runs — ``|P_t ∩ [s+i_a, s+i_b+slop]| ≥ b−a+1`` for every offset pair
    (exact: overlapping runs' window unions are single intervals, and
    split runs follow from their components) — a per-anchor count filter
    (cross-checked against a brute-force alignment oracle in
    tests/test_wand.py).  One documented deviation from Lucene proper,
    NOT affecting doc sets: occurrence COUNTS follow the distinct-anchor
    contract rather than Lucene's greedy phraseFreq.

    Positions-list intersection: start from term 0's positions and
    successively keep only positions p with p+i(+d) present in term i's
    list — all JVM array expressions (`F.filter` + `array_contains`), no
    UDF.
    """
    if not phrase_terms:
        raise ValueError("empty phrase")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    # ONE corpus pass for every phrase shape: per-term position arrays
    # arrive as a per-doc map (term → positions) built by two aggregations,
    # and each term's pos_i column is a map lookup — the former per-term
    # join chain re-evaluated the whole postings subtree (a full tokenize +
    # positions aggregation) once per distinct term (guide §2.4).  Docs
    # missing any distinct term drop via the map-size filter, exactly like
    # the old inner joins.  When ``postings`` is supplied, only its matched
    # rows aggregate into the map (no corpus re-scan either way).
    uniq_terms = list(dict.fromkeys(phrase_terms))
    if postings is None:
        from .postings import tokenized_documents

        per_term = (
            tokenized_documents(docs, text_col)
            .select("doc_id", F.posexplode("tokens").alias("pos", "term"))
            .where(F.col("term").isin(uniq_terms))
            .groupBy("doc_id", "term")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        )
    else:
        per_term = postings.where(F.col("term").isin(uniq_terms)).select(
            "doc_id", "term", "positions"
        )
    base = (
        per_term.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("_pm")
        )
        .where(F.size("_pm") == len(uniq_terms))
    )
    for i, term in enumerate(phrase_terms):
        base = base.withColumn(f"pos_{i}", F.element_at("_pm", F.lit(term)))
    base = base.drop("_pm")
    lo = -slop if (not ordered and not lucene) else 0

    def _within_slop(pos_col: str, offset: int):
        def pred(p):
            cond = F.array_contains(F.col(pos_col), p + F.lit(offset + lo))
            for d in range(lo + 1, slop + 1):
                cond = cond | F.array_contains(
                    F.col(pos_col), p + F.lit(offset + d)
                )
            return cond

        return pred

    if lucene:
        return _phrase_match_lucene(base, phrase_terms, slop, _within_slop)
    current = base.withColumn("cand", F.col("pos_0"))
    for i in range(1, len(phrase_terms)):
        current = current.withColumn(
            "cand", F.filter(F.col("cand"), _within_slop(f"pos_{i}", i))
        )
    return (
        current.where(F.size("cand") > 0)
        .select("doc_id", F.size("cand").alias("n_occurrences"))
    )


def _shift_by(i: int):
    """Closure factory (NOT a default-arg lambda — Spark counts lambda
    parameters) mapping a position to its offset-adjusted value p − i."""
    return lambda p: p - F.lit(i)


def _hall_count_pred(pos_col: str, lo_off: int, hi_off: int, need: int):
    """Closure factory: anchor s survives iff ≥ ``need`` positions of
    ``pos_col`` fall in [s+lo_off, s+hi_off] (one Hall run of a repeated
    term's window family)."""

    def pred(s):
        def in_run(p):
            return (p >= s + F.lit(lo_off)) & (p <= s + F.lit(hi_off))

        return F.size(F.filter(F.col(pos_col), in_run)) >= F.lit(need)

    return pred


def _repeated_term_runs(phrase_terms: list[str], slop: int):
    """(pos_col_index, run_lo_offset, run_hi_offset, need) Hall checks for
    every repeated term's contiguous offset runs (empty for distinct-term
    phrases — the common case pays nothing)."""
    by_term: dict[str, list[int]] = {}
    for i, t in enumerate(phrase_terms):
        by_term.setdefault(t, []).append(i)
    runs = []
    for offs in by_term.values():
        if len(offs) < 2:
            continue
        for a in range(len(offs)):
            for b in range(a + 1, len(offs)):
                runs.append(
                    (offs[0], offs[a], offs[b] + slop, b - a + 1)
                )
    return runs


def _phrase_match_lucene(base, phrase_terms, slop, _within_slop):
    """Exact-Lucene span-budget phrase match (see ``phrase_match`` for the
    contract derivation).  Anchors = distinct offset-adjusted positions of
    ALL terms; an anchor survives iff every term i (term 0 included) has a
    position in [s+i, s+i+slop], and — for repeated terms — Hall's
    condition grants a distinct position per slot.  Anchors can be
    NEGATIVE (phrase "a b" over text "b a" at slop=2 witnesses s=−1:
    'a'∈[−1,1] via 1, 'b'∈[0,2] via 0) — array algebra handles that for
    free; the packed-key indexed twin (plans/wand.py::_phrase_intersect)
    needs a bias for it.

    ``base``: one row per candidate doc with ``pos_0 .. pos_{n-1}``
    per-term position columns (repeated terms share an array), built by
    ``phrase_match``'s single-pass map aggregation."""
    current = base
    shifted = [
        F.transform(F.col(f"pos_{i}"), _shift_by(i))
        for i in range(len(phrase_terms))
    ]
    cand = F.array_distinct(F.concat(*shifted)) if len(shifted) > 1 else shifted[0]
    current = current.withColumn("cand", cand)
    for i in range(len(phrase_terms)):
        current = current.withColumn(
            "cand", F.filter(F.col("cand"), _within_slop(f"pos_{i}", i))
        )
    for col_i, lo_off, hi_off, need in _repeated_term_runs(phrase_terms, slop):
        current = current.withColumn(
            "cand",
            F.filter(F.col("cand"), _hall_count_pred(f"pos_{col_i}", lo_off, hi_off, need)),
        )
    return current.where(F.size("cand") > 0).select(
        "doc_id", F.size("cand").alias("n_occurrences")
    )


def prefix_match_terms(
    postings: DataFrame, prefix: str, min_len: int = 2, max_len: int = 20
) -> DataFrame:
    """Edge-ngram prefix semantics (analyzer min 2 / max 20 grams,
    ``elasticsearch_index_manager.py:296-315``): all index terms extending
    ``prefix``. Rather than materializing edge-ngrams at index time (×10
    index bloat at web scale), the same result comes from a range predicate
    on the term dictionary — sargable on a term-sorted index."""
    p = prefix.lower()
    if len(p) < min_len:
        return postings.where(F.lit(False)).select("term").distinct()
    return (
        postings.where(F.col("term").startswith(p) & (F.length("term") >= min_len))
        .where(F.length(F.lit(p)) <= max_len)
        .select("term")
        .distinct()
    )


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
