"""Top-k BM25 and phrase match over the compressed shard index.

Query lifecycle (mirrors the reference's AC search stage — the posting-list
join inside Elasticsearch, ``elasticsearch_adapters.py:428-484`` — re-expressed
over our own index):

 1. open the index's scored columns with ``chunk_groups`` once per index
    frame (``index_rows``), so every partition holds whole chunks: one
    shuffle over the parquet index, none over a standing cache built by the
    same opener.
 2. tokenize the query; map terms → shard ids driver-side (same xxhash64 the
    build used) → one predicate string (``_term_filter``) that the parquet
    scan prunes to |terms| shard directories and, via term-sorted row-group
    stats, to the matching rows only (a cached scan, by batch stats).
 3. score each partition in place (``operators.bm25.topk_pre_grouped``:
    ``sources.index_io.decode_shard_arrays`` decodes the rows and
    ``operators.bm25.make_batch_group_scorer`` sums the float64
    contributions and keeps each query's local top-k).  Chunks partition
    the doc space, so the local tops merge exactly.  A single query is a
    batch of one (``topk_search``).

No chunk is skipped by a score bound.  Block-max θ-pruning (an upper-bound
probe, a seed round, then the surviving chunks) lost to this one pass at
every corpus size measured, up to 1M Zipf docs (DESIGN_100TB.md, "Pruning
regime").  Phrase queries open their matched rows the same way and run the
one phrase body (``operators.bm25.phrase_in_place``, shared with the raw
``phrase_match``); a single phrase is a batch of one
(``batch_phrase_search``).

Rank-identity vs the uncompressed DataFrame BM25 plan is asserted in
tests/test_wand.py.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenize import py_index_tokens
from ..operators.bm25 import (
    BATCH_PHRASE_SCHEMA,
    BATCH_SCORE_SCHEMA,
    FUZZY_SCORE_SCHEMA,
    batch_query_terms,
    make_batch_group_scorer,
    phrase_in_place_frame,
    topk_pre_grouped,
)
from ..sources.index_io import (
    IndexMeta,
    decode_shard_arrays,
    index_bytes,
    load_index,
)
from ..sources.tables import Standing, frame_of, local_frame, sql_in


def _term_filter(terms: list[str], meta: IndexMeta) -> str:
    """The predicate text of the shard rows of ``terms``: their shard
    directories, routed driver-side by pmod(xxhash64(term), n_shards) —
    bit-compatible pure-Python XXH64 (tests/test_xxhash.py), so routing
    costs zero Spark jobs — then the terms."""
    from ..functions.xxhash import shard_of_term

    shards = sorted({shard_of_term(t, meta.n_shards) for t in terms})
    return f"{sql_in('shard', shards)} AND {sql_in('term', terms)}"


# the posting columns the scorers decode (the shard rows' block metadata and
# positions stay in the scan)
SCORE_COLS = ["term", "chunk", "df", "n_docs", "doc_gaps", "tfs", "doc_lens"]


def query_terms(query: str) -> list[str]:
    return py_index_tokens(query)


def topk_search(
    spark: SparkSession,
    index_dir: str,
    query: str | list[str],
    k: int = 10,
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    stats_out: dict | None = None,
    min_should_match: int | str = 1,
) -> DataFrame:
    """Exact top-k BM25 over the compressed index → (doc_id, score,
    n_terms_matched) ordered (score desc, doc_id asc), a lazy frame:
    ``batch_topk_local`` on a batch of one, then the best ``k`` of its
    task-local tops.

    A ``str`` query is tokenized; a ``list[str]`` is scored verbatim.
    ``min_should_match`` (ES semantics, ``operators.bm25.
    es_min_should_match``) resolves against the distinct-term count.

    ``stats_out`` does not change the result.  A dict passed here receives
    ``chunks_total`` (the chunks holding a query term, counted by one
    metadata-only job) and ``chunks_scored``, which equals it: no chunk is
    pruned."""
    if index_df is None or meta is None:
        index_df, meta = load_index(spark, index_dir)
    if stats_out is not None:
        terms = query_terms(query) if isinstance(query, str) else list(query)
        n = index_df.where(_term_filter(terms, meta)).select("chunk").distinct().count()
        stats_out.update(chunks_total=n, chunks_scored=n)
    return (
        batch_topk_local(
            spark, index_dir, [(0, query)], k=k, index_df=index_df, meta=meta,
            min_should_match=min_should_match,
        )
        .select("doc_id", "score", "n_terms_matched")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def batch_n_groups(spark: SparkSession, meta: IndexMeta) -> int:
    """The chunk-group count of ``chunk_groups``: twice the cores, at least
    32, capped by the index's chunk count (dense-id estimate) — a group
    beyond it is an EMPTY partition, and the explicit repartition launches a
    task for each — and at least 8."""
    n_groups = max(32, spark.sparkContext.defaultParallelism * 2)
    est_chunks = max(1, int(meta.n_docs) >> meta.chunk_bits)
    return max(8, min(n_groups, est_chunks))


def chunk_groups(spark: SparkSession, meta: IndexMeta, rows: DataFrame) -> DataFrame:
    """The one opener of the indexed BM25 body: shard ``rows`` hash-
    partitioned on ``pmod(chunk, batch_n_groups(spark, meta))``, so each
    partition holds whole chunks — every posting of its docs — as
    ``operators.bm25.topk_pre_grouped`` requires.

    A standing plan caches its index through this opener.  ``rows`` that
    a filter, projection or local sort derives from such a repartition
    (the plan's cache) are returned as they are: a second repartition
    would cost no shuffle (EnsureRequirements drops it), but AQE would
    re-plan every scoring job to drop it (~10 ms a job).  Over the
    parquet index (``load_index``) it is one shuffle of the matched rows
    (a filter above it is pushed below it), exempt from AQE's coalescing.
    The walk costs py4j round trips, so it runs once per index frame
    (``index_rows``), never per call."""
    node = rows._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter") or (
        node.nodeName() == "Sort" and not getattr(node, "global")()
    ):
        node = node.child()
    if node.nodeName() == "RepartitionByExpression" and (
        node.partitionExpressions().head().sql().startswith("pmod(chunk, ")
    ):
        return rows
    n = batch_n_groups(spark, meta)
    return rows.repartition(n, F.pmod(F.col("chunk"), F.lit(n)))


def batch_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    n_groups: int | None = None,
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    pre_grouped: bool = False,
) -> DataFrame:
    """Many queries in ONE job over the COMPRESSED index →
    (query_id, doc_id, score, rank, n_terms_matched), rank ≤ k per query:
    ``batch_topk_local``'s task-local tops under a per-query window
    (score desc, doc_id asc).  A caller that collects anyway merges the
    local tops on the driver instead (``similarity.merge_local_topk``) and
    skips the window's exchange.

    ``n_groups`` and ``pre_grouped`` have no effect: ``chunk_groups``
    sizes the groups, and opens a standing cache as it is."""
    from pyspark.sql import Window

    local = batch_topk_local(
        spark, index_dir, queries, k=k, index_df=index_df, meta=meta,
        query_terms_override=query_terms_override,
        min_should_match=min_should_match,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank", "n_terms_matched")
    )


def index_rows(spark: SparkSession, meta: IndexMeta, index_df: DataFrame) -> DataFrame:
    """The rows the indexed scorer reads: ``index_df``'s ``SCORE_COLS``
    opened by ``chunk_groups`` — built once per index frame (a standing
    plan builds its cache's once, and ``chunk_groups`` takes the cache as
    it is).  Each call filters it with one predicate string
    (``index_topk_local``); the term filter's ``shard`` column, outside the
    projection, resolves below it, so a parquet scan still prunes shard
    directories."""
    return chunk_groups(spark, meta, index_df.select(*SCORE_COLS))


def batch_topk_local(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, "str | list[str]"]],
    k: int = 10,
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    fuzzy=None,
    cache_bytes: int | None = None,
) -> DataFrame:
    """Many queries' task-local top-k over the COMPRESSED index (the
    serving shape ``operators.bm25.batch_topk`` provides over raw
    documents, minus its corpus re-tokenize): ``index_topk_local`` over
    ``index_rows`` of ``index_df`` — the parquet index (one exchange), or
    a standing cache built by ``chunk_groups`` (none) — loaded from
    ``index_dir`` when not given.  ``cache_bytes``: the index's shard
    bytes (``sources.index_io.index_bytes``, read here when not given)."""
    if index_df is None or meta is None:
        index_df, meta = load_index(spark, index_dir)
    if cache_bytes is None:
        cache_bytes = index_bytes(index_dir)
    return index_topk_local(
        index_rows(spark, meta, index_df), queries, k, meta=meta,
        query_terms_override=query_terms_override,
        min_should_match=min_should_match, fuzzy=fuzzy, cache_bytes=cache_bytes,
    )


def index_topk_local(
    rows: "DataFrame | Standing",
    queries: list[tuple[int, "str | list[str]"]],
    k: int = 10,
    *,
    meta: IndexMeta,
    query_terms_override: list[tuple[int, str, float]] | None = None,
    min_should_match: int | str = 1,
    fuzzy=None,
    cache_bytes: int,
) -> DataFrame:
    """The indexed BM25 body: ``rows`` (``index_rows``; a standing plan's
    as a ``sources.tables.Standing``) filtered by one predicate string —
    the exact terms' rows, pruned to their shards, OR fuzzy's candidates —
    then scored in place per task
    (``operators.bm25.topk_pre_grouped``: one dense (local docs × queries)
    accumulator per flush, local top-k per query) →
    (query_id, doc_id, score, n_terms_matched), ≤ tasks × |queries| × k
    rows, un-merged.  Chunks partition the doc space, so each query's
    global top-k is exactly the top k of its local rows.  The call's py4j
    round trips do not grow with its queries or terms: they all ride in
    the predicate text.

    Scores use the same BM25 formula and stored df as the JVM path; sums run
    in a different float order (per-term numpy accumulation vs hash-agg
    arrival order), so equality with the document-side plan holds to ~1e-12
    relative, not bit-exactly.

    ``queries`` / ``query_terms_override`` / ``min_should_match``: the
    tokenized (or, given as a term list, verbatim) queries, explicit
    weighted (query_id, term, weight) triples beside or instead of them,
    and the ES minimum_should_match of the tokenized ones
    (``operators.bm25.batch_query_terms`` holds the rules).  ``fuzzy``
    (``operators.fuzzy.FuzzyQueries``) adds query ids the scoring tasks
    expand themselves over the candidate rows they read; the output then
    also carries their term reports (``FUZZY_SCORE_SCHEMA``).
    ``cache_bytes``: the index's shard bytes, which with the query count
    sizes the job."""
    schema = BATCH_SCORE_SCHEMA if fuzzy is None else FUZZY_SCORE_SCHEMA
    spec = batch_query_terms(queries, query_terms_override, min_should_match, fuzzy)
    if spec is None:
        return local_frame(frame_of(rows).sparkSession, [], schema)
    qid_list, term_to_qidx, msm_arr = spec
    cond = _term_filter(sorted(term_to_qidx), meta) if term_to_qidx else None
    if fuzzy is not None:
        fz = fuzzy.candidate_filter()
        cond = fz if cond is None else f"({cond}) OR ({fz})"
    score_group = make_batch_group_scorer(
        term_to_qidx, qid_list, meta.n_docs, meta.avgdl, meta.k1, meta.b, k,
        flatten=partial(decode_shard_arrays, include_df=True),
        min_match_per_qidx=msm_arr, fuzzy=fuzzy,
    )
    return topk_pre_grouped(
        rows, cond, score_group, k, cache_bytes, len(qid_list), schema
    )


# the shard columns the phrase body decodes (``decode_shard_arrays(positions=True)``)
PHRASE_COLS = ["term", "chunk", "n_docs", "doc_gaps", "tfs", "doc_lens", "positions"]


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    phrase: str | list[str],
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    slop: int = 0,
    ordered: bool = True,
    lucene: bool = False,
) -> DataFrame:
    """Phrase match over a positions-enabled compressed index
    → (doc_id, n_occurrences), under the anchored, symmetric
    (``ordered=False``) or exact-Lucene (``lucene``) ``slop`` contract of
    ``operators.bm25.phrase_match`` (the reference's watchlist adapter
    queries with slop=1, ``elasticsearch_watchlist_adapter.py:218-229``).

    A single phrase is a batch of one: ``batch_phrase_search`` with the
    query id dropped, ordered by ``doc_id``."""
    return batch_phrase_search(
        spark, index_dir, [(0, phrase)], index_df=index_df, meta=meta,
        slop=slop, ordered=ordered, lucene=lucene,
    ).drop("query_id")


def batch_phrase_search(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, "str | list[str]"]],
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    slop: int = 0,
    ordered: bool = True,
    lucene: bool = False,
) -> DataFrame:
    """Many phrases in ONE job (the msearch shape for phrase queries — the
    reference's watchlist adapter issues match_phrase per request;
    ``elasticsearch_watchlist_adapter.py:218-229``) → (query_id, doc_id,
    n_occurrences), ordered by (query_id, doc_id).  The scan prunes to the
    UNION of all phrases' shards and terms (``_term_filter``),
    ``chunk_groups`` opens the matched rows, and the phrase body
    (``operators.bm25.phrase_in_place``, sized by the index's shard bytes
    once per phrase) decodes each flush's position streams once for every
    phrase's intersect."""
    if index_df is None or meta is None:
        index_df, meta = load_index(spark, index_dir)
    if not meta.has_positions:
        raise ValueError(
            "index was built without positions (store_positions=False); "
            "rebuild with build_index(..., store_positions=True)"
        )
    qterms = [
        (qid, query_terms(p) if isinstance(p, str) else list(p))
        for qid, p in phrases
    ]
    qterms = [(qid, ts) for qid, ts in qterms if ts]
    if not qterms:
        return local_frame(spark, [], BATCH_PHRASE_SCHEMA)
    all_terms = sorted({t for _, ts in qterms for t in ts})
    rows = chunk_groups(
        spark, meta, index_df.where(_term_filter(all_terms, meta)).select(*PHRASE_COLS)
    )
    return phrase_in_place_frame(
        rows, qterms, slop, ordered, lucene,
        partial(decode_shard_arrays, positions=True), index_bytes(index_dir),
    ).orderBy("query_id", "doc_id")
