"""Top-k BM25 over the compressed shard index with block-max pruning.

Query lifecycle (mirrors the reference's AC search stage — the posting-list
join inside Elasticsearch, ``elasticsearch_adapters.py:428-484`` — re-expressed
over our own index):

 1. tokenize the query; map terms → shard ids driver-side (same xxhash64 the
    build used) → the parquet scan prunes to |terms| shard directories and,
    via term-sorted row-group stats, to the matching rows only.
 2. compute per-(doc-id-range) chunk upper bounds from the stored block-max
    arrays — *metadata only*, no posting decode (JVM `array_max` + groupBy).
 3. score the most promising chunks first to establish the top-k threshold θ,
    then prune every remaining chunk whose upper bound < θ — exact: a pruned
    chunk cannot contain a doc scoring above θ.  This is block-max WAND
    pruning applied at chunk granularity (per-posting pivoting inside a chunk
    is unnecessary because chunk scoring is a vectorized numpy accumulation).
 4. surviving chunks are scored in parallel (`applyInPandas` per chunk:
    ``sources.index_io.decode_shard_arrays`` decodes the rows, and
    ``operators.bm25.make_batch_group_scorer`` on a batch of one sums the
    float64 contributions and keeps the local top-k), then merged with a
    global TakeOrderedAndProject.  A standing plan scores its cached index
    in place instead, every query shape through
    ``batch_topk_local(pre_grouped=True)``.  Phrase queries decode position
    streams through the same reader; a single phrase is a batch of one
    (``batch_phrase_search``).

Rank-identity vs the uncompressed DataFrame BM25 plan is asserted in
tests/test_wand.py.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.tokenize import py_index_tokens
from ..operators.bm25 import (
    BATCH_SCORE_SCHEMA,
    FUZZY_SCORE_SCHEMA,
    es_min_should_match,
    group_partitioned,
    make_batch_group_scorer,
)
from ..sources.index_io import (
    IndexMeta,
    decode_shard_arrays,
    index_bytes,
    load_index,
)
from ..sources.tables import local_frame

RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
        StructField("n_terms_matched", IntegerType()),
    ]
)


def _shard_of_terms(terms: list[str], n_shards: int) -> dict[str, int]:
    """Driver-side pmod(xxhash64(term), n_shards) — bit-compatible pure-Python
    XXH64 (tests/test_xxhash.py), so query routing costs zero Spark jobs."""
    from ..functions.xxhash import shard_of_term

    return {t: shard_of_term(t, n_shards) for t in terms}


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
    seed_chunks: int = 4,
    index_df: DataFrame | None = None,
    meta: IndexMeta | None = None,
    term_weights: dict[str, float] | None = None,
    max_driver_chunks: int = 4096,
    stats_out: dict | None = None,
    min_should_match: int | str = 1,
    one_shot_chunks: int = 64,
) -> DataFrame:
    """Exact top-k BM25 over the compressed index → (doc_id, score,
    n_terms_matched) ordered (score desc, doc_id asc).

    ``min_should_match``: ES semantics (``operators.bm25.
    es_min_should_match``) — applied inside the chunk scorers, so the k
    results all match at least the resolved number of query terms.

    ``max_driver_chunks`` caps how many chunk-UB rows the driver may hold
    (constant, corpus-independent); past the cap, pruning runs in-cluster.

    ``term_weights`` scales each term's stored contribution (the fuzzy
    stage's edit-ratio discounts); chunk upper bounds stay valid because
    weights are ≤ 1.

    ``stats_out``: pass a dict to receive pruning telemetry —
    ``chunks_total`` (candidate chunks), ``chunks_scored`` (seed +
    survivors actually decoded), ``theta`` (the k-th seed score used as
    the pruning threshold).  Drives the Zipf-corpus pruning-effectiveness
    bench (uniform corpora measure ~100% survival; see BENCH.md)."""
    if index_df is None or meta is None:
        index_df, meta = load_index(spark, index_dir)
    terms = query_terms(query) if isinstance(query, str) else list(query)
    if not terms:
        return local_frame(spark, [], RESULT_SCHEMA)
    shard_of = _shard_of_terms(terms, meta.n_shards)
    shards = sorted(set(shard_of.values()))

    matched = index_df.where(
        F.col("shard").isin(shards) & F.col("term").isin(terms)
    )

    # msm_n resolved against the DISTINCT term count: n_terms_matched
    # tallies distinct terms, and ES counts each duplicate clause as
    # matched — a duplicate-token query resolved against the duplicate-
    # inclusive count over-filtered (possibly to empty) and diverged from
    # the batch paths
    msm_n = es_min_should_match(min_should_match, len(dict.fromkeys(terms)))
    par = spark.sparkContext.defaultParallelism
    # the batch scorer on a batch of one (query id 0): chunks partition the
    # doc space, so each chunk group's local top-k is exact, and the
    # minimum_should_match filter runs before it
    weights = term_weights or {}
    score_fn = make_batch_group_scorer(
        {t: [(0, weights.get(t, 1.0))] for t in dict.fromkeys(terms)},
        [0], meta.n_docs, meta.avgdl, meta.k1, meta.b, k,
        flatten=partial(decode_shard_arrays, include_df=True),
        min_match_per_qidx=[msm_n],
    )

    def score(rows: DataFrame, n_parts: int) -> DataFrame:
        # explicit AQE-exempt partitioning: the decode+score work per chunk
        # is CPU-bound, so byte-based AQE coalescing must not serialize it
        # (operators.bm25.group_partitioned)
        return (
            group_partitioned(rows.select(*SCORE_COLS), F.col("chunk"), n_parts)
            .groupBy("chunk")
            .applyInPandas(score_fn, BATCH_SCORE_SCHEMA)
            .drop("query_id")
        )

    # metadata-only fast path: when the WHOLE index has at most
    # one_shot_chunks chunks (dense-id estimate from IndexMeta), every
    # query's candidate set fits the one-shot bound — skip the UB probe
    # job entirely and score all matched chunks in ONE job (exact: the
    # pruning-free upper bound; the probe + θ machinery only ever SKIPS
    # work).  Callers asking for pruning telemetry (stats_out) keep the
    # probing path.
    est_chunks = max(1, int(meta.n_docs) >> meta.chunk_bits)
    if stats_out is None and est_chunks <= max(seed_chunks * 2, one_shot_chunks):
        scored = score(matched, max(1, min(est_chunks, par * 2)))
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # Chunk upper bounds from block metadata only (no binary decode), kept
    # IN THE CLUSTER: chunk count grows linearly with the corpus
    # (doc_id >> chunk_bits ⇒ ~15M chunks at 10^12 docs), so the driver only
    # ever collects a bounded head of the UB ranking — never the full frame.
    # UB per (term, chunk) = idf(df) · f(max over blocks tf, min over blocks
    # dl): BM25's tf-part is monotone ↑tf ↓dl, so this bounds every posting
    # (row-level max/min is a hair looser than per-block f but keeps the
    # whole expression in whole-stage codegen — array_max/array_min are
    # native functions; a zip_with lambda here runs interpreted per row).
    # The (1+1e-12) inflation absorbs JVM-vs-numpy 1-ulp log() differences
    # so the bound can never under-estimate a numpy-computed score.
    k1, b = meta.k1, meta.b
    n_docs_f, avgdl = float(meta.n_docs), float(meta.avgdl)
    idf = F.log(
        F.lit(1.0) + (F.lit(n_docs_f) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    max_tf = F.array_max("block_max_tf").cast("double")
    min_dl = F.array_min("block_min_dl").cast("double")
    tf_part = (max_tf * (k1 + 1.0)) / (
        max_tf + k1 * (1.0 - b + b * min_dl / avgdl)
    )
    term_ub = idf * tf_part * F.lit(1.0 + 1e-12)
    if term_weights is not None:
        # weights are ≤ 1 multipliers on a term's contribution; scale the
        # bound identically so pruning stays exact under weighted scoring
        wmap = F.create_map(
            *[F.lit(x) for kv in term_weights.items() for x in kv]
        )
        term_ub = term_ub * F.coalesce(wmap[F.col("term")], F.lit(1.0))
    ubs_df = (
        matched.select("chunk", term_ub.alias("term_ub"))
        .groupBy("chunk")
        .agg(F.sum("term_ub").alias("ub"))
    )
    # bounded probe: TakeOrderedAndProject of at most max_driver_chunks+1 UB
    # rows — a CONSTANT cap (~tens of KB), never O(corpus).  When the whole
    # UB ranking fits under the cap (every sandbox/moderate index), seeding
    # and θ-pruning run driver-side with zero extra Spark jobs; only beyond
    # the cap does the semi-join in-cluster path engage (10^12-doc regime,
    # ~15M chunks — the frame then never leaves the executors).
    probe = (
        ubs_df.orderBy(F.desc("ub"), F.asc("chunk"))
        .limit(max_driver_chunks + 1)
        .collect()
    )
    if not probe:
        return local_frame(spark, [], RESULT_SCHEMA)

    def run(chunks: list[int]) -> DataFrame:
        return score(
            matched.where(F.col("chunk").isin(chunks)),
            max(1, min(len(chunks), par * 2)),
        )

    # the probe saw the COMPLETE UB ranking iff it wasn't truncated at the
    # cap — only then may driver-side shortcuts assume full knowledge
    complete = len(probe) <= max_driver_chunks
    if complete and len(probe) <= max(seed_chunks * 2, one_shot_chunks):
        # small candidate set: two-phase pruning can't beat its own extra
        # job round-trips — decoding ≤ one_shot_chunks chunks in ONE job is
        # cheaper than seed-collect + θ-prune + survivor job even at 0%
        # survival (each job pays a scheduling floor; the sf0.1 index is 12
        # chunks and ran three sequential jobs per query).  Exactness is
        # untouched: scoring every candidate chunk is the pruning-free
        # upper bound.  Zipf-scale indexes (hundreds of chunks) keep the
        # two-phase θ path below.
        if stats_out is not None:
            stats_out.update(
                chunks_total=len(probe), chunks_scored=len(probe), theta=None
            )
        return (
            run([int(r["chunk"]) for r in probe])
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    seed = [int(r["chunk"]) for r in probe[:seed_chunks]]
    seed_res = run(seed).orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    theta = seed_res[-1]["score"] if len(seed_res) >= k else float("-inf")

    # θ pruning: exact — a pruned chunk cannot contain a doc scoring above θ;
    # ties at θ are kept for the doc_id tiebreak.
    if complete:
        # complete UB ranking in hand: prune with a plain isin filter
        survivors = [
            int(r["chunk"])
            for r in probe[seed_chunks:]
            if float(r["ub"]) >= theta
        ]
        if stats_out is not None:
            stats_out.update(
                chunks_total=len(probe),
                chunks_scored=len(seed) + len(survivors),
                theta=theta if theta != float("-inf") else None,
            )
        rest = run(survivors) if survivors else None
    else:
        # truncated ranking: θ-prune as a DataFrame filter + semi-join so the
        # O(chunks) frame stays in the cluster
        if stats_out is not None:
            # counts stay in-cluster here by design; only θ is known
            stats_out.update(chunks_total=None, chunks_scored=None, theta=theta)
        survivor_chunks = ubs_df.where(
            (F.col("ub") >= theta) & ~F.col("chunk").isin(seed)
        ).select("chunk")
        rest = score(matched.join(survivor_chunks, "chunk", "left_semi"), par * 2)
    all_res = local_frame(spark, seed_res, RESULT_SCHEMA)
    if rest is not None:
        all_res = all_res.unionByName(rest)
    return all_res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_n_groups(spark: SparkSession, meta: IndexMeta) -> int:
    """The batched scorer's doc-group count — one formula shared by
    ``batch_topk_indexed`` and standing plans that pre-partition their
    cached index on ``pmod(chunk, n_groups)`` so the per-query-batch
    shuffle disappears (see ``HybridSearchPlan``)."""
    n_groups = max(32, spark.sparkContext.defaultParallelism * 2)
    # cap by the index's chunk count (dense-id estimate): pmod groups
    # beyond it are EMPTY partitions, and the explicit repartition
    # launches a task for each — pure overhead at small scale
    est_chunks = max(1, int(meta.n_docs) >> meta.chunk_bits)
    return max(8, min(n_groups, est_chunks))


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
    skips the window's exchange."""
    from pyspark.sql import Window

    local = batch_topk_local(
        spark, index_dir, queries, k=k, index_df=index_df, meta=meta,
        n_groups=n_groups, query_terms_override=query_terms_override,
        min_should_match=min_should_match, pre_grouped=pre_grouped,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank", "n_terms_matched")
    )


def batch_topk_local(
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
    fuzzy=None,
    cache_bytes: int | None = None,
) -> DataFrame:
    """Many queries' task-local top-k over the COMPRESSED index (the
    serving shape ``operators.bm25.batch_topk`` provides over raw
    documents, minus its corpus re-tokenize): shard+term-pruned scan →
    per-chunk-group numpy scoring (one dense (local docs × queries)
    accumulator per task, local top-k per query) →
    (query_id, doc_id, score, n_terms_matched), ≤ n_groups × |queries| × k
    rows, un-merged.  Chunks partition the doc space, so each query's
    global top-k is exactly the top k of its local rows.

    The round-2 shape (decode → broadcast (query, term) join → JVM
    per-(query, doc) hash aggregate) materialized ~|queries| × |corpus|
    aggregation groups — 215M joined rows / 92M groups / 62 s at 960k docs
    for a 100-query batch.  Scoring inside the Arrow task keeps the
    query×doc fan-out in numpy slice-adds and ships only n_groups × nq × k
    rows out (same 960k-doc batch: 73 s → ~4 s).

    Scores use the same BM25 formula and stored df as the JVM path; sums run
    in a different float order (per-term numpy accumulation vs hash-agg
    arrival order), so equality with the document-side plan holds to ~1e-12
    relative, not bit-exactly.

    Memory note: the accumulator is dense in the query set (8 B × local docs
    × nq per task) — split query sets of many thousands into sub-batches.

    ``query_terms_override`` / ``min_should_match``: explicit weighted
    (query_id, term, weight) triples beside or instead of the tokenized
    ``queries``, and the ES minimum_should_match of the tokenized ones
    (``operators.bm25.batch_query_terms`` holds the rules).  ``fuzzy``
    (``operators.fuzzy.FuzzyQueries``) adds query ids the scoring tasks
    expand themselves over the candidate rows they read; the output then
    also carries their term reports (``FUZZY_SCORE_SCHEMA``).

    ``pre_grouped``: every partition of ``index_df`` holds whole chunks (a
    standing plan caches its index on ``pmod(chunk, batch_n_groups(…))``,
    term-sorted).  The cache is then scored in place
    (``operators.bm25.topk_pre_grouped``): one job, no exchange, its task
    count sized by ``cache_bytes`` (the index's shard bytes on disk,
    ``sources.index_io.index_bytes``, which a standing plan reads once)
    and the query count, and ``n_groups`` plays no part.  Without it the
    matched rows shuffle to ``n_groups`` chunk groups."""
    from ..operators.bm25 import batch_query_terms, topk_pre_grouped

    if index_df is None or meta is None:
        index_df, meta = load_index(spark, index_dir)
    schema = BATCH_SCORE_SCHEMA if fuzzy is None else FUZZY_SCORE_SCHEMA
    spec = batch_query_terms(queries, query_terms_override, min_should_match, fuzzy)
    if spec is None:
        return local_frame(spark, [], schema)
    qid_list, term_to_qidx, msm_arr = spec
    # the exact terms' rows, pruned to their shards, and fuzzy's candidates
    cond = None
    if term_to_qidx:
        all_terms = sorted(term_to_qidx)
        shards = sorted(set(_shard_of_terms(all_terms, meta.n_shards).values()))
        cond = F.col("shard").isin(shards) & F.col("term").isin(all_terms)
    if fuzzy is not None:
        fz = fuzzy.candidate_filter()
        cond = fz if cond is None else cond | fz
    matched = index_df.where(cond).select(*SCORE_COLS)
    score_group = make_batch_group_scorer(
        term_to_qidx, qid_list, meta.n_docs, meta.avgdl, meta.k1, meta.b, k,
        flatten=partial(decode_shard_arrays, include_df=True),
        min_match_per_qidx=msm_arr, fuzzy=fuzzy,
    )
    if pre_grouped:
        if cache_bytes is None:
            cache_bytes = index_bytes(index_dir)
        return topk_pre_grouped(
            matched, score_group, k, cache_bytes, len(qid_list), schema
        )
    if n_groups is None:
        n_groups = batch_n_groups(spark, meta)
    grp_key = F.pmod(F.col("chunk"), F.lit(n_groups))
    return (
        group_partitioned(matched, grp_key, n_groups)
        .groupBy(grp_key.alias("grp"))
        .applyInPandas(score_group, schema)
    )


BATCH_PHRASE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_occurrences", IntegerType()),
    ]
)


_PHRASE_POS_BITS = 40  # positions < 2^40 — far beyond any document length


def _decode_position_keys(pdf: pd.DataFrame, chunk_base: int) -> dict:
    """Per-term packed ``(doc_id − chunk_base) << 40 | position`` key arrays
    for one chunk group's rows, ascending (docs ascend within a row,
    positions within a posting), from one ``decode_shard_arrays`` pass.

    Within one chunk a local doc id fits in ``chunk_bits`` bits, so a
    phrase occurrence is a key present for EVERY term after the term's
    offset shift — one ``np.intersect1d`` chain per chunk
    (``_phrase_intersect``), no per-candidate-doc Python loop.  Shard rows
    are keyed (term, chunk), so each term has one row here and its keys
    are one contiguous run of the stream."""
    flat = decode_shard_arrays(pdf, positions=True)
    tf = flat["tf"]
    local = np.repeat(flat["doc_id"] - chunk_base, tf)
    keys = (local << _PHRASE_POS_BITS) | flat["positions"]
    cuts = np.cumsum(np.bincount(np.repeat(flat["term_codes"], tf)))[:-1]
    return dict(zip(flat["uniq_terms"].tolist(), np.split(keys, cuts)))


def _phrase_intersect(
    per_term: dict, ordered_terms: list[str], slop: int,
    ordered: bool = True, lucene: bool = False,
) -> "np.ndarray | None":
    """Anchor keys of phrase occurrences: a phrase occurrence at (doc, p)
    needs term i within [p + i, p + i + slop] (ordered contract) or the
    symmetric [p + i − slop, p + i + slop] (``ordered=False``, ES-style
    reordering) — shift each term's keys by its offset (and the slop
    window's extra displacements) and intersect.  A shift that borrows
    below a document's position 0 produces a key no anchor can match
    (anchors are real positions), so no masking is needed.

    ``lucene=True`` (exact span-budget contract, see
    operators/bm25.py::phrase_match): anchors are drawn from EVERY term's
    offset-adjusted positions, and every term — term 0 included — must
    land in [s+i, s+i+slop].  Adjusted positions can be NEGATIVE ("b a"
    for phrase "a b" witnesses s=−1 at slop=2), which would borrow into
    the packed doc-id bits, so all key arithmetic carries a
    ``+(n_terms−1+slop)`` position bias: biased pos ≥ pos−(n−1)+B = slop
    ≥ the largest window displacement d, so neither the anchors nor the
    ``−d`` expansions ever underflow position 0 of their doc.  Repeated
    phrase terms additionally pass Lucene's distinct-position requirement
    via per-anchor Hall-run counts (searchsorted range counts over the
    term's sorted keys; see operators/bm25.py::phrase_match).  Returned
    keys keep the bias (callers only use ``key >> pos_bits``, unaffected
    since biased positions stay ≪ 2^pos_bits)."""
    if any(t not in per_term for t in ordered_terms):
        return None
    if lucene:
        from ..operators.bm25 import _repeated_term_runs

        bias = len(ordered_terms) - 1 + slop
        adj = [
            per_term[t] - offset + bias
            for offset, t in enumerate(ordered_terms)
        ]
        keys = np.unique(np.concatenate(adj)) if len(adj) > 1 else adj[0]
        for kt in adj:
            if slop:
                kt = np.unique(
                    np.concatenate([kt - d for d in range(0, slop + 1)])
                )
            keys = np.intersect1d(keys, kt, assume_unique=True)
            if keys.size == 0:
                return keys
        pos_mask = (np.int64(1) << _PHRASE_POS_BITS) - 1
        for first_off, lo_off, hi_off, need in _repeated_term_runs(
            ordered_terms, slop
        ):
            kt = np.sort(per_term[ordered_terms[first_off]])
            doc_base = keys & ~pos_mask
            # anchor key k = (doc << bits) | (s + bias); count raw positions
            # of the term in [s+lo_off, s+hi_off], clamped to the doc's own
            # position range so negative bounds can't borrow into doc bits
            lo = np.maximum(keys - bias + lo_off, doc_base)
            hi = np.maximum(keys - bias + hi_off, doc_base - 1)
            cnt = np.searchsorted(kt, hi, side="right") - np.searchsorted(
                kt, lo, side="left"
            )
            keys = keys[cnt >= need]
            if keys.size == 0:
                return keys
        return keys
    lo = -slop if not ordered else 0
    keys = per_term[ordered_terms[0]]
    for offset, t in enumerate(ordered_terms[1:], start=1):
        kt = per_term[t] - offset  # (doc << 40) | (pos - offset)
        if slop:
            kt = np.unique(
                np.concatenate([kt - d for d in range(lo, slop + 1)])
            )
        keys = np.intersect1d(keys, kt, assume_unique=True)
        if keys.size == 0:
            return keys
    return keys


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
    → (doc_id, n_occurrences).  Same shard/row-group pruning as topk_search;
    adjacency (or the anchored ``slop`` window / symmetric ``ordered=False``
    window / exact-Lucene span budget ``lucene=True`` — see
    ``operators.bm25.phrase_match`` for the three contracts; the
    reference's watchlist adapter queries with slop=1,
    ``elasticsearch_watchlist_adapter.py:218-229``) verified from the
    varint position streams per chunk.

    A single phrase is a batch of one: ``batch_phrase_search`` with the
    query id dropped, ordered by ``doc_id``.

    Rank-identity vs the DataFrame ``operators.bm25.phrase_match`` is
    asserted in tests/test_wand.py (slop 0, 1, 2; all three contracts)."""
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
    ``elasticsearch_watchlist_adapter.py:218-229``): the scan prunes to the
    UNION of all phrases' shards/terms, each chunk task decodes every needed
    term's position keys ONCE, and every phrase's intersect chain runs over
    the shared decode → (query_id, doc_id, n_occurrences).

    ``phrase_search`` is this on a batch of one; a batch costs one job and
    one decode for all its phrases instead of a job and a decode per
    phrase."""
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
    shard_of = _shard_of_terms(all_terms, meta.n_shards)
    shards = sorted(set(shard_of.values()))
    matched = index_df.where(
        F.col("shard").isin(shards) & F.col("term").isin(all_terms)
    )
    chunk_bits = meta.chunk_bits

    def match_many(key, pdf):
        chunk_base = int(key[0]) << chunk_bits
        per_term = _decode_position_keys(pdf, chunk_base)
        out_q, out_d, out_n = [], [], []
        for qid, ts in qterms:
            keys = _phrase_intersect(per_term, ts, slop, ordered, lucene)
            if keys is None or keys.size == 0:
                continue
            docs, counts = np.unique(keys >> _PHRASE_POS_BITS, return_counts=True)
            out_q.append(np.full(docs.size, qid, dtype=np.int64))
            out_d.append(docs + chunk_base)
            out_n.append(counts.astype(np.int32))
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "n_occurrences": []}
            ).astype(
                {"query_id": np.int64, "doc_id": np.int64,
                 "n_occurrences": np.int32}
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "n_occurrences": np.concatenate(out_n),
            }
        )

    est_chunks = max(1, int(meta.n_docs) >> meta.chunk_bits)
    n_parts = max(
        8, min(spark.sparkContext.defaultParallelism * 2, est_chunks)
    )
    return (
        group_partitioned(matched, F.col("chunk"), n_parts)
        .groupBy("chunk")
        .applyInPandas(match_many, BATCH_PHRASE_SCHEMA)
        .orderBy("query_id", "doc_id")
    )
