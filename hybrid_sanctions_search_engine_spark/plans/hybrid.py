"""Hybrid search plan: the reference's adaptive AC → fuzzy → vector ladder.

Re-expresses ``HybridSearchService._hybrid_search``
(``/root/reference/src/ai_service/layers/search/hybrid_search_service.py:728-910``)
as driver-side control flow over DataFrame stages:

  stage 1  AC/lexical    — top-k BM25 (compressed WAND path or DataFrame plan)
  escalate?              — no hits, or best score < escalation_threshold (0.6)
  stage 2  fuzzy         — per-term fuzzy dictionary expansion (edit ≤ 1,
                           prefix-bucketed) → BM25 over expanded terms with
                           edit-ratio-discounted contributions
  stage 3  vector        — cosine kNN over the embeddings (an IVF-family
                           probe, or an exact scan), fuzz-reranked
  fusion                 — 0.6·AC + 0.4·vector (+0.1 shared bonus), dedup,
                           threshold, top-k

The escalation decisions are cheap driver-side aggregates over the stage-k
result (`O4` in SURVEY.md §4 — Spark has no native adaptive *staging*, so
this is deliberate hand-written control flow; each stage is still a fully
declarative Catalyst plan).
"""

from __future__ import annotations

import itertools
from collections.abc import Container
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SPEC_GROUP_SEQ = itertools.count()

from ..operators.bm25 import bm25_topk, score_terms
from ..operators.fuzzy import dictionary_bloom, fuzzy_candidate_probe
from ..operators.postings import (
    CorpusStats,
    build_postings,
    corpus_stats,
    doc_lengths,
    term_doc_freq,
)
from ..operators.similarity import (
    ANN_KINDS,
    DOC_TEXT_COL,
    HAS_DOC_COL,
    ProbeRerank,
    knn_bruteforce_many,
    merge_local_topk,
)
from ..sources.tables import local_frame
from .wand import query_terms


@dataclass
class SearchOpts:
    """Mirror of the reference's SearchOpts (``contracts.py:58-95``)."""

    top_k: int = 50
    # P2 final score threshold (reference _process_results filters fused
    # results at score ≥ threshold, default 0.7 — on ITS normalized ES
    # score scale).  This ladder's fused scores mix raw BM25 (unbounded)
    # with weighted cosine, so an absolute 0.7 default would silently hide
    # valid lexical results; the dial defaults OFF here and callers opt in
    # with a threshold calibrated to their corpus (operators/calibration.py
    # exists for exactly that).
    threshold: float = 0.0
    escalation_threshold: float = 0.6
    enable_escalation: bool = True
    fuzzy_max_edits: int = 1
    fuzzy_max_expansions: int = 20
    vector_weight: float = 0.4
    ac_weight: float = 0.6
    # ES minimum_should_match for the AC (exact-term) stage — int or "P%"
    # (the reference's hybrid BM25 query uses "75%",
    # elasticsearch_adapters.py:695); resolved per query by
    # operators.bm25.es_min_should_match and applied in the base scorer AND
    # the delta overlay identically.  The fuzzy stage scores expansion
    # VARIANTS and keeps no minimum (a variant count is not a term count).
    min_should_match: int | str = 1
    # L9: fuzz-rerank vector-stage hits against the query text (reference
    # _apply_rapidfuzz_reranking, hybrid_search_service.py:990-1030)
    rapidfuzz_rerank: bool = True
    # stage-4 vector-fallback gating (_should_use_vector_fallback,
    # hybrid_search_service.py:930-955): fuse vector hits only when AC is
    # empty, AC is very weak (< weak_ac_threshold), or the best vector score
    # beats the best AC score by vector_better_factor
    enable_vector_fallback: bool = True
    weak_ac_threshold: float = 0.3
    vector_better_factor: float = 1.5
    # vector-fallback post-boosts (hybrid_search_service.py:1248-1260):
    # cosine > 0.7 ⇒ ×1.3, > 0.5 ⇒ ×1.1; dob anchor ⇒ ×1.2, id anchor ⇒ ×1.1
    enable_cosine_boost: bool = True
    enable_anchor_boost: bool = True
    # search_many only: launch the batched vector probe for ALL queries at
    # t0, concurrently with the AC job, and keep only the escalating subset's
    # results (identical semantics — per-query vector results are
    # independent, and non-escalating queries' rows are discarded before
    # gating).  Trades bounded speculative work for taking the vector stage
    # off the critical path.  ONLY applies when an ANN index serves the
    # vector stage (partition-pruned, k-bounded per query): the brute-force
    # fallback is a full corpus scan, so speculating it would pay O(corpus)
    # for queries that never escalate — that path stays lazy regardless of
    # this flag.  Disable to serve strictly-lazy like search().
    speculative_vector: bool = True
    # search_many only (round 6): also run the fuzzy SCORING job
    # speculatively for all queries — it depends only on the expansion
    # (itself speculative), not on the AC result, so chaining it off the
    # expansion future takes the last post-AC stage off the critical path
    # (the 960k profile showed wall = AC + fuzzy with vector already
    # overlapped; after this, wall = max(AC, expansion+fuzzy, vector)).
    # Per-query scoring is independent, so filtering to the escalating
    # subset afterwards is identical to scoring only that subset.  Bounded
    # extra work (the non-escalating queries' scoring), cancelled via job
    # group when nothing escalates.
    speculative_fuzzy: bool = True


def _with_doc_text(vectors: DataFrame, docs: DataFrame, text_col: str) -> DataFrame:
    """``vectors`` left-joined with each vec_id's doc text
    (``DOC_TEXT_COL``; ``HAS_DOC_COL`` is null where no doc row exists)."""
    text = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.col(text_col).alias(DOC_TEXT_COL),
        F.lit(True).alias(HAS_DOC_COL),
    )
    return vectors.join(text, "vec_id", "left")


def _rerank_frame(local: DataFrame, opts: SearchOpts) -> DataFrame:
    """The L9 rerank and L10 anchor multiplier as JVM expressions over a
    probe's reranking rows (``similarity.probe_schema``) → (query_id,
    doc_id, score, cos_sim, anchor_mult, ``HAS_DOC_COL``)."""
    from ..operators.fuzzy import rapidfuzz_rerank_expr

    df = local.withColumnRenamed("vec_id", "doc_id").withColumn(
        "score", F.col("cos_sim")
    )
    if opts.rapidfuzz_rerank:
        df = rapidfuzz_rerank_expr(
            df, F.col("qtext"), F.col("partial"), text_col=DOC_TEXT_COL,
            score_col="score",
        )
    # dob ×1.2, id ×1.1 when the doc text contains a query anchor; empty
    # anchor arrays make both exists() false
    text = F.col(DOC_TEXT_COL)
    anchor_mult = F.when(
        F.exists(F.col("qdates"), lambda d: text.contains(d)), F.lit(1.2)
    ).otherwise(F.lit(1.0)) * F.when(
        F.exists(F.col("qid_anchors"), lambda i: text.contains(i)), F.lit(1.1)
    ).otherwise(F.lit(1.0))
    return df.select(
        "query_id", "doc_id", "score", "cos_sim",
        anchor_mult.alias("anchor_mult"), HAS_DOC_COL,
    )


def _timed_into(trace: dict, name: str, fn, lock=None):
    """Wrap ``fn`` so its wall time (ms) lands in ``trace[name]``.

    ``lock`` must be held for the write when the wrapper runs on a daemon
    thread that may outlive its consumer: an ABANDONED speculative stage
    (cancelled after the AC result) can finish and insert its key while the
    main thread iterates the dict for publication — CPython raises
    "dictionary changed size during iteration" (round-6 review finding)."""

    def run():
        import time

        t0 = time.monotonic()
        out = fn()
        if lock is not None:
            with lock:
                trace[name] = (time.monotonic() - t0) * 1000
        else:
            trace[name] = (time.monotonic() - t0) * 1000
        return out

    return run


def _fuse(
    lexical_best: dict[int, float],
    ac_n: int,
    ac_best: float,
    vec_rows: list[dict],
    opts: SearchOpts,
) -> tuple[list[tuple[int, float]], bool]:
    """One query's stage-4 gating, vector post-boosts and fusion, on the
    driver over k-bounded rows → (top-k (doc_id, score), vector used).
    ``lexical_best``: the keep-best AC ∪ fuzzy scores; ``ac_n`` /
    ``ac_best``: the AC stage's hit count and best score; ``vec_rows``:
    the query's ``_vector_stage_batch`` rows.  ``search()`` and
    ``search_many()`` both fuse here."""
    # stage-4 gating (_should_use_vector_fallback,
    # hybrid_search_service.py:930-955): no AC hits, AC very weak, or
    # vectors decisively better — otherwise the vector hits are dropped
    vec_best = max((r["score"] for r in vec_rows), default=0.0)
    use_vector = bool(vec_rows) and opts.enable_vector_fallback and (
        ac_n == 0
        or ac_best < opts.weak_ac_threshold
        or vec_best > opts.vector_better_factor * ac_best
    )
    fused = lexical_best
    if use_vector:
        # post-boosts on vector-fallback hits (hybrid_search_service.py:
        # 1248-1260): cosine > 0.7 ⇒ ×1.3, > 0.5 ⇒ ×1.1, then the L10
        # anchor multiplier the probe evaluated in-cluster — applied here,
        # so the gate above sees the pre-boost score
        vector_best: dict[int, float] = {}
        for r in vec_rows:
            s, cos = r["score"], r["cos_sim"]
            if opts.enable_cosine_boost:
                if cos > 0.7:
                    s *= 1.3
                elif cos > 0.5:
                    s *= 1.1
            s *= r["anchor_mult"]
            doc = r["doc_id"]
            if doc not in vector_best or s > vector_best[doc]:
                vector_best[doc] = s
        # fusion (combine_results semantics): ac_w·lex + vec_w·vec + shared
        # bonus; empty lexical results escalate the vector weight to 1.0
        # (reference no-AC fallback, fusion.combine_results)
        vec_w = 1.0 if not lexical_best else opts.vector_weight
        fused = {}
        for doc in lexical_best.keys() | vector_best.keys():
            lex = lexical_best.get(doc)
            vec = vector_best.get(doc)
            score = (lex or 0.0) * opts.ac_weight + (vec or 0.0) * vec_w
            if lex is not None and vec is not None:
                score += 0.1  # SHARED_HIT_BONUS
            fused[doc] = score
    # P2 final threshold (reference _process_results,
    # hybrid_search_service.py:1205-1211) — applied BEFORE the top-k cut
    # so the k results all qualify
    if opts.threshold > 0.0:
        fused = {d: s for d, s in fused.items() if s >= opts.threshold}
    top = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[: opts.top_k]
    return top, use_vector


class _Async:
    """Run ``fn`` on a self-terminating daemon thread; ``.result()`` joins
    and re-raises.  Used to overlap independent Spark jobs (job submission is
    thread-safe); unlike a ThreadPoolExecutor there is nothing to shut down
    on exception paths — the thread exits with its task."""

    def __init__(self, fn):
        import threading

        self._out = None
        self._exc: BaseException | None = None

        def run():
            try:
                self._out = fn()
            except BaseException as e:  # noqa: BLE001 — re-raised in result()
                self._exc = e

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()

    def result(self):
        self._thread.join()
        if self._exc is not None:
            raise self._exc
        return self._out


@dataclass
class SearchTraceStep:
    """Per-stage trace (reference ``trace_models.py:15-75``)."""

    stage: str
    hits: int
    best_score: float
    took_ms: float
    meta: dict = field(default_factory=dict)


class HybridSearchPlan:
    """Reusable hybrid searcher over a documents DataFrame (+ optional
    embeddings table).  Precomputes postings/stats once (`.persist()` replaces
    the reference's TTL caches, SURVEY.md §2.10)."""

    def __init__(
        self,
        docs: DataFrame,
        embeddings: DataFrame | None = None,
        text_col: str = "text",
        embedding_dim: int = 64,
        index_dir: str | None = None,
        ann_index_dir: str | None = None,
        ann_kind: str = "ivf",
        ann_n_probe: int = 3,
        ann_refine: int = 4,
        encoder=None,
    ):
        """``index_dir``: serve the AC stage from a prebuilt compressed index
        (``sources.index_io.build_index`` output) instead of recomputing
        postings — the production shape. The fuzzy dictionary then also comes
        from the index's term rows (no extra tokenize pass).

        ``ann_index_dir``: serve the vector stage from a partitioned ANN
        index instead of a full embeddings scan — the reference's vector
        stage is an ES HNSW query, never a scan
        (``elasticsearch_adapters.py:819-843``).  ``ann_kind`` names the
        layout (``ANN_KINDS``): ``ivf`` over ``write_ivf_index`` output, or
        the quantized pair ``ivf_pq`` / ``ivf_sq8`` over
        ``write_ivf_pq_index`` / ``write_ivf_sq8_index`` output, whose
        candidate scans read 48-byte PQ / dim-byte int8 codes instead of
        raw vectors (the int8 form is what ES applies to indexed
        dense_vector fields by default); ``ann_n_probe`` / ``ann_refine``
        are the recall dials.  Without it, ``embeddings`` is scanned
        exactly.

        ``encoder``: query-text embedding encoder satisfying the
        ``functions.encoder`` contract (dim / encode_one / encode_batch) —
        default ``PseudoEncoder(embedding_dim)``, the reference's
        byte-histogram fallback, bit-identical to the pre-seam path; a
        real model (MiniLM-L12-v2 in the reference) drops in here without
        touching call sites."""
        from ..functions.encoder import PseudoEncoder

        if ann_kind not in ANN_KINDS:
            raise ValueError(
                f"unknown ann_kind {ann_kind!r}: supported kinds are "
                + ", ".join(ANN_KINDS)
            )
        spark = docs.sparkSession
        self.docs = docs
        self.text_col = text_col
        self.embeddings = embeddings
        self.embedding_dim = embedding_dim
        self.encoder = encoder if encoder is not None else PseudoEncoder(embedding_dim)
        self.index_dir = index_dir
        self.ann_index_dir = ann_index_dir
        self.ann_kind = ann_kind
        self.ann_n_probe = ann_n_probe
        self.ann_refine = ann_refine
        # the vector leg's one probe, bound here for the plan's layout:
        # ``_probe(qvecs, k=, as_rows=, rerank=)`` over ``ann_df``, the
        # standing text-carrying vector cache (the ANN index rows, or with
        # no ANN index the embeddings, scanned exactly) — each vector
        # left-joined with its doc text, so the probe reranks inside its tasks
        # instead of joining its hits into the doc store per call.  The
        # plan is a STANDING server (the .persist() cache replaces the
        # reference's TTL caches); re-reading the ANN parquet per batch
        # cost ~5 s of the 960k vector stage.
        self.ann_df = None
        self.ann_centroids = None
        self._probe = None
        n_parts = spark.sparkContext.defaultParallelism
        if ann_index_dir is not None:
            if ann_kind == "ivf":
                from ..operators.similarity import knn_ivf_probe_many, load_ivf_index

                ann_df, self.ann_centroids = load_ivf_index(spark, ann_index_dir)
                probe, layout = knn_ivf_probe_many, ()
            elif ann_kind == "ivf_pq":
                # ADC over 48-byte codes picks refine·k candidates, an exact
                # re-rank emits true cosines — the ladder is layout-blind
                from ..operators.pq import knn_ivf_pq_probe_many, load_ivf_pq_index

                ann_df, self.ann_centroids, *layout = load_ivf_pq_index(
                    spark, ann_index_dir
                )
                probe = partial(knn_ivf_pq_probe_many, refine=ann_refine)
            else:
                # int8 codes: decoded-dot candidate scan, exact re-rank
                from ..operators.sq import knn_ivf_sq8_probe_many, load_ivf_sq8_index

                ann_df, self.ann_centroids, *layout = load_ivf_sq8_index(
                    spark, ann_index_dir
                )
                probe = partial(knn_ivf_sq8_probe_many, refine=ann_refine)
            # range-partitioned and sorted on the cell, the cached batches
            # stay cell-clustered — the ivf_cell IN (...) filter still
            # skips them by min/max stats — and the probe runs at most
            # defaultParallelism tasks
            self.ann_df = (
                _with_doc_text(ann_df, docs, text_col)
                .repartitionByRange(
                    min(n_parts, len(self.ann_centroids)), "ivf_cell"
                )
                .sortWithinPartitions("ivf_cell", "vec_id")
                .persist()
            )
            self._probe = partial(
                probe, self.ann_df, self.ann_centroids, *layout,
                n_probe=ann_n_probe,
            )
        elif embeddings is not None:
            self.ann_df = (
                _with_doc_text(embeddings, docs, text_col)
                .coalesce(n_parts)
                .persist()
            )
            self._probe = partial(knn_bruteforce_many, self.ann_df)
        if index_dir is not None:
            from ..sources.index_io import load_index
            from .wand import batch_n_groups

            self.index_df, self.index_meta = load_index(docs.sparkSession, index_dir)
            # standing server: cache the index PRE-PARTITIONED on the batch
            # scorer's doc-group key (same batch_n_groups formula) and
            # term-sorted within partitions — every search_many lexical job
            # then runs with ZERO exchange (the shuffle is paid once at
            # cache materialization, not per query batch), and the term
            # IN (...) filter prunes term-contiguous cached batches by
            # min/max stats (guide §2.4/§6)
            self._idx_n_groups = batch_n_groups(docs.sparkSession, self.index_meta)
            self.index_df = (
                self.index_df.repartition(
                    self._idx_n_groups,
                    F.pmod(F.col("chunk"), F.lit(self._idx_n_groups)),
                )
                .sortWithinPartitions("term")
                .persist()
            )
            self.stats = CorpusStats(
                n_docs=self.index_meta.n_docs, avgdl=self.index_meta.avgdl
            )
            self.postings = None
            self.dl = None
            self.dictionary = (
                self.index_df.groupBy("term")
                .agg(F.max("df").alias("df"))
                .persist()
            )
        else:
            self.index_df = None
            self.index_meta = None
            self.postings = build_postings(docs, text_col, positions=False).persist()
            self.dl = doc_lengths(docs, text_col).persist()
            self.stats: CorpusStats = corpus_stats(docs, text_col)
            self.dictionary = term_doc_freq(self.postings).persist()
        self.delta_docs: DataFrame | None = None
        self.delta_postings: DataFrame | None = None
        self.delta_stats: tuple[int, float] | None = None
        self.delta_embeddings: DataFrame | None = None
        # delta_embeddings ⟕ delta_docs' text, cached while attached (the
        # delta twin of the text-carrying ``ann_df``)
        self._delta_ann: DataFrame | None = None
        self._fuzzy_dict: DataFrame | None = None

    # -- streaming delta overlay ------------------------------------------

    def attach_delta(
        self,
        delta_docs: DataFrame | None = None,
        delta_postings: DataFrame | None = None,
        delta_stats: tuple[int, float] | None = None,
        delta_embeddings: DataFrame | None = None,
    ) -> None:
        """Overlay a streamed delta on EVERY ladder stage (round 6 — the
        reference's overlay search covers its vector index too,
        ``watchlist_index_service.py:85-222``; pre-round-6 only the lexical
        ``search_with_delta`` path existed, so fresh docs were invisible to
        escalation until compaction):

          * AC / fuzzy — base result ∪ delta BM25 (each side under its own
            corpus stats, the reference's overlay-then-active keep-best);
            fuzzy expansion additionally sees the delta's term dictionary;
          * vector     — probe(base) ∪ exact-gemv(delta embeddings),
            re-top-k'd under the same (cos desc, doc asc) order — cosine is
            stats-free, so this equals a full index rebuild exactly (parity
            test: tests/test_hybrid_delta.py);
          * rerank / anchors — the delta vectors carry the delta docs' text,
            as the base vectors carry the base docs'.

        ``delta_stats`` from ``streaming.incremental.load_delta_stats`` (one
        manifest read, no stats job); ``delta_embeddings`` from
        ``load_delta_embeddings``.  The delta sides rely on the compaction
        contract: delta doc_ids are DISJOINT from the base (new docs only),
        so union + re-top-k needs no cross-side dedup.  After the stream
        appends, re-attach with FRESHLY LOADED frames
        (``load_delta_postings`` / ``load_delta_embeddings`` again): a
        DataFrame pins its parquet file listing at read() time
        (InMemoryFileIndex), so re-attaching the OLD frames would refresh
        stats and the fuzzy dictionary while every scan still serves the
        old file set — n_docs/avgdl would over-report the rows the scans
        can see.  Call ``detach_delta()`` after compaction."""
        if delta_embeddings is not None and delta_docs is None:
            # the rerank/anchor stages drop vector hits without doc text
            # (the inner-join semantics of a doc-text join): a fresh
            # delta doc surfaced by the vector stage would silently VANISH
            # from the results whenever rerank or anchors are enabled — and
            # stay on the rerank-free fast path — flipping results with
            # opts.  An embeddings overlay therefore requires the matching
            # doc overlay (the reference's overlay serves docs with
            # payloads, watchlist_index_service.py:85-222).
            raise ValueError(
                "attach_delta: delta_embeddings requires delta_docs — "
                "vector hits on fresh docs need their text for the "
                "rerank/anchor stages"
            )
        if self._fuzzy_dict is not None:
            self._fuzzy_dict.unpersist()
            self._fuzzy_dict = None
        self._driver_dict = ...  # invalidate the driver-side FST-style cache
        self._driver_dict_set = None
        self.delta_docs = delta_docs
        self.delta_postings = delta_postings
        self.delta_embeddings = delta_embeddings
        if self._delta_ann is not None:
            self._delta_ann.unpersist()
            self._delta_ann = None
        if delta_embeddings is not None:
            self._delta_ann = _with_doc_text(
                delta_embeddings, delta_docs, self.text_col
            ).persist()
        if delta_stats is None and delta_postings is not None:
            row = (
                delta_postings.select("doc_id", "doc_len")
                .distinct()
                .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
                .collect()[0]
            )
            delta_stats = (int(row["n"]), float(row["avgdl"] or 1.0))
        self.delta_stats = delta_stats
        if delta_postings is not None and (delta_stats or (1,))[0] > 0:
            # fuzzy expansion must see delta-only terms; df ride-along keeps
            # the dictionary schema (expansion ranks by edit distance only)
            self._fuzzy_dict = (
                self.dictionary.select("term", "df")
                .unionByName(
                    delta_postings.groupBy("term").agg(
                        F.count("*").cast(
                            self.dictionary.schema["df"].dataType.simpleString()
                        ).alias("df")
                    )
                )
                .groupBy("term")
                .agg(F.max("df").alias("df"))
                .persist()
            )

    def detach_delta(self) -> None:
        """Drop the overlay (after compaction folds the delta into the base
        index + ANN layout)."""
        self.attach_delta(None, None, None, None)

    @property
    def _delta_lex(self) -> bool:
        return (
            self.delta_postings is not None
            and self.delta_stats is not None
            and self.delta_stats[0] > 0
        )

    def _expansion_dictionary(self) -> DataFrame:
        return self._fuzzy_dict if self._fuzzy_dict is not None else self.dictionary

    # driver-side view of the dictionary: Lucene/ES serve fuzzy candidates
    # and term lookups from an in-RAM terms dictionary (the FST).  Up to the
    # cap the plan collects the term list — a 31-term synthetic dictionary
    # was costing 1.7-1.9 s of Spark job floors per batch under stage
    # contention at 960k (round-6 profile).  Above it (a web-scale term
    # dictionary does not fit one process) the plan keeps a Bloom filter of
    # the dictionary for AC pruning and fetches fuzzy candidates through one
    # narrow filter job (operators.fuzzy.fuzzy_candidate_probe).
    driver_expansion_max_terms = 50_000

    def _driver_dictionary(self) -> list[str] | None:
        """Collected term list (sorted) when ≤ the cap, else None.  Fills
        the membership view ``_dict_present_set`` serves: the term set, or
        above the cap the dictionary's ``TermBloom``.  Cached per attach
        state (attach_delta/detach_delta invalidate)."""
        cached = getattr(self, "_driver_dict", ...)
        if cached is not ...:
            return cached
        d = self._expansion_dictionary()
        n = d.count()
        if n <= self.driver_expansion_max_terms:
            terms = sorted(r["term"] for r in d.select("term").collect())
            self._driver_dict_set = set(terms)
        else:
            terms = None
            self._driver_dict_set = dictionary_bloom(d, n)
        self._driver_dict = terms  # last: readers test it, then the view
        return terms

    def _dict_present_set(self) -> Container[str] | None:
        """The dictionary's membership view — the term set, or above the
        cap its Bloom filter — IF ``_driver_dictionary`` already built it
        (never triggers the build itself, so a strong first query on a
        cold plan pays no dictionary jobs).  Serves the AC term-pruning
        fast path: a term absent from the (base ∪ delta) dictionary has no
        postings anywhere, so dropping it — or skipping the AC job entirely
        when nothing remains or the resolved minimum_should_match exceeds
        the present distinct-term count — is result-identical.  The filter
        never drops a member; a false positive only keeps a job that finds
        nothing for that term."""
        if getattr(self, "_driver_dict", ...) is ...:
            return None
        return self._driver_dict_set

    def _expand_terms_driver(
        self, qids: list[int], qtext: dict[int, str], opts: SearchOpts,
        dict_terms: list[str],
    ) -> list[dict]:
        """The fuzzy expansion → rows (query_id, term, term_weight): per
        distinct query term, the ``dict_terms`` within ``fuzzy_max_edits``
        in its prefix bucket (``fuzzy_term_candidates``' ``q[:2]``), capped
        at ``fuzzy_max_expansions`` by (edit asc, term asc), weighted by
        edit ratio; a term reached from several query terms keeps its best
        weight.  ``dict_terms`` is the whole dictionary or any superset of
        the candidates (``_expand_terms_batch``) — the rows are the same.
        Pinned against ``fuzzy_term_candidates`` by
        tests/test_hybrid_batch.py."""
        buckets: dict[str, list[str]] = {}
        buckets1: dict[str, list[str]] = {}
        for t in dict_terms:
            buckets.setdefault(t[:2], []).append(t)
            buckets1.setdefault(t[:1], []).append(t)

        def lev(a: str, b: str) -> int:
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1,
                            prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

        out: dict[tuple[int, str], float] = {}
        for qid in qids:
            for qt in dict.fromkeys(query_terms(qtext[qid])):
                plen = min(len(qt), 2)
                cand = (buckets if plen == 2 else buckets1).get(qt[:plen], [])
                scored = sorted(
                    (d, term)
                    for term in cand
                    if (d := lev(term, qt)) <= opts.fuzzy_max_edits
                )
                for d, term in scored[: opts.fuzzy_max_expansions]:
                    w = 1.0 - d / max(len(term), len(qt))
                    key = (qid, term)
                    if key not in out or w > out[key]:
                        out[key] = w
        return [
            {"query_id": q, "term": t, "term_weight": w}
            for (q, t), w in out.items()
        ]

    def close(self) -> None:
        """Release the plan's persisted frames (postings/doc-lengths/
        dictionary or the loaded index).  Results already returned by
        ``search()`` stay valid — they are built from collected stage rows,
        not from the cached lineage."""
        for df in (
            self.index_df,
            self.postings,
            self.dl,
            self.dictionary,
            self.ann_df,
            self._delta_ann,
            self._fuzzy_dict,
        ):
            if df is not None:
                df.unpersist()

    # -- stages -----------------------------------------------------------

    def ac_stage(
        self, query: str, k: int, min_should_match: int | str = 1
    ) -> DataFrame:
        # driver-dictionary term pruning (zero-job fast path): terms absent
        # from the (base ∪ delta) dictionary have no postings anywhere, so
        # a query with none present — or whose resolved minimum_should_match
        # exceeds the present distinct-term count — is empty WITHOUT
        # submitting any Spark job (the gibberish/typo queries that always
        # escalate previously still paid the AC probe job).  msm resolves
        # against the ORIGINAL distinct term count before pruning, so the
        # filter semantics are unchanged.
        dset = self._dict_present_set()
        query_run: str | list[str] = query
        msm_run: int | str = min_should_match
        if dset is not None:
            from ..operators.bm25 import es_min_should_match
            from .wand import query_terms

            toks = list(dict.fromkeys(query_terms(query)))
            msm_n = es_min_should_match(min_should_match, len(toks))
            present = [t for t in toks if t in dset]
            if not present or msm_n > len(present):
                return local_frame(
                    self.docs.sparkSession,
                    [], "doc_id long, score double"
                )
            query_run, msm_run = present, msm_n
        if self.index_df is not None:
            from .wand import topk_search

            base = topk_search(
                self.docs.sparkSession,
                self.index_dir,
                query_run,
                k=k,
                index_df=self.index_df,
                meta=self.index_meta,
                min_should_match=msm_run,
                pre_grouped=True,
            ).select("doc_id", "score")
        else:
            base = bm25_topk(
                self.docs,
                query_run,
                k=k,
                text_col=self.text_col,
                postings=self.postings,
                dl=self.dl,
                stats=self.stats,
                min_should_match=msm_run,
            ).select("doc_id", "score")
        return self._overlay_lexical(
            base, query, k, min_should_match=min_should_match
        )

    def _overlay_lexical(
        self,
        base: DataFrame,
        query: str | list[str],
        k: int,
        term_weights: dict[str, float] | None = None,
        min_should_match: int | str = 1,
    ) -> DataFrame:
        """base ∪ delta BM25, keep-best per doc, re-top-k — the same overlay
        shape as ``streaming.incremental.search_with_delta`` (each side
        scored under its own corpus stats, reference overlay semantics).
        One plan → the caller's single collect stays a single job."""
        if not self._delta_lex:
            return base
        from ..operators.fusion import dedup_keep_best
        from ..streaming.incremental import delta_bm25_topk

        delta = delta_bm25_topk(
            self.delta_postings, query, k=k,
            delta_stats=self.delta_stats, term_weights=term_weights,
            min_should_match=min_should_match,
        ).select("doc_id", "score")
        return (
            dedup_keep_best(base.unionByName(delta))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def fuzzy_stage(self, query: str, k: int, opts: SearchOpts) -> DataFrame:
        """Expand each query term through the fuzzy dictionary (edit ≤ 1,
        same-prefix buckets), then score docs via BM25 with each expanded
        term's contribution discounted by its edit ratio."""
        weights = {
            r["term"]: r["term_weight"]
            for r in self._expand_terms_batch([0], {0: query}, opts)
        }
        if not weights:
            return local_frame(
                self.docs.sparkSession,
                [], "doc_id long, score double"
            )
        if self.index_df is not None:
            from .wand import topk_search

            base = topk_search(
                self.docs.sparkSession,
                self.index_dir,
                list(weights),
                k=k,
                index_df=self.index_df,
                meta=self.index_meta,
                term_weights=weights,
                pre_grouped=True,
            ).select("doc_id", "score")
        else:
            scored = score_terms(
                self.postings, self.dl, list(weights), self.stats
            )
            wdf = local_frame(
                self.docs.sparkSession,
                [(t, w) for t, w in weights.items()],
                "term string, term_weight double",
            )
            weighted = scored.join(F.broadcast(wdf), "term").withColumn(
                "term_score", F.col("term_score") * F.col("term_weight")
            )
            base = (
                weighted.groupBy("doc_id")
                .agg(F.sum("term_score").alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        return self._overlay_lexical(base, list(weights), k, term_weights=weights)

    def vector_stage(self, query: str, k: int, rerank: bool = True) -> DataFrame:
        """kNN hits as (doc_id, score, cos_sim) — score starts as the cosine
        and picks up the L9 fuzz rerank; the raw cosine rides along for the
        stage-4 post-boosts (the reference boosts on ``trace['cosine']``,
        hybrid_search_service.py:1248-1254).  The batched vector leg on a
        batch of one, anchors off (``_vector_stage_batch``)."""
        opts = SearchOpts(
            top_k=k, rapidfuzz_rerank=rerank, enable_anchor_boost=False
        )
        return local_frame(
            self.docs.sparkSession,
            [
                (r["doc_id"], r["score"], r["cos_sim"])
                for r in self._vector_stage_batch([0], {0: query}, opts)[0]
            ],
            "doc_id long, score double, cos_sim double",
        )

    # -- plan -------------------------------------------------------------

    def search(
        self, query: str, opts: SearchOpts | None = None
    ) -> tuple[DataFrame, list[SearchTraceStep]]:
        """Run the adaptive ladder; returns (results, trace)."""
        import time

        opts = opts or SearchOpts()
        trace: list[SearchTraceStep] = []
        k = opts.top_k
        spark = self.docs.sparkSession

        # stage results are ≤ k rows — materialize each once on the driver
        # (one job per stage) instead of persist+agg+reuse (three jobs + a
        # cache leak per search call)
        t0 = time.monotonic()
        ac_rows = self.ac_stage(query, k, opts.min_should_match).collect()
        # homoglyph permutation search (reference: _handle_search_layer
        # multi-search, unified_orchestrator.py:647-731): when the query mixes
        # scripts, also search the homoglyph-folded variant, keep best per doc
        from ..functions.normalize import fold_homoglyphs

        folded, n_folds = fold_homoglyphs(query)
        if n_folds > 0 and folded != query:
            folded_rows = self.ac_stage(
                folded, k, opts.min_should_match
            ).collect()
            # driver-side merge is k-BOUNDED: both row sets are top-k collects
            # (≤ 2k rows total), never O(corpus) — safe at any scale
            best: dict[int, float] = {}
            for r in list(ac_rows) + list(folded_rows):
                doc, sc = r["doc_id"], r["score"]
                if doc not in best or sc > best[doc]:
                    best[doc] = sc
            ac_rows = [
                {"doc_id": d, "score": s}
                for d, s in sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            ]
        ac_n = len(ac_rows)
        ac_best = max((r["score"] for r in ac_rows), default=0.0)
        trace.append(
            SearchTraceStep("AC", ac_n, ac_best, (time.monotonic() - t0) * 1000)
        )

        # escalation decision (_should_escalate, hybrid_search_service.py:912-928)
        escalate = opts.enable_escalation and (
            ac_n == 0 or ac_best < opts.escalation_threshold
        )

        # lexical keep-best merge is driver-side over k-bounded row sets
        # (≤ 2k rows) — every stage result is already collected, so fusing
        # through Spark jobs would only add per-job scheduling floors
        lexical_best: dict[int, float] = {}
        for r in ac_rows:
            doc, sc = r["doc_id"], r["score"]
            if doc not in lexical_best or sc > lexical_best[doc]:
                lexical_best[doc] = sc
        vec_rows: list = []
        if escalate:
            # stages 2 and 3 are independent given the escalation decision
            # (fuzzy feeds nothing into the vector probe; both merge after)
            # — run them CONCURRENTLY, exactly like search_many overlaps
            # them (round 6: the sequential ladder paid 0.8 s fuzzy + 1.0 s
            # vector back-to-back on an escalated ANN query).  Each stage's
            # took_ms is its own wall; the trace keeps the ladder order.
            t1 = time.monotonic()
            fz_fut = _Async(lambda: self.fuzzy_stage(query, k, opts).collect())
            vec_fut = (
                _Async(
                    lambda: self._vector_stage_batch([0], {0: query}, opts)[0]
                )
                if self._have_vectors
                else None
            )
            fz_rows = fz_fut.result()
            fz_ms = (time.monotonic() - t1) * 1000
            for r in fz_rows:
                doc, sc = r["doc_id"], r["score"]
                if doc not in lexical_best or sc > lexical_best[doc]:
                    lexical_best[doc] = sc
            trace.append(
                SearchTraceStep(
                    "FUZZY",
                    len(fz_rows),
                    max((r["score"] for r in fz_rows), default=0.0),
                    fz_ms,
                )
            )
            if vec_fut is not None:
                vec_rows = vec_fut.result()
                trace.append(
                    SearchTraceStep(
                        "SEMANTIC",
                        len(vec_rows),
                        max((r["score"] for r in vec_rows), default=0.0),
                        (time.monotonic() - t1) * 1000,
                        {"ann": self.ann_kind if self.ann_index_dir else "bruteforce"},
                    )
                )

        top, use_vector = _fuse(lexical_best, ac_n, ac_best, vec_rows, opts)
        result = local_frame(
            spark,
            [{"doc_id": d, "score": s} for d, s in top],
            "doc_id long, score double",
        )
        trace.append(
            SearchTraceStep(
                "HYBRID", -1, ac_best, 0.0,
                {"escalated": escalate, "vector_fallback_used": use_vector},
            )
        )
        return result, trace

    # -- batched msearch ladder --------------------------------------------

    def _expand_terms_batch(
        self, qids: list[int], qtext: dict[int, str], opts: SearchOpts
    ) -> list[dict]:
        """Fuzzy dictionary expansion for a query set → rows (query_id,
        term, term_weight), through ``_expand_terms_driver`` over the
        in-RAM dictionary — or, above the cap, over the candidates one
        narrow probe job fetches for all the set's query terms."""
        dict_terms = self._driver_dictionary()
        if dict_terms is None:
            dict_terms = fuzzy_candidate_probe(
                self._expansion_dictionary(),
                (t for qid in qids for t in query_terms(qtext[qid])),
                opts.fuzzy_max_edits,
            )
        return self._expand_terms_driver(qids, qtext, opts, dict_terms)

    def _merge_delta_fuzzy(
        self,
        fz_rows: dict[int, list[tuple[int, float]]],
        expanded_rows: list,
        tset,
        k: int,
    ) -> dict[int, list[tuple[int, float]]]:
        """Overlay (round 6): the expanded terms also score against the
        delta postings (delta's own stats + the same edit-ratio weights),
        then each query's base ∪ delta keep-bests and truncates to k —
        exactly fuzzy_stage()'s overlay + limit.  Shared by the
        speculative fuzzy job and the fused AC+fuzzy path."""
        if not expanded_rows or not self._delta_lex:
            return fz_rows
        from ..streaming.incremental import batch_delta_topk

        delta_fz = batch_delta_topk(
            self.docs.sparkSession, self.delta_postings,
            [
                (r["query_id"], r["term"], float(r["term_weight"]))
                for r in expanded_rows
            ],
            sorted(tset), k=k, delta_stats=self.delta_stats,
        ).collect()
        if delta_fz:
            for qid in fz_rows:
                best: dict[int, float] = {}
                for doc, sc in fz_rows[qid]:
                    if doc not in best or sc > best[doc]:
                        best[doc] = sc
                for r in (x for x in delta_fz if x["query_id"] == qid):
                    d, sc = r["doc_id"], r["score"]
                    if d not in best or sc > best[d]:
                        best[d] = sc
                fz_rows[qid] = sorted(
                    best.items(), key=lambda kv: (-kv[1], kv[0])
                )[:k]
        return fz_rows

    def _indexed_batch_tops(
        self,
        entries: list[tuple[int, str]],
        k: int,
        override: list[tuple[int, str, float]] | None = None,
        min_should_match: int | str = 1,
    ) -> list[tuple[int, int, float]]:
        """One scoring job over the plan's pre-grouped index cache →
        each query id's exact top-k as (query_id, doc_id, score): the
        task-local tops (≤ n_groups × ids × k rows) merged on the driver,
        so the job plans no exchange at all (``batch_topk_indexed``'s
        per-query window would add one, and a second job)."""
        from .wand import batch_topk_local

        local = batch_topk_local(
            self.docs.sparkSession, self.index_dir, entries, k=k,
            index_df=self.index_df, meta=self.index_meta,
            query_terms_override=override, min_should_match=min_should_match,
            n_groups=self._idx_n_groups, pre_grouped=True,
        )
        return merge_local_topk(
            (
                (r["query_id"], r["doc_id"], r["score"])
                for r in local.select("query_id", "doc_id", "score").collect()
            ),
            k,
        )

    # -- batched vector leg ---------------------------------------------

    @property
    def _have_vectors(self) -> bool:
        return self._probe is not None or self._delta_ann is not None

    def _vector_stage_batch(
        self,
        targets: list[int],
        qtext: dict[int, str],
        opts: SearchOpts,
        cancel=None,
    ) -> dict[int, list[dict]]:
        """Stage 3 for a query set → per query id its k-bounded vector rows
        (doc_id, score, cos_sim, anchor_mult): the cosine top-k, the L9
        fuzz rerank folded into ``score`` and the L10 anchor multiplier —
        evaluated in-cluster, so no document text reaches the driver (at
        web scale a 100-query × k × ~100 KB-doc collect would be ~100 MB).
        The one vector leg of every call shape: ``search()`` serves a batch
        of one.  ``cancel``: an abandoned speculation submits no further
        job once it is set."""
        from ..operators.fuzzy import extract_anchors

        vec_rows: dict[int, list[dict]] = {q: [] for q in targets}
        if not (targets and self._have_vectors):
            return vec_rows
        qvecs = [(q, self.encoder.encode_one(qtext[q])) for q in targets]
        anchors = {
            q: extract_anchors(qtext[q]) if opts.enable_anchor_boost else ([], [])
            for q in targets
        }
        # rerank-free fast path: with the fuzz rerank off and no query
        # carrying anchors, the text could only give anchor_mult = 1.0 and
        # an unchanged score — the rows skip it
        need_text = opts.rapidfuzz_rerank or any(d or i for d, i in anchors.values())
        for q, doc, score, cos, mult in self._probe_vector_rows(
            qvecs, qtext, anchors, opts, need_text, cancel
        ):
            vec_rows[q].append(
                {"doc_id": doc, "score": score, "cos_sim": cos, "anchor_mult": mult}
            )
        return vec_rows

    def _probe_vector_rows(self, qvecs, qtext, anchors, opts, need_text, cancel):
        """The plan's probe over its text-carrying vector cache, and the
        exact gemv over the delta's: each probe task emits its local top-k
        with the rows' text, query text, anchors and partial ratio; the
        rerank/anchor projection (``_rerank_frame``) runs on that output in
        the same job and drops the text before the collect; the driver
        merges the local tops by (cos desc, doc asc), keeps k, and only then
        drops hits with no doc row — the inner-join semantics of a doc-text
        join (such a hit vanishes; the (k+1)-th does not replace it)."""
        k = opts.top_k
        rerank = (
            ProbeRerank(
                qtext={q: qtext[q] for q, _ in qvecs},
                anchors=anchors,
                partial=opts.rapidfuzz_rerank,
            )
            if need_text
            else None
        )
        kw = dict(k=k, as_rows=rerank is None, rerank=rerank)
        parts = []
        if self._probe is not None:
            parts.append(self._probe(qvecs, **kw))
        if self._delta_ann is not None:
            # exact batched gemv over the delta (ids disjoint from the
            # base), merged with the base under the same order
            parts.append(knn_bruteforce_many(self._delta_ann, qvecs, **kw))
        if rerank is None:
            return [
                (q, d, c, c, 1.0)
                for q, d, c in merge_local_topk(
                    (row for part in parts for row in part), k
                )
            ]
        if cancel is not None and cancel.is_set():
            return []  # abandoned: don't submit the final job
        local = parts[0]
        for part in parts[1:]:
            local = local.unionByName(part)
        merged = merge_local_topk(
            (
                (r["query_id"], r["doc_id"], r["cos_sim"], r["score"],
                 r["anchor_mult"], r[HAS_DOC_COL])
                for r in _rerank_frame(local, opts).collect()
            ),
            k,
        )
        return [(q, d, s, c, m) for q, d, c, s, m, has_doc in merged if has_doc]

    def search_many(
        self, queries: list[tuple[int, str]], opts: SearchOpts | None = None
    ) -> tuple[DataFrame, dict[int, dict]]:
        """The whole query set through the adaptive ladder in a BOUNDED number
        of Spark jobs (the reference's msearch shape, S7) instead of ~6 jobs
        per query.  On an indexed plan with an in-RAM dictionary and an
        IVF vector index that is TWO jobs, neither with an exchange: the
        fused AC+fuzzy scoring job and the vector probe that reranks inside
        its tasks; both collect task-local tops the driver merges.
        Per-query semantics are identical to ``search()`` (parity-tested);
        returns ((query_id, doc_id, score, rank), {query_id: meta}).

        Per-query latency in ``search()`` is dominated by Spark's per-job
        scheduling floor; batching amortizes it across the set — the same
        argument ``operators.bm25.batch_topk`` makes for plain BM25."""
        import time

        from ..functions.normalize import fold_homoglyphs
        from ..operators.bm25 import batch_topk

        t_start = time.monotonic()
        # per-stage wall times build in a LOCAL dict and publish as a
        # snapshot on return (self.last_batch_trace) — concurrent
        # search_many calls on one plan each get a self-consistent trace,
        # and an abandoned speculative thread can only write into its own
        # call's local dict, never a later call's published one
        trace: dict[str, float] = {}
        import threading

        # every speculative writer takes this lock for its trace insert,
        # and publication snapshots under it — an abandoned thread that
        # finishes after cancellation can no longer mutate the dict while
        # the main thread iterates it (review finding, round 6)
        trace_lock = threading.Lock()
        opts = opts or SearchOpts()
        k = opts.top_k
        spark = self.docs.sparkSession
        qtext = dict(queries)

        # --- speculative fuzzy expansion, overlapped with AC ---------------
        # The per-term dictionary expansion depends only on the query texts,
        # not on the AC outcome — so it runs CONCURRENTLY with the AC job for
        # ALL queries and is filtered to the escalating subset afterwards
        # (identical rows: the expansion is per query).  Above the in-RAM
        # cap its one candidate-probe job is wall-time-free (overlapped):
        # one narrow filter over the cached dictionary.
        # FUSED lexical path (round 7): when the in-RAM dictionary serves
        # expansion (driver-only, ~ms), the fuzzy SCORING rides in the SAME
        # batch job as the AC stage (disjoint query-id spaces, per-query
        # independent scoring — row-identical to two jobs by construction).
        # The two jobs previously scanned, shuffled and varint-decoded the
        # SAME matched postings concurrently (960k profile: AC ~5.4 s +
        # fuzzy ~6.3 s isolated, most of each being that shared work);
        # fused, the postings pass is paid once (guide §1.2: remove
        # passes/shuffles before tuning per-task work).
        fuse_lex = (
            opts.enable_escalation
            and opts.speculative_fuzzy
            and self.index_df is not None
            and self._driver_dictionary() is not None
        )
        fused_expanded_rows: list = []
        if fuse_lex:
            t_exp = time.monotonic()
            fused_expanded_rows = self._expand_terms_batch(
                [qid for qid, _ in queries], qtext, opts
            )
            with trace_lock:
                trace["expansion_ms"] = (time.monotonic() - t_exp) * 1000
        exp_fut = (
            _Async(
                _timed_into(
                    trace, "expansion_ms",
                    lambda: self._expand_terms_batch(
                        [qid for qid, _ in queries], qtext, opts
                    ),
                    lock=trace_lock,
                )
            )
            if opts.enable_escalation and not fuse_lex
            else None
        )

        # the speculative probe runs under its OWN job group (job groups are
        # thread-local on the driver, and the probe has its own daemon
        # thread) so an abandoned speculation can be CANCELLED instead of
        # silently burning executor cores to completion with no consumer
        # (review finding, round 5)
        spec_group = f"specvec-{next(_SPEC_GROUP_SEQ)}"
        # set BEFORE cancelJobGroup: a speculative thread still blocked on
        # an upstream future would otherwise submit its jobs AFTER the
        # cancellation (cancelJobGroup does not apply to later submissions)
        import threading as _threading

        spec_cancel = _threading.Event()

        def _speculative_probe():
            spark.sparkContext.setJobGroup(
                spec_group, "speculative batched vector probe",
                interruptOnCancel=True,
            )
            return self._vector_stage_batch(
                [qid for qid, _ in queries], qtext, opts, cancel=spec_cancel
            )

        vec_fut = (
            _Async(_timed_into(trace, "vector_ms", _speculative_probe, lock=trace_lock))
            # ANN-served probes only: the brute-force fallback is an
            # O(corpus) scan and must not run for queries that may never
            # escalate (review finding, round 4)
            if opts.speculative_vector and opts.enable_escalation
            and self.ann_index_dir is not None
            else None
        )

        # --- stage 2 scoring, speculative (round 6): the fuzzy SCORING job
        # depends only on the expansion result, never on AC — chaining it
        # off exp_fut at t0 takes the last post-AC stage off the critical
        # path (960k profile: wall was AC + fuzzy with vector already
        # overlapped).  Per-query scoring is independent, so the post-AC
        # filter to the escalating subset returns exactly what scoring only
        # that subset would have.
        def _fuzzy_stage_batch(
            targets: list[int],
            cancel=None,
        ) -> dict[int, list[tuple[int, float]]]:
            from pyspark.sql import Window

            fz_rows: dict[int, list[tuple[int, float]]] = {q: [] for q in targets}
            if not targets or exp_fut is None:
                return fz_rows
            tset = set(targets)
            expanded_rows = [
                r for r in exp_fut.result() if r["query_id"] in tset
            ]
            # the speculative thread blocks on the expansion future ABOVE —
            # cancelJobGroup only kills ACTIVE jobs, so a cancellation that
            # arrived while we waited must stop us from SUBMITTING the
            # scoring jobs now (they would run to completion unconsumed)
            if cancel is not None and cancel.is_set():
                return fz_rows
            if expanded_rows and self.index_df is not None:
                # weighted batch scoring straight off the compressed
                # index: the chunk-group Arrow scorer multiplies each
                # expanded term's contribution by its edit-ratio weight
                for q, doc, sc in self._indexed_batch_tops(
                    [], k,
                    override=[
                        (r["query_id"], r["term"], float(r["term_weight"]))
                        for r in expanded_rows
                    ],
                ):
                    fz_rows[q].append((doc, sc))
            elif expanded_rows:
                all_terms = sorted({r["term"] for r in expanded_rows})
                scored = score_terms(
                    self.postings, self.dl, all_terms, self.stats
                )
                wdf = local_frame(
                    spark,
                    [
                        (r["query_id"], r["term"], float(r["term_weight"]))
                        for r in expanded_rows
                    ],
                    "query_id long, term string, term_weight double",
                )
                w2 = Window.partitionBy("query_id").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
                fz_all = (
                    scored.join(F.broadcast(wdf), "term")
                    .withColumn(
                        "term_score", F.col("term_score") * F.col("term_weight")
                    )
                    .groupBy("query_id", "doc_id")
                    .agg(F.sum("term_score").alias("score"))
                    .withColumn("rn", F.row_number().over(w2))
                    .where(F.col("rn") <= k)
                    .collect()
                )
                for r in fz_all:
                    fz_rows[r["query_id"]].append((r["doc_id"], r["score"]))
            if cancel is not None and cancel.is_set():
                return fz_rows  # abandoned: skip the delta scoring job too
            return self._merge_delta_fuzzy(fz_rows, expanded_rows, tset, k)

        spec_fz_group = f"specfz-{next(_SPEC_GROUP_SEQ)}"

        def _speculative_fuzzy():
            spark.sparkContext.setJobGroup(
                spec_fz_group, "speculative batched fuzzy scoring",
                interruptOnCancel=True,
            )
            return _fuzzy_stage_batch(
                [qid for qid, _ in queries], cancel=spec_cancel
            )

        fz_fut = (
            _Async(_timed_into(trace, "fuzzy_ms", _speculative_fuzzy, lock=trace_lock))
            if opts.speculative_fuzzy and opts.enable_escalation
            and not fuse_lex
            else None
        )

        # --- stage 1: batched AC (+ homoglyph variants as extra entries) ---
        entries = list(queries)
        variant_of: dict[int, int] = {}
        next_id = max((q for q, _ in queries), default=0) + 1
        for qid, text in queries:
            folded, n_folds = fold_homoglyphs(text)
            if n_folds > 0 and folded != text:
                entries.append((next_id, folded))
                variant_of[next_id] = qid
                next_id += 1
        # driver-dictionary entry pruning (mirrors ac_stage): entries with
        # no dictionary-present term — or an unattainable resolved
        # minimum_should_match — contribute no rows, so they are dropped
        # from the batch job (and the job itself is skipped when nothing
        # remains); msm resolves against each entry's ORIGINAL distinct
        # token count, so filter semantics are unchanged
        run_entries = entries
        dset = self._dict_present_set()
        if dset is not None:
            from ..operators.bm25 import es_min_should_match

            def _runnable(text: str) -> bool:
                toks = list(dict.fromkeys(query_terms(text)))
                present = sum(1 for t in toks if t in dset)
                if present == 0:
                    return False
                return es_min_should_match(
                    opts.min_should_match, len(toks)
                ) <= present

            run_entries = [e for e in entries if _runnable(e[1])]
        fused_fz_rows: dict[int, list[tuple[int, float]]] = {}
        if self.index_df is not None:
            ovr = None
            fz_off = 0
            if fuse_lex and fused_expanded_rows:
                # fuzzy ids ride above every entry id (offset shifted past
                # negative query ids too) so the fused job's rows split
                # back unambiguously
                max_entry = max(q for q, _ in entries)
                min_qid = min(q for q, _ in queries)
                fz_off = max_entry + 1 - min(0, min_qid)
                ovr = [
                    (r["query_id"] + fz_off, r["term"],
                     float(r["term_weight"]))
                    for r in fused_expanded_rows
                ]
            if not run_entries and ovr is None:
                ac_fz_all = []  # nothing can match: zero-job AC stage
            else:
                ac_fz_all = self._indexed_batch_tops(
                    run_entries, k, override=ovr,
                    # no tokenized entries left ⇒ msm is moot (override ids
                    # always keep minimum 1, and passing a real msm with an
                    # override-only call is rejected by contract)
                    min_should_match=(
                        opts.min_should_match if run_entries else 1
                    ),
                )
            if ovr is not None:
                max_entry = max(q for q, _ in entries)
                ac_all = [r for r in ac_fz_all if r[0] <= max_entry]
                fused_fz_rows = {qid: [] for qid, _ in queries}
                for q, doc, sc in ac_fz_all:
                    if q > max_entry:
                        fused_fz_rows[q - fz_off].append((doc, sc))
            else:
                ac_all = ac_fz_all
                if fuse_lex:
                    fused_fz_rows = {qid: [] for qid, _ in queries}
        elif run_entries:
            ac_all = [
                (r["query_id"], r["doc_id"], r["score"])
                for r in batch_topk(
                    self.docs, run_entries, k=k, text_col=self.text_col,
                    postings=self.postings, stats=self.stats,
                    min_should_match=opts.min_should_match,
                ).select("query_id", "doc_id", "score").collect()
            ]
        else:
            ac_all = []  # nothing can match: zero-job AC stage
        # per-ENTRY overlay first (base ∪ delta keep-best, truncated to k —
        # exactly ac_stage()'s limit), THEN the homoglyph-variant merge:
        # matching search()'s truncation order keeps single↔batch parity
        # even for docs at rank k+1 that the vector stage would later fuse
        entry_best: dict[int, dict[int, float]] = {q: {} for q, _ in entries}
        for q, doc, sc in ac_all:
            cur = entry_best[q]
            if doc not in cur or sc > cur[doc]:
                cur[doc] = sc
        if self._delta_lex:
            from ..functions.tokenize import py_index_tokens
            from ..streaming.incremental import batch_delta_topk

            weighted = [
                (qid, t, 1.0)
                for qid, q in entries
                for t in dict.fromkeys(py_index_tokens(q))
            ]
            from ..operators.bm25 import es_min_should_match

            msm_per_qid = {
                qid: es_min_should_match(
                    opts.min_should_match,
                    len(dict.fromkeys(py_index_tokens(q))),
                )
                for qid, q in entries
            }
            for r in batch_delta_topk(
                spark, self.delta_postings, weighted,
                [qid for qid, _ in entries], k=k,
                delta_stats=self.delta_stats,
                min_match_per_qid=msm_per_qid,
            ).collect():
                cur = entry_best[r["query_id"]]
                if r["doc_id"] not in cur or r["score"] > cur[r["doc_id"]]:
                    cur[r["doc_id"]] = r["score"]
        ac_best_rows: dict[int, dict[int, float]] = {q: {} for q, _ in queries}
        for eqid, best in entry_best.items():
            qid = variant_of.get(eqid, eqid)
            cur = ac_best_rows[qid]
            for doc, sc in sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]:
                if doc not in cur or sc > cur[doc]:
                    cur[doc] = sc
        ac_rows = {
            qid: sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            for qid, best in ac_best_rows.items()
        }

        trace["ac_ms"] = (time.monotonic() - t_start) * 1000

        escalating = [
            qid for qid, _ in queries
            if opts.enable_escalation and (
                not ac_rows[qid]
                or max(s for _, s in ac_rows[qid]) < opts.escalation_threshold
            )
        ]

        # --- stages 2+3: both futures may already be in flight (speculative,
        # launched at t0); lazy fallbacks cover the non-speculative opts.
        # Wall time is max(AC, expansion+fuzzy, vector), not the sum.
        if fz_fut is None and escalating and not fuse_lex:
            fz_fut = _Async(
                _timed_into(
                    trace, "fuzzy_ms",
                    lambda: _fuzzy_stage_batch(escalating),
                    lock=trace_lock,
                )
            )
        if vec_fut is None and escalating:
            vec_fut = _Async(
                _timed_into(
                    trace, "vector_ms",
                    lambda: self._vector_stage_batch(escalating, qtext, opts),
                    lock=trace_lock,
                )
            )
        suppress_vec_trace = suppress_fz_trace = False
        if not escalating:
            # nothing escalated: don't block on the speculative stages at
            # all — a future launched before the AC result existed is
            # abandoned AND its in-flight Spark jobs cancelled via its job
            # group, so the dead work stops consuming executor cores; the
            # cancellation exception stays inside the never-joined daemon
            # thread and the stage's ms never lands in the trace (review
            # findings, round 5)
            spec_cancel.set()  # stops NOT-YET-SUBMITTED speculative jobs
            if vec_fut is not None:
                spark.sparkContext.cancelJobGroup(spec_group)
                suppress_vec_trace = True
            if fz_fut is not None:
                spark.sparkContext.cancelJobGroup(spec_fz_group)
                suppress_fz_trace = True
            vec_rows: dict[int, list] = {}
            fz_rows: dict[int, list[tuple[int, float]]] = {}
        else:
            # speculative results cover ALL queries — keep only the
            # escalating subset so gating sees exactly what search() would
            # have computed
            if fuse_lex:
                # fused results cover ALL queries — keep the escalating
                # subset, then apply the delta-overlay merge exactly as the
                # speculative fuzzy job would have
                eset = set(escalating)
                fz_rows = self._merge_delta_fuzzy(
                    {q: fused_fz_rows.get(q, []) for q in escalating},
                    [
                        r for r in fused_expanded_rows
                        if r["query_id"] in eset
                    ],
                    eset, k,
                )
            else:
                fz_all_res = fz_fut.result() if fz_fut is not None else {}
                fz_rows = {q: fz_all_res.get(q, []) for q in escalating}
            vec_all = vec_fut.result()
            vec_rows = {q: vec_all.get(q, []) for q in escalating}

        # --- driver-side gating + boosts + fusion per query -----------------
        out_rows = []
        meta: dict[int, dict] = {}
        for qid, _text in queries:
            lexical_best: dict[int, float] = dict(ac_rows[qid])
            for doc, sc in fz_rows.get(qid, []):
                if doc not in lexical_best or sc > lexical_best[doc]:
                    lexical_best[doc] = sc
            top, use_vector = _fuse(
                lexical_best, len(ac_rows[qid]),
                max((s for _, s in ac_rows[qid]), default=0.0),
                vec_rows.get(qid, []), opts,
            )
            for rank, (doc, s) in enumerate(top, start=1):
                out_rows.append(
                    {"query_id": qid, "doc_id": doc, "score": s, "rank": rank}
                )
            meta[qid] = {
                "escalated": qid in escalating,
                "vector_fallback_used": use_vector,
            }
        result = local_frame(
            spark,
            out_rows, "query_id long, doc_id long, score double, rank int"
        )
        with trace_lock:
            trace["total_ms"] = (time.monotonic() - t_start) * 1000
            self.last_batch_trace = {
                k: v
                for k, v in trace.items()
                if not (
                    (suppress_vec_trace and k == "vector_ms")
                    or (suppress_fz_trace and k == "fuzzy_ms")
                )
            }
        return result, meta
