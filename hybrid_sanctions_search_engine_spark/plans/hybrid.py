"""Hybrid search plan: the reference's adaptive AC → fuzzy → vector ladder.

Re-expresses ``HybridSearchService._hybrid_search``
(``/root/reference/src/ai_service/layers/search/hybrid_search_service.py:728-910``)
as driver-side control flow over DataFrame stages:

  stage 1  AC/lexical    — top-k BM25, scored in place on a standing cache
                           (the compressed index, or raw postings ⋈ df)
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.bm25 import cached_topk_local, raw_postings_cache
from ..operators.fuzzy import dictionary_bloom, fuzzy_candidate_probe
from ..operators.postings import CorpusStats, build_postings, term_doc_freq
from ..operators.similarity import (
    ANN_KINDS,
    DOC_TEXT_COL,
    HAS_DOC_COL,
    ProbeRerank,
    knn_bruteforce_many,
    merge_local_topk,
)
from ..sources.tables import local_frame
from .wand import batch_topk_local, query_terms

_SPEC_GROUP_SEQ = itertools.count()


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
    ac_rows: list[tuple[int, float]],
    fz_rows: list[tuple[int, float]],
    vec_rows: list[dict],
    opts: SearchOpts,
) -> tuple[list[tuple[int, float]], bool]:
    """One query's stage-4 gating, vector post-boosts and fusion, on the
    driver over k-bounded rows → (top-k (doc_id, score), vector used).
    ``ac_rows`` / ``fz_rows``: the query's AC and fuzzy (doc_id, score)
    tops, merged keep-best; ``vec_rows``: its ``_vector_stage_batch``
    rows."""
    lexical_best: dict[int, float] = {}
    for doc, sc in [*ac_rows, *fz_rows]:
        if doc not in lexical_best or sc > lexical_best[doc]:
            lexical_best[doc] = sc
    ac_n = len(ac_rows)
    ac_best = max((s for _, s in ac_rows), default=0.0)
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
        # the lexical stages' one scorer, bound here for the plan's layout:
        # ``_score_base(entries, k=, query_terms_override=,
        # min_should_match=)`` → task-local tops over a STANDING cache
        # partitioned so that each partition holds every posting of its
        # docs, term-sorted — scored in place, one job with no exchange
        # (``operators.bm25.topk_pre_grouped``); ``_lexical_tops`` runs it
        if index_dir is not None:
            from ..sources.index_io import load_index
            from .wand import batch_n_groups

            self.index_df, self.index_meta = load_index(spark, index_dir)
            # the compressed index, cached on its chunk groups (whole chunks
            # per partition; the shuffle is paid once, at materialization)
            # and term-sorted, so the term IN (...) filter prunes cached
            # batches by min/max stats (guide §2.4/§6)
            self._idx_n_groups = batch_n_groups(spark, self.index_meta)
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
            self._score_base = partial(
                batch_topk_local, spark, index_dir, index_df=self.index_df,
                meta=self.index_meta, pre_grouped=True,
            )
            lexical = self.index_df
        else:
            # no index: the raw postings ⋈ df, cached by doc_id
            self.index_df = None
            self.index_meta = None
            postings = build_postings(docs, text_col, positions=False)
            self.postings = raw_postings_cache(postings, term_doc_freq(postings))
            # the statistics come off the cache, not a second tokenize: a
            # doc's Σ tf is its token count, and the sum fills the cache the
            # first lexical call scores (n_docs and Σ doc_len as
            # build_index observes them: a null-text doc counts, at length 0)
            n_docs = docs.count()
            total = self.postings.agg(F.sum("tf")).collect()[0][0] or 0
            self.stats: CorpusStats = CorpusStats(
                n_docs=n_docs, avgdl=float(total) / max(n_docs, 1)
            )
            self._score_base = partial(
                cached_topk_local, self.postings,
                n_docs=self.stats.n_docs, avgdl=self.stats.avgdl,
            )
            lexical = self.postings
        self.dictionary = (
            lexical.groupBy("term").agg(F.max("df").alias("df")).persist()
        )
        self.delta_docs: DataFrame | None = None
        self.delta_postings: DataFrame | None = None
        self.delta_stats: tuple[int, float] | None = None
        self.delta_embeddings: DataFrame | None = None
        # delta_embeddings ⟕ delta_docs' text, cached while attached (the
        # delta twin of the text-carrying ``ann_df``)
        self._delta_ann: DataFrame | None = None
        # the delta's raw postings ⋈ df cache and its bound scorer, while
        # attached
        self._delta_cache: DataFrame | None = None
        self._score_delta = None
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
        overlay existed, so fresh docs were invisible to escalation until
        compaction):

          * AC / fuzzy — base ∪ delta BM25 in the same scoring job, the
            delta scored in place on its own cache under its own corpus
            stats (the reference's overlay-then-active keep-best); fuzzy
            expansion additionally sees the delta's term dictionary;
          * vector     — probe(base) ∪ exact-gemv(delta embeddings),
            re-top-k'd under the same (cos desc, doc asc) order — cosine is
            stats-free, so this equals a full index rebuild exactly (parity
            test: tests/test_hybrid_delta.py);
          * rerank / anchors — the delta vectors carry the delta docs' text,
            as the base vectors carry the base docs'.

        ``delta_stats`` from ``streaming.incremental.load_delta_stats`` (one
        manifest read, no stats job); ``delta_embeddings`` from
        ``load_delta_embeddings``.  The delta sides rely on the compaction
        contract: delta doc_ids are DISJOINT from the base (new docs only);
        the lexical merge still keeps the best score per doc.  After the stream
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
        for df in (self._fuzzy_dict, self._delta_cache, self._delta_ann):
            if df is not None:
                df.unpersist()
        self._fuzzy_dict = self._delta_cache = self._delta_ann = None
        self._score_delta = None
        self._driver_dict = ...  # invalidate the driver-side FST-style cache
        self._driver_dict_set = None
        self.delta_docs = delta_docs
        self.delta_postings = delta_postings
        self.delta_embeddings = delta_embeddings
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
        if delta_postings is not None and delta_stats[0] > 0:
            # the base's raw twin: df counted once per attach (a map-side
            # combined groupBy), scored under the delta's own statistics
            self._delta_cache = raw_postings_cache(
                delta_postings,
                delta_postings.groupBy("term").agg(F.count("*").alias("df")),
            )
            self._score_delta = partial(
                cached_topk_local, self._delta_cache,
                n_docs=int(delta_stats[0]), avgdl=float(delta_stats[1] or 1.0),
            )
            # fuzzy expansion must see delta-only terms; df ride-along keeps
            # the dictionary schema (expansion ranks by edit distance only)
            df_type = self.dictionary.schema["df"].dataType.simpleString()
            self._fuzzy_dict = (
                self.dictionary.select("term", "df")
                .unionByName(
                    self._delta_cache.groupBy("term").agg(
                        F.max("df").cast(df_type).alias("df")
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
        """Release the plan's persisted frames (the lexical caches, the
        dictionary, the vector caches).  Results already returned by
        ``search()`` stay valid — they are built from collected stage rows,
        not from the cached lineage."""
        for df in (
            self.index_df,
            self.postings,
            self.dictionary,
            self.ann_df,
            self._delta_ann,
            self._delta_cache,
            self._fuzzy_dict,
        ):
            if df is not None:
                df.unpersist()

    # -- stages -----------------------------------------------------------

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

    def _lexical_tops(
        self,
        entries: list[tuple[int, str]],
        k: int,
        override: list[tuple[int, str, float]] | None = None,
        msm: int | str = 1,
    ) -> list[tuple[int, int, float]]:
        """Every lexical stage's scoring: ONE job over the plan's standing
        lexical caches → each query id's exact top-k (query_id, doc_id,
        score) over base ∪ delta.  ``entries`` are tokenized (the AC
        stage, ``msm`` its minimum_should_match); ``override`` adds
        weighted (query_id, term, weight) ids (the fuzzy stage, fused into
        the same job when both are given — ``operators.bm25.
        batch_query_terms``).  Each cache — the base (the pre-grouped
        compressed index, or the raw postings ⋈ df cache) and, while
        attached, the delta's raw cache — is scored in place under its own
        corpus statistics (the reference overlay semantics); the job
        collects their task-local tops, and the driver keeps the best score
        per (query, doc) and each query's k, so the job plans no
        exchange."""
        local = None
        for score in (self._score_base, self._score_delta):
            if score is None:
                continue
            part = score(
                entries, k=k, query_terms_override=override,
                min_should_match=msm,
            ).select("query_id", "doc_id", "score")
            local = part if local is None else local.unionByName(part)
        best: dict[tuple[int, int], float] = {}
        for q, doc, sc in local.collect():
            if (q, doc) not in best or sc > best[(q, doc)]:
                best[(q, doc)] = sc
        return merge_local_topk(((q, d, s) for (q, d), s in best.items()), k)

    def _fuzzy_tops(
        self,
        targets: list[int],
        qtext: dict[int, str],
        opts: SearchOpts,
        expanded: list[dict] | None = None,
        cancel=None,
    ) -> dict[int, list[tuple[int, float]]]:
        """Stage 2 for a query set → per query id its top-k (doc_id,
        score): the fuzzy expansion (``expanded``, when a speculative
        expansion already produced it), each expanded term scored at its
        edit-ratio weight through ``_lexical_tops``.  ``cancel``: an
        abandoned speculation submits no job once it is set."""
        rows: dict[int, list[tuple[int, float]]] = {q: [] for q in targets}
        if not targets:
            return rows
        if expanded is None:
            expanded = self._expand_terms_batch(targets, qtext, opts)
        if cancel is not None and cancel.is_set():
            return rows
        tset = set(targets)
        override = [
            (r["query_id"], r["term"], float(r["term_weight"]))
            for r in expanded
            if r["query_id"] in tset
        ]
        if override:
            for q, doc, sc in self._lexical_tops([], opts.top_k, override=override):
                rows[q].append((doc, sc))
        return rows

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

    # -- the ladder -------------------------------------------------------

    def search(
        self, query: str, opts: SearchOpts | None = None
    ) -> tuple[DataFrame, list[SearchTraceStep]]:
        """Run the adaptive ladder on one query → (results (doc_id, score),
        trace): ``search_many``'s ladder on a batch of one."""
        opts = opts or SearchOpts()
        tops, stages, escalating, ms = self._ladder([(0, query)], opts)
        top, use_vector = tops[0]

        def step(name: str, scores: list[float], took: str, meta=None):
            return SearchTraceStep(
                name, len(scores), max(scores, default=0.0), ms[took], meta or {}
            )

        ac = step("AC", [s for _, s in stages["AC"][0]], "ac_ms")
        trace = [ac]
        if escalating:
            trace.append(step("FUZZY", [s for _, s in stages["FUZZY"][0]], "fuzzy_ms"))
            if self._have_vectors:
                trace.append(
                    step(
                        "SEMANTIC", [r["score"] for r in stages["SEMANTIC"][0]],
                        "vector_ms",
                        {"ann": self.ann_kind if self.ann_index_dir else "bruteforce"},
                    )
                )
        trace.append(
            SearchTraceStep(
                "HYBRID", -1, ac.best_score, 0.0,
                {"escalated": bool(escalating), "vector_fallback_used": use_vector},
            )
        )
        result = local_frame(
            self.docs.sparkSession,
            [{"doc_id": d, "score": s} for d, s in top],
            "doc_id long, score double",
        )
        return result, trace

    def search_many(
        self, queries: list[tuple[int, str]], opts: SearchOpts | None = None
    ) -> tuple[DataFrame, dict[int, dict]]:
        """The whole query set through the adaptive ladder in a BOUNDED number
        of Spark jobs (the reference's msearch shape, S7) instead of ~6 jobs
        per query.  On an indexed plan with an in-RAM dictionary and an
        IVF vector index that is TWO jobs, neither with an exchange: the
        fused AC+fuzzy scoring job and the vector probe that reranks inside
        its tasks; both collect task-local tops the driver merges.
        ``search()`` is this ladder on a batch of one; returns ((query_id,
        doc_id, score, rank), {query_id: meta}), and publishes the call's
        per-stage wall times as ``self.last_batch_trace``."""
        opts = opts or SearchOpts()
        tops, _, escalating, ms = self._ladder(queries, opts)
        eset = set(escalating)
        out_rows = []
        meta: dict[int, dict] = {}
        for qid, _text in queries:
            top, use_vector = tops[qid]
            for rank, (doc, s) in enumerate(top, start=1):
                out_rows.append(
                    {"query_id": qid, "doc_id": doc, "score": s, "rank": rank}
                )
            meta[qid] = {"escalated": qid in eset, "vector_fallback_used": use_vector}
        self.last_batch_trace = ms
        result = local_frame(
            self.docs.sparkSession,
            out_rows, "query_id long, doc_id long, score double, rank int"
        )
        return result, meta

    def _ladder(self, queries: list[tuple[int, str]], opts: SearchOpts):
        """The ladder for a query set → (per query id (top-k (doc_id,
        score), vector used), per stage name the per-query-id stage rows,
        the escalating query ids, per-stage wall times in ms).

        Speculation only when the set holds more than one query: then the
        fuzzy expansion — and with it the fuzzy scoring — and, on an
        ANN-served plan, the vector probe depend on the query texts only,
        not on the AC outcome, so they run for ALL queries beside the AC
        job and are kept for the escalating subset afterwards (per-query
        results are independent, so the rows are identical).  With the
        in-RAM dictionary the expansion is driver-only (~ms) and the fuzzy
        scoring rides in the AC job itself (disjoint query-id spaces).  A
        single query stays lazy: it builds no expansion and no driver
        dictionary before AC and fuses nothing, so a strong query is one
        job — speculating it cost a strong ``single_zipf`` query 910 ms
        instead of 237.  The brute-force vector fallback is never
        speculated: it scans the corpus."""
        import threading
        import time

        from ..functions.normalize import fold_homoglyphs

        t_start = time.monotonic()
        # per-stage wall times build in a LOCAL dict returned as a snapshot:
        # an abandoned speculative thread can only write into its own call's
        # dict, and every such writer takes the lock, so publication never
        # iterates a dict that is changing size
        trace: dict[str, float] = {}
        trace_lock = threading.Lock()
        k = opts.top_k
        spark = self.docs.sparkSession
        qtext = dict(queries)
        qids = [qid for qid, _ in queries]
        speculate = opts.enable_escalation and len(queries) > 1
        fuse_lex = speculate and self._driver_dictionary() is not None
        expanded: list = []
        if fuse_lex:
            t_exp = time.monotonic()
            expanded = self._expand_terms_batch(qids, qtext, opts)
            trace["expansion_ms"] = (time.monotonic() - t_exp) * 1000

        # a speculative stage runs under its OWN job group (job groups are
        # thread-local, and it has its own thread) so an abandoned one can
        # be CANCELLED; spec_cancel is set BEFORE cancelJobGroup, which does
        # not reach jobs a thread still blocked upstream submits later
        spec_cancel = threading.Event()
        spec_groups: dict[str, str] = {}

        def speculative(name: str, fn):
            group = f"spec{name}-{next(_SPEC_GROUP_SEQ)}"
            spec_groups[name] = group

            def run():
                spark.sparkContext.setJobGroup(
                    group, f"speculative {name}", interruptOnCancel=True
                )
                return fn()

            return _Async(_timed_into(trace, f"{name}_ms", run, lock=trace_lock))

        fz_fut = vec_fut = None
        if speculate and not fuse_lex:
            # above the in-RAM cap the expansion is one candidate-probe job
            exp_fut = _Async(
                _timed_into(
                    trace, "expansion_ms",
                    lambda: self._expand_terms_batch(qids, qtext, opts),
                    lock=trace_lock,
                )
            )
            fz_fut = speculative(
                "fuzzy",
                lambda: self._fuzzy_tops(
                    qids, qtext, opts, exp_fut.result(), spec_cancel
                ),
            )
        if speculate and self.ann_index_dir is not None:
            vec_fut = speculative(
                "vector",
                lambda: self._vector_stage_batch(qids, qtext, opts, spec_cancel),
            )

        # --- stage 1: AC (+ homoglyph variants as extra entries) ----------
        # homoglyph permutation search (reference: _handle_search_layer
        # multi-search, unified_orchestrator.py:647-731): a mixed-script
        # query also searches its folded variant, keep-best per doc
        entries = list(queries)
        variant_of: dict[int, int] = {}
        next_id = max(qids, default=0) + 1
        for qid, text in queries:
            folded, n_folds = fold_homoglyphs(text)
            if n_folds > 0 and folded != text:
                entries.append((next_id, folded))
                variant_of[next_id] = qid
                next_id += 1
        # driver-dictionary pruning, once the dictionary view exists: an
        # entry with no dictionary-present term — or an unattainable
        # resolved minimum_should_match — has no postings anywhere, so it
        # leaves the job (skipped when nothing remains); msm resolves
        # against each entry's ORIGINAL distinct token count
        run_entries = entries
        dset = self._dict_present_set()
        if dset is not None:
            from ..operators.bm25 import es_min_should_match

            def _runnable(text: str) -> bool:
                toks = list(dict.fromkeys(query_terms(text)))
                present = sum(1 for t in toks if t in dset)
                return present > 0 and es_min_should_match(
                    opts.min_should_match, len(toks)
                ) <= present

            run_entries = [e for e in entries if _runnable(e[1])]
        max_entry = max((q for q, _ in entries), default=0)
        override = None
        fz_off = 0
        if expanded:
            # fuzzy ids ride above every entry id (shifted past negative
            # query ids too), so the fused job's rows split back
            fz_off = max_entry + 1 - min(0, min(qids))
            override = [
                (r["query_id"] + fz_off, r["term"], float(r["term_weight"]))
                for r in expanded
            ]
        lex = (
            self._lexical_tops(
                run_entries, k, override,
                # override-only: msm is moot (and rejected by contract)
                opts.min_should_match if run_entries else 1,
            )
            if run_entries or override
            else []
        )
        entry_rows: dict[int, list[tuple[int, float]]] = {q: [] for q, _ in entries}
        fused_fz: dict[int, list[tuple[int, float]]] = {q: [] for q in qids}
        for q, doc, sc in lex:
            if q > max_entry:
                fused_fz[q - fz_off].append((doc, sc))
            else:
                entry_rows[q].append((doc, sc))
        # each entry is already its own top-k over base ∪ delta; the
        # variant merge keeps the best per doc, then k
        ac_best: dict[int, dict[int, float]] = {q: {} for q in qids}
        for eqid, rows in entry_rows.items():
            cur = ac_best[variant_of.get(eqid, eqid)]
            for doc, sc in rows:
                if doc not in cur or sc > cur[doc]:
                    cur[doc] = sc
        ac_rows = {
            qid: sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            for qid, best in ac_best.items()
        }
        trace["ac_ms"] = (time.monotonic() - t_start) * 1000

        # escalation decision (_should_escalate, hybrid_search_service.py:912-928)
        escalating = [
            qid for qid in qids
            if opts.enable_escalation and (
                not ac_rows[qid]
                or max(s for _, s in ac_rows[qid]) < opts.escalation_threshold
            )
        ]

        # --- stages 2+3: independent given the escalation decision, so they
        # run concurrently; wall time is max(fuzzy, vector), not the sum
        if escalating and not speculate:
            fz_fut = _Async(
                _timed_into(
                    trace, "fuzzy_ms",
                    lambda: self._fuzzy_tops(escalating, qtext, opts),
                    lock=trace_lock,
                )
            )
        if escalating and vec_fut is None and self._have_vectors:
            vec_fut = _Async(
                _timed_into(
                    trace, "vector_ms",
                    lambda: self._vector_stage_batch(escalating, qtext, opts),
                    lock=trace_lock,
                )
            )
        fz_rows: dict[int, list[tuple[int, float]]] = {}
        vec_rows: dict[int, list[dict]] = {}
        if escalating:
            fz_all = fused_fz if fz_fut is None else fz_fut.result()
            fz_rows = {q: fz_all.get(q, []) for q in escalating}
            if vec_fut is not None:
                vec_all = vec_fut.result()
                vec_rows = {q: vec_all.get(q, []) for q in escalating}
        else:
            # nothing escalated: the speculative stages are abandoned, not
            # joined, and their in-flight jobs cancelled; their wall times
            # stay out of the trace
            spec_cancel.set()
            for group in spec_groups.values():
                spark.sparkContext.cancelJobGroup(group)

        tops = {
            qid: _fuse(ac_rows[qid], fz_rows.get(qid, []), vec_rows.get(qid, []), opts)
            for qid in qids
        }
        with trace_lock:
            trace["total_ms"] = (time.monotonic() - t_start) * 1000
            ms = {
                name: v for name, v in trace.items()
                if escalating or name.removesuffix("_ms") not in spec_groups
            }
        stages = {"AC": ac_rows, "FUZZY": fz_rows, "SEMANTIC": vec_rows}
        return tops, stages, escalating, ms
