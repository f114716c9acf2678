"""The benchmark's workloads, driven from outside the engine.

Every call into the engine goes through its public functions; the
benchmark times those calls, reads the traces they return, and wraps each
in a span when tracing is on.  One closed-loop client issues calls from a
single thread; the engine's own speculative threads are part of what is
measured.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import corpus, oracle
from .harness import Tracer, median

K = 10  # top-k served by every query
SETUPS = 2  # set-up cycles per run; setup_s counts their median
N_SHARDS = 4
BATCH_SIZE = 16  # queries per batched client call
DELTA_DOCS = 200  # documents in the write cycle's delta file
# untimed calls before the timed loop: on single_zipf, latency still fell
# ~20% over a process's first three escalating calls
WARM_CALLS = 2
MIN_CALLS = 4  # timed client calls per run, however short --seconds is
DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
PROBE_REPS = 2  # repetitions of each single-layer probe in the traced run


@dataclass
class Spec:
    """The corpus of one workload, the plan's fuzzy-dictionary cap and the
    shape of its client calls."""

    n_docs: int
    vocab_size: int
    zipf_s: float
    doc_len: tuple[int, int]
    chunk_bits: int
    # batched: BATCH_SIZE-query search_many calls; otherwise single-query
    # plan.search calls
    batched: bool
    ivf: bool  # serve with an IVF vector index
    # None keeps the plan's in-RAM fuzzy dictionary cap (a public class
    # attribute, 50k by default) and the dictionary must fit under it; a
    # value lowers the cap so the dictionary is above it
    expansion_cap: int | None = None


SPECS = {
    "ladder_batch": Spec(
        n_docs=2500, vocab_size=31, zipf_s=0.8, doc_len=(15, 60), chunk_bits=9,
        batched=True, ivf=True,
    ),
    "single_zipf": Spec(
        n_docs=3000, vocab_size=12000, zipf_s=1.07, doc_len=(20, 60), chunk_bits=6,
        batched=False, ivf=False, expansion_cap=1500,
    ),
}


@dataclass
class Outcome:
    """What a run measured.  ``samples`` holds per-call values by name;
    ``values`` holds single measurements."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    # client-call latencies by call class: "escalated" when any query of
    # the call escalated past AC (every timed call is built to), else "strong"
    calls: dict[str, list[float]] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)
    conditions: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))


class Workload:
    def __init__(self, spark, spec: Spec, seed: int, work: str, tracer: Tracer):
        from hybrid_sanctions_search_engine_spark.plans.hybrid import SearchOpts

        self.spark, self.spec, self.seed, self.work = spark, spec, seed, work
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.opts = SearchOpts(top_k=K)
        self.out = Outcome()
        self.plan = None
        self.ivf_dir = None
        self.wand_checks: list = []  # (terms, served rounded top-k) pairs
        self._make_inputs()

    # -- inputs ----------------------------------------------------------

    def _make_inputs(self) -> None:
        s, rng = self.spec, self.rng
        words = corpus.pseudo_words(rng, s.vocab_size + 1)
        self.vocab, self.marker = words[:-1], words[-1]
        self.vocab_set = set(words)
        self.weights = corpus.zipf_weights(s.vocab_size, s.zipf_s)
        self.base = corpus.documents(
            rng, self.vocab, self.weights, s.n_docs, 0, s.doc_len
        )
        self.delta = corpus.documents(
            rng, self.vocab, self.weights, DELTA_DOCS, s.n_docs, s.doc_len,
            marker=self.marker, marker_every=DELTA_DOCS // K,
        )
        # the marker must stay rare inside the delta too: the overlay scores
        # the delta under its own statistics, and a term in every delta doc
        # would carry no idf there
        # query terms: vocabulary words the base corpus holds, in rank order
        # below the top 3, so each carries enough idf to keep the AC stage
        # confident.  An absent term sends a query down another path.
        present = {t for txt in self.base["text"] for t in txt.split()}
        query_vocab = [t for t in self.vocab[3:] if t in present]
        self.head_terms, self.tail_terms = query_vocab[:8], query_vocab[8:]
        self.tail_weights = corpus.zipf_weights(len(self.tail_terms), 0.5)
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.base.to_parquet(self.docs_path, index=False)
        # a given schema spares the read a schema-inference job
        self.docs = self.spark.read.schema(DOCS_SCHEMA).parquet(self.docs_path)

    def strong_query(self) -> tuple[str, list[str]]:
        """One head and one tail query term.  The head term spreads over
        every chunk, so each query scores the whole index: a single query's
        latency then does not hinge on which terms a seed drew."""
        terms = [
            self.head_terms[int(self.rng.integers(len(self.head_terms)))],
            corpus.query_terms(self.rng, self.tail_terms, self.tail_weights, 1)[0],
        ]
        return " ".join(terms), terms

    def typo_query(self) -> str:
        _, terms = self.strong_query()
        return " ".join(corpus.typo(self.rng, t, self.vocab_set) for t in terms)

    def head_tail_query(self) -> tuple[str, list[str]]:
        """One head term (top 10 ranks) plus two tail terms: the block-max
        pruning shape."""
        head = self.vocab[int(self.rng.integers(0, 10))]
        tail = [self.vocab[int(i)] for i in self.rng.choice(
            np.arange(len(self.vocab) // 10, len(self.vocab)), 2, replace=False)]
        terms = [head] + tail
        return " ".join(terms), terms

    # -- set-up ----------------------------------------------------------

    def set_up(self) -> list[float]:
        """Build the index and open the standing plan on it, SETUPS times;
        returns each cycle's wall seconds.  The vector index is embedded and
        written once, after the first build."""
        cycles = []
        for i in range(SETUPS):
            if self.plan is not None:
                self.plan.close()
            dt = self.build_once()
            if i == 0 and self.spec.ivf:
                self.build_vectors()
            cycles.append(dt + self.open_plan())
        return cycles

    def build_vectors(self) -> None:
        """Embed the corpus and write the IVF index (once per run)."""
        from hybrid_sanctions_search_engine_spark.functions.encoder import (
            PseudoEncoder,
            embed_texts,
        )
        from hybrid_sanctions_search_engine_spark.operators.similarity import (
            write_ivf_index,
        )

        self.ivf_dir = os.path.join(self.work, "ivf")
        t0 = time.monotonic()
        with self.tracer.span("encoder.embed"):
            emb = embed_texts(
                self.docs.select("doc_id", "text"), PseudoEncoder(64)
            ).selectExpr("doc_id AS vec_id", "embedding").persist()
            emb.count()
        t1 = time.monotonic()
        with self.tracer.span("similarity.ivf_build"):
            write_ivf_index(emb, self.ivf_dir, n_centroids=8, iters=3)
        t2 = time.monotonic()
        emb.unpersist()
        self.out.values["encoder.embed_s"] = t1 - t0
        self.out.values["similarity.ivf_build_s"] = t2 - t1

    def build_once(self) -> float:
        """Build the lexical index from scratch; returns the wall seconds."""
        from hybrid_sanctions_search_engine_spark.sources.index_io import (
            build_index,
        )

        self.index_dir = os.path.join(self.work, "index")
        shutil.rmtree(self.index_dir, ignore_errors=True)
        t0 = time.monotonic()
        with self.tracer.span("index_io.build"):
            rep = build_index(
                self.docs, self.index_dir, n_shards=N_SHARDS,
                chunk_bits=self.spec.chunk_bits, resume=False,
            )
        dt = time.monotonic() - t0
        self.out.add("index_io.build_s", dt)
        self.out.values["index_io.postings"] = rep["postings"]
        self.out.values["index_io.bytes"] = rep["bytes"]
        return dt

    def open_plan(self) -> float:
        """Open the standing plan on the built index and answer a first
        call, which fills its caches; returns the wall seconds."""
        from hybrid_sanctions_search_engine_spark.plans.hybrid import (
            HybridSearchPlan,
        )

        t0 = time.monotonic()
        with self.tracer.span("index_io.load_cache"):
            self.plan = HybridSearchPlan(
                self.docs, embedding_dim=64, index_dir=self.index_dir,
                ann_index_dir=self.ivf_dir, ann_kind="ivf",
            )
            if self.spec.expansion_cap is not None:
                self.plan.driver_expansion_max_terms = self.spec.expansion_cap
            self._first_call()
        dt = time.monotonic() - t0
        self.out.add("index_io.load_cache_s", dt)
        return dt

    def _first_call(self) -> None:
        """One query that stays in AC: the plan's caches fill on it."""
        self.plan.search(self.strong_query()[0], self.opts)[0].collect()

    # -- workload properties ---------------------------------------------

    def check_properties(self) -> None:
        """Assert the regime each workload is meant to exercise and record
        the conditions of the run."""
        from hybrid_sanctions_search_engine_spark.plans.hybrid import (
            HybridSearchPlan,
        )

        base_terms = {t for txt in self.base["text"] for t in txt.split()}
        cap = (
            self.spec.expansion_cap
            if self.spec.expansion_cap is not None
            else HybridSearchPlan.driver_expansion_max_terms
        )
        buckets: dict[str, int] = {}
        for t in base_terms:
            buckets[t[:2]] = buckets.get(t[:2], 0) + 1
        meta = self.plan.index_meta
        chunks = max(1, int(meta.n_docs) >> meta.chunk_bits)
        if (len(base_terms) > cap) != (self.spec.expansion_cap is not None):
            raise RuntimeError(
                f"dictionary of {len(base_terms)} terms on the wrong side of cap {cap}"
            )
        # at most topk_search's one_shot_chunks (64): the timed calls and
        # the traced stats_out calls then score the same chunks
        if chunks > 64:
            raise RuntimeError(f"{chunks} chunks: timed and traced wand paths differ")
        self.out.conditions.update(
            docs=int(meta.n_docs), postings=int(self.out.values["index_io.postings"]),
            distinct_terms=len(base_terms), expansion_cap=cap, chunks=chunks,
            largest_prefix_bucket=max(buckets.values()),
        )

    # -- client calls ----------------------------------------------------

    def batch_queries(self, typos: bool) -> list[tuple[int, str]]:
        """A batch of strong queries, with a seeded third typo'd if
        ``typos``."""
        n = BATCH_SIZE
        typo = set(self.rng.choice(n, n // 3, replace=False).tolist()) if typos else ()
        return [
            (i, self.typo_query() if i in typo else self.strong_query()[0])
            for i in range(n)
        ]

    def _call(self, n: int) -> None:
        """One client call of the workload's shape: a batch with a seeded
        third typo'd, or a single typo'd query.  Either escalates past AC."""
        if self.spec.batched:
            self._batch_call(n)
        else:
            self._single_call(n, self.typo_query())

    def warm_up(self) -> None:
        """Untimed calls before the timed loop: a process's first escalating
        and vector calls pay JIT and Python-worker start-up that no later
        call does.  The results are still checked and counted."""
        timed, self.out = self.out, Outcome()
        try:
            for _ in range(WARM_CALLS):
                self._call(-1)
        finally:
            warm, self.out = self.out, timed
        self.out.attempted += warm.attempted
        self.out.failed += warm.failed
        self.out.wrong += warm.wrong

    def serve(self, seconds: float) -> None:
        """The timed closed loop: at least MIN_CALLS calls, then more while
        time remains.  In the traced run every other call goes untraced, so
        the run measures its own tracing overhead (trace.overhead_pct)."""
        traced = self.tracer.enabled
        n = 0
        deadline = time.monotonic() + seconds
        while n < MIN_CALLS or time.monotonic() < deadline:
            self.tracer.enabled = traced and n % 2 == 0
            self._call(n)
            n += 1
        self.tracer.enabled = traced

    def _timed(self, span: str, fn, request: int):
        self.out.attempted += 1
        t0 = time.monotonic()
        try:
            with self.tracer.span(span, request):
                res = fn()
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
            self.out.failed += 1
            print(f"call failed: {span}: {exc!r}", flush=True)
            return None, 0.0
        return res, (time.monotonic() - t0) * 1000.0

    def _record(self, cls: str, ms: float) -> None:
        self.out.calls.setdefault(cls, []).append(ms)
        if self.tracer.enabled:
            self.out.add("trace.traced_call_ms", ms)
        else:
            self.out.add("trace.untraced_call_ms", ms)

    def _batch_call(self, n: int) -> None:
        """``search_many`` of a batch with a seeded third typo'd; its class
        is escalated when the returned meta says any query escalated."""
        queries = self.batch_queries(typos=True)

        def call():
            df, meta = self.plan.search_many(queries, self.opts)
            return df.collect(), meta, dict(self.plan.last_batch_trace)

        res, ms = self._timed("hybrid.batch", call, n)
        if res is None:
            return
        rows, meta, trace = res
        escalated = {q: m["escalated"] for q, m in meta.items()}
        esc = sum(escalated.values())
        cls = "escalated" if esc else "strong"
        self._record(cls, ms)
        if esc:
            for key in ("expansion_ms", "ac_ms", "fuzzy_ms", "vector_ms"):
                self.out.add(f"hybrid.batch.{key}", trace.get(key, 0.0))
            self.out.add("hybrid.batch.escalated", esc)
            self.out.add("hybrid.batch.spec_useful_ratio", esc / len(queries))
            self.last_batch = (queries, rows)
        self._sample_for_oracle(queries, rows, escalated)

    def _wand_call(self, n: int) -> None:
        """A ``topk_search`` of one head and two tail terms."""
        from hybrid_sanctions_search_engine_spark.plans.wand import topk_search

        text, terms = self.head_tail_query()
        res, _ = self._timed(
            "wand.topk",
            lambda: topk_search(
                self.spark, self.index_dir, text, k=K,
                index_df=self.plan.index_df, meta=self.plan.index_meta,
            ).collect(),
            n,
        )
        if res is None:
            return
        self.wand_checks.append(
            (terms, [(r["doc_id"], oracle.r4(r["score"])) for r in res])
        )

    def _single_call(self, n: int, text: str) -> None:
        """A ``plan.search`` call; its class, strong or escalated, is read
        back from the returned trace, not from how the query was built."""
        res, ms = self._timed(
            "hybrid.single",
            lambda: (lambda df, tr: (df.collect(), tr))(*self.plan.search(text, self.opts)),
            n,
        )
        if res is None:
            return
        rows, steps = res
        stage_ms = {st.stage: st.took_ms for st in steps}
        escalated = next(st.meta["escalated"] for st in steps if st.stage == "HYBRID")
        cls = "escalated" if escalated else "strong"
        self._record(cls, ms)
        if not escalated:
            # a strong answer is the lexical top-k
            rows = sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))
            self.wand_checks.append(
                (text.split(), [(r["doc_id"], oracle.r4(r["score"])) for r in rows])
            )
        self.out.add(f"hybrid.single.{cls}_ms", ms)
        for stage, key in (("AC", "ac_ms"), ("FUZZY", "fuzzy_ms"), ("SEMANTIC", "vector_ms")):
            if stage in stage_ms:
                self.out.add(f"hybrid.single.{key}", stage_ms[stage])

    # -- correctness -----------------------------------------------------

    def _sample_for_oracle(self, queries, rows, escalated: dict) -> None:
        """Keep a seeded sample of a batch's non-escalated results: those
        rows are the lexical top-k, checked against DuckDB after the loop."""
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        strong = [q for q, _ in queries if not escalated[q]]
        for q in self.rng.choice(strong, min(5, len(strong)), replace=False):
            got = sorted(by_q.get(int(q), []), key=lambda r: r["rank"])
            text = dict(queries)[int(q)]
            self.wand_checks.append(
                (text.split(), [(r["doc_id"], oracle.r4(r["score"])) for r in got])
            )

    def check_results(self) -> None:
        """Outside the timed loop.  Batched: the sampled lexical rows against
        the oracle and the batch↔single parity.  Single: one ``topk_search``
        call's results against the oracle (the timed calls escalate, so
        their fused results have no BM25 oracle)."""
        if self.spec.batched:
            self.check_oracle()
            self.check_parity()
        else:
            self._wand_call(-1)
            self.check_oracle()

    def check_oracle(self) -> None:
        """Served lexical top-k against DuckDB BM25 over the base corpus."""
        if not self.wand_checks:
            raise RuntimeError("no lexical results were sampled for the oracle")
        want = oracle.bm25_topk(
            self.base, {i: t for i, (t, _) in enumerate(self.wand_checks)}, K
        )
        for i, (_, got) in enumerate(self.wand_checks):
            if not oracle.same_topk(got, want[i]):
                self.out.wrong += 1
                print(f"oracle mismatch: {self.wand_checks[i][0]}", flush=True)

    def check_parity(self) -> None:
        """A seeded sample of search_many rows must equal plan.search rows:
        one query of the last escalating batch."""
        queries, rows = self.last_batch
        text = dict(queries)
        for q in [int(self.rng.choice([q for q, _ in queries]))]:
            single = self.plan.search(text[q], self.opts)[0].collect()
            got = [(r["doc_id"], round(r["score"], 9)) for r in single]
            want = [
                (r["doc_id"], round(r["score"], 9))
                for r in sorted((r for r in rows if r["query_id"] == q), key=lambda r: r["rank"])
            ]
            self.out.attempted += 1
            if got != want:
                self.out.wrong += 1
                print(f"parity mismatch on {text[q]!r}", flush=True)

    # -- write cycle -----------------------------------------------------

    def ingest_and_compact(self) -> None:
        """Land a delta file, stream it, attach it to the plan and query
        the overlay until its documents show (ingest_s); then fold it into
        the base index (compact_s) and check the folded index."""
        from hybrid_sanctions_search_engine_spark.streaming.incremental import (
            load_delta_postings,
            load_delta_stats,
            merge_compact,
            start_delta_stream,
        )

        inp = os.path.join(self.work, "incoming")
        delta_dir = os.path.join(self.work, "delta")
        ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(inp, exist_ok=True)
        staged = os.path.join(self.work, "delta-0.parquet")
        self.delta.to_parquet(staged, index=False)
        marked = set(
            self.delta.loc[self.delta["text"].str.startswith(self.marker + " "), "doc_id"]
        )

        self.out.attempted += 1
        t_land = time.monotonic()
        with self.tracer.span("ingest"):
            os.rename(staged, os.path.join(inp, "delta-0.parquet"))
            with self.tracer.span("incremental.stream"):
                q = start_delta_stream(self.spark, inp, delta_dir, ckpt)
                q.awaitTermination(120)
            t_stream = time.monotonic()
            with self.tracer.span("incremental.attach"):
                self.plan.attach_delta(
                    delta_docs=self.spark.read.parquet(inp),
                    delta_postings=load_delta_postings(self.spark, delta_dir),
                    delta_stats=load_delta_stats(delta_dir),
                )
            t_attach = time.monotonic()
            with self.tracer.span("incremental.overlay_query"):
                overlay = self._marker_query()
        t_seen = time.monotonic()
        if set(overlay) != marked:
            self.out.wrong += 1
            print(f"overlay did not serve the delta: {overlay}", flush=True)
        self.out.values["incremental.ingest_s"] = t_seen - t_land
        t0 = time.monotonic()
        with self.tracer.span("incremental.overlay_call"):
            self._first_call()
        self.out.values["incremental.overlay_call_ms"] = (time.monotonic() - t0) * 1000.0
        self.out.values["incremental.stream_s"] = t_stream - t_land
        self.out.values["incremental.attach_ms"] = (t_attach - t_stream) * 1000.0

        files = sorted(glob.glob(os.path.join(delta_dir, "*.parquet")))
        delta_bytes = sum(os.path.getsize(f) for f in files)
        self.out.attempted += 1
        t0 = time.monotonic()
        with self.tracer.span("incremental.compact"):
            rep = merge_compact(self.spark, self.index_dir, delta_files=files)
        self.out.values["incremental.compact_s"] = time.monotonic() - t0
        shards = rep["shards_compacted"]
        rewritten = sum(
            os.path.getsize(os.path.join(self.index_dir, f"shard={s}", "data.parquet"))
            for s in shards
        )
        self.out.values["incremental.compact_shards"] = len(shards)
        self.out.values["incremental.compact_rewrite_ratio"] = rewritten / max(delta_bytes, 1)
        self.plan.detach_delta()
        self._check_compacted(overlay)

    def _marker_query(self) -> list[int]:
        df, _ = self.plan.search(self.marker, self.opts)
        return [r["doc_id"] for r in df.collect()]

    def _check_compacted(self, overlay: list[int]) -> None:
        """The folded index must serve the marker query in the overlay's
        order (a one-term query ranks by doc length under either side's
        statistics), and match DuckDB BM25 over base ∪ delta."""
        from hybrid_sanctions_search_engine_spark.plans.wand import (
            batch_topk_indexed,
        )

        queries = {0: [self.marker]}
        for i in range(1, 6):
            queries[i] = self.strong_query()[1]
        rows = batch_topk_indexed(
            self.spark, self.index_dir,
            [(q, " ".join(t)) for q, t in queries.items()], k=K,
        ).collect()
        got: dict[int, list] = {q: [] for q in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append((r["doc_id"], oracle.r4(r["score"])))
        want = oracle.bm25_topk(pd.concat([self.base, self.delta]), queries, K)
        if [d for d, _ in got[0]] != overlay:
            self.out.wrong += 1
            print(f"compacted marker order {got[0]} != overlay {overlay}", flush=True)
        for q in queries:
            if not oracle.same_topk(got[q], want[q]):
                self.out.wrong += 1
                print(f"compacted index disagrees with oracle on {queries[q]}", flush=True)

    def close(self) -> None:
        if self.plan is not None:
            self.plan.close()

    # -- traced-run layer probes -----------------------------------------

    def probe_layers(self) -> None:
        """Calls into single layers, made only in the traced run, before the
        write cycle changes the index under the standing plan."""
        from hybrid_sanctions_search_engine_spark.plans.wand import (
            batch_n_groups,
            batch_topk_indexed,
            topk_search,
        )

        meta = self.plan.index_meta
        strong = self.batch_queries(typos=False)
        for _ in range(PROBE_REPS):
            t0 = time.monotonic()
            with self.tracer.span("wand.lexical_batch"):
                batch_topk_indexed(
                    self.spark, self.index_dir, strong, k=K,
                    index_df=self.plan.index_df, meta=meta,
                    n_groups=batch_n_groups(self.spark, meta), pre_grouped=True,
                ).collect()
            self.out.add("wand.lexical_batch_ms", (time.monotonic() - t0) * 1000.0)
        for _ in range(PROBE_REPS):
            text = self.head_tail_query()[0]
            stats: dict = {}
            t0 = time.monotonic()
            with self.tracer.span("wand.topk"):
                topk_search(
                    self.spark, self.index_dir, text, k=K,
                    index_df=self.plan.index_df, meta=meta, stats_out=stats,
                ).collect()
            self.out.add("wand.topk_ms", (time.monotonic() - t0) * 1000.0)
            self.out.add("wand.chunks_scored", stats["chunks_scored"])
            self.out.add("wand.chunk_survival", stats["chunks_scored"] / stats["chunks_total"])
        self._probe_decode_and_score(strong)
        if self.spec.ivf:
            self._probe_ivf()

    def _probe_decode_and_score(self, queries: list[tuple[int, str]]) -> None:
        """``decode_shard_arrays`` over every shard file, and the batch
        scorer called directly on the largest decoded doc group."""
        import pyarrow.parquet as pq

        from hybrid_sanctions_search_engine_spark.operators.bm25 import (
            make_batch_group_scorer,
        )
        from hybrid_sanctions_search_engine_spark.plans.wand import (
            batch_n_groups,
            query_terms,
        )
        from hybrid_sanctions_search_engine_spark.sources.index_io import (
            decode_shard_arrays,
        )

        meta = self.plan.index_meta
        shards = [
            pq.read_table(f).to_pandas()
            for f in sorted(glob.glob(os.path.join(self.index_dir, "shard=*", "*.parquet")))
        ]
        postings = sum(int(p["n_docs"].sum()) for p in shards)
        for _ in range(PROBE_REPS):
            t0 = time.monotonic()
            for p in shards:
                decode_shard_arrays(p, include_df=True)
            self.out.add(
                "index_io.decode_ms_per_mposting",
                (time.monotonic() - t0) * 1000.0 / postings * 1e6,
            )

        qids = [q for q, _ in queries]
        term_to_qidx: dict[str, list[tuple[int, float]]] = {}
        for i, (_, text) in enumerate(queries):
            for t in dict.fromkeys(query_terms(text)):
                term_to_qidx.setdefault(t, []).append((i, 1.0))
        rows = pd.concat(shards, ignore_index=True)
        rows = rows[rows["term"].isin(list(term_to_qidx))]
        grp = rows["chunk"] % batch_n_groups(self.spark, meta)
        largest = rows[grp == grp.value_counts().idxmax()]
        arrays = decode_shard_arrays(largest, include_df=True)
        score = make_batch_group_scorer(
            term_to_qidx, qids, meta.n_docs, meta.avgdl, meta.k1, meta.b, K,
            flatten=lambda decoded: decoded,
        )
        n = int(largest["n_docs"].sum())
        for _ in range(PROBE_REPS):
            t0 = time.monotonic()
            score(None, arrays)
            self.out.add(
                "bm25.scorer_ms_per_mposting", (time.monotonic() - t0) * 1000.0 / n * 1e6
            )

    def _probe_ivf(self) -> None:
        from hybrid_sanctions_search_engine_spark.operators.similarity import (
            knn_ivf_probe_many,
        )

        # the typo'd third of a batch: the queries that escalate
        esc = [
            (i, self.plan.encoder.encode_one(self.typo_query()))
            for i in range(BATCH_SIZE // 3)
        ]
        for _ in range(PROBE_REPS):
            t0 = time.monotonic()
            with self.tracer.span("similarity.ivf_probe"):
                knn_ivf_probe_many(
                    self.plan.ann_df, self.plan.ann_centroids, esc, k=K,
                    n_probe=self.plan.ann_n_probe, as_rows=True,
                )
            self.out.add("similarity.ivf_probe_ms", (time.monotonic() - t0) * 1000.0)
