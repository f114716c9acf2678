"""Inverted-index posting-list construction as DataFrame plans.

Replaces the reference's pattern-generation → Elasticsearch bulk-load dataflow
(``/root/reference/scripts/prepare_sanctions_data.py`` +
``deploy_to_elasticsearch.py:261-331``; ES mapping
``elasticsearch_index_manager.py:262-316``) with Spark-native postings:

    documents(doc_id, text, ...)
      → tokenize (JVM Column expr or Arrow pandas UDF)
      → posexplode
      → groupBy(term, doc_id): tf + positions

Scale notes (100 TB / 10^12 docs):
  * tokenize + posexplode stay inside whole-stage codegen — no Python.
  * the groupBy(term, doc_id) is THE shuffle of the build; its volume is the
    postings themselves (must move by term anyway to co-locate index shards).
    ``count`` benefits from map-side partial aggregation.
  * downstream shard build re-uses the same hash(term) partitioning
    (`shard_id = pmod(xxhash64(term), n_shards)`) so the compress/write stage
    does NOT reshuffle.
  * hot terms (Zipf head) are handled by AQE skew splitting plus the explicit
    salting path in ``salted_term_doc_counts`` (used when positions aren't
    needed, enabling two-phase partial aggregation).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import spark_index_tokens


def widen_narrow_scan(docs: DataFrame) -> DataFrame:
    """Repartition a narrow input (single parquet file / in-memory relation)
    so scan-heavy stages use every core.  At production scale the source
    scan has thousands of splits and this is a no-op.  Shared by the index
    build and the UDF-heavy dedup scans."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def tokenized_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents + `tokens` (array<string>) + `doc_len` columns, JVM-side.
    A null-text doc has null tokens and counts at length 0, as in
    ``build_index``'s corpus stats."""
    return docs.withColumn("tokens", spark_index_tokens(F.col(text_col))).withColumn(
        "doc_len", F.coalesce(F.size("tokens"), F.lit(0))
    )


def build_postings(docs: DataFrame, text_col: str = "text", positions: bool = True) -> DataFrame:
    """→ postings(term, doc_id, tf [, positions array<int>]).

    One shuffle (groupBy term, doc_id). With ``positions=False`` the plan is
    pure count aggregation with map-side combine.  (NOT widened: an A/B on
    the single-file sf0.1 parquet measured the widening repartition LOSING
    to the serialized tokenize here — the exchange + extra stage cost more
    than the ~0.3 s of single-core tokenize it parallelizes.  Widening pays
    only for CPU-heavy per-row stages: embeddings, marker-expr scans.)
    """
    toks = tokenized_documents(docs, text_col)
    exploded = toks.select(
        "doc_id", "doc_len", F.posexplode("tokens").alias("pos", "term")
    )
    # doc_len rides along (constant per doc) so downstream consumers need no
    # doc-length join — one fewer shuffle in the index build.
    agg = [
        F.count("*").cast("int").alias("tf"),
        F.max("doc_len").alias("doc_len"),
    ]
    if positions:
        agg.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return exploded.groupBy("term", "doc_id").agg(*agg)


def doc_lengths(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, doc_len) — token count per document, no shuffle."""
    return tokenized_documents(docs, text_col).select("doc_id", "doc_len")


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def corpus_stats(docs: DataFrame, text_col: str = "text") -> CorpusStats:
    """N and average document length — a single tiny aggregate."""
    row = (
        doc_lengths(docs, text_col)
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()[0]
    )
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"]))


def term_doc_freq(postings: DataFrame) -> DataFrame:
    """→ (term, df) document frequency. Map-side partial agg applies."""
    return postings.groupBy("term").agg(F.count("*").cast("long").alias("df"))


def term_doc_freq_direct(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (term, df) straight from documents in ONE aggregation: explode the
    DISTINCT tokens of each doc and count.  Identical values to
    ``term_doc_freq(build_postings(docs, positions=False))`` — df never
    needs tf, so the intermediate (term, doc_id) aggregation (a second
    full-width shuffle) is pure overhead for dictionary consumers
    (guide §2.3: aggregate before you shuffle; here the per-doc
    array_distinct IS the map-side pre-aggregation)."""
    return (
        docs.select(
            F.explode(
                F.array_distinct(spark_index_tokens(F.col(text_col)))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )


def salted_term_doc_counts(docs: DataFrame, text_col: str = "text", n_salts: int = 16) -> DataFrame:
    """Skew-resistant (term → df) without per-doc grouping: two-phase
    aggregation with an explicit salt so a Zipf-head term's counting is spread
    over ``n_salts`` reducers before the final merge.

    This is the explicit-salting pattern required by the north rule; for
    plain counts AQE alone can't split a single hot groupBy key feeding a
    ``collect_list``, but pre-salting keeps every reducer bounded.
    """
    toks = tokenized_documents(docs, text_col)
    exploded = toks.select("doc_id", F.explode("tokens").alias("term"))
    salted = exploded.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)))
    partial = salted.groupBy("term", "salt").agg(
        F.count_distinct("doc_id").alias("partial_df")
    )
    return partial.groupBy("term").agg(F.sum("partial_df").alias("df"))
