"""PySpark-native hybrid fulltext search engine.

A from-scratch re-expression of the query and data-processing capabilities of
``dariapavlova02/hybrid-sanctions-search-engine`` (reference at ``/root/reference``,
studied for behaviour only) on idiomatic Spark: DataFrame/SQL plans optimized by
Catalyst, Arrow-vectorized pandas UDFs for the text pipeline, and explicit
partitioning / skew handling for the inverted-index build.

Layout:
    functions/   vectorized scalar functions (normalize, tokenize, hashes, vectors)
    operators/   DataFrame operators (postings, bm25, fuzzy, fusion, dedup, similarity)
    sources/     table loaders + sharded index writer with resumable manifests
    plans/       driver-side query plans (hybrid escalation ladder, indexed BM25 top-k)
    streaming/   incremental index maintenance (delta overlay)
"""

from .functions.worker_env import install_zip_invalidate_check

__version__ = "0.1.0"

install_zip_invalidate_check()
