"""Deterministic synthetic corpora beyond the harness tables.

The harness ``documents`` table draws terms nearly UNIFORMLY — measured in
round 3, 99.9% of chunks survived block-max θ-pruning there, because every
chunk's upper bound is about the same (BENCH.md).  Real web text is
Zipfian: a few giant posting lists and a long tail, the regime block-max
WAND exists for.  This module synthesizes a seeded Zipf corpus so such
choices are MEASURED instead of asserted (θ-pruning lost to the one
in-place BM25 pass on it; DESIGN_100TB.md, "Pruning regime").

Generation is distributed (mapInPandas over ``spark.range`` — numpy per
Arrow batch, no driver materialization) and fully deterministic: every
token is a pure function of (seed, doc_id, position) via a splitmix-style
hash, so the same call yields byte-identical documents on any cluster
layout.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — a well-mixed uint64 hash."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def zipf_documents(
    spark: SparkSession,
    n_docs: int,
    vocab_size: int = 30_000,
    doc_len: int = 80,
    s: float = 1.07,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Seeded Zipf-distributed documents → (doc_id, text, lang, source,
    n_chars), same shape as the harness table.

    Term ranks are drawn by inverse-CDF over the truncated Zipf(s) mass
    (the CDF table is tiny — vocab_size float64s — and computed once per
    task); the uniform input is a splitmix64 hash of (seed, doc_id, pos),
    so the corpus is a pure function of its parameters."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    weights = ranks ** (-s)
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]

    def gen(it):
        import pandas as pd

        for pdf in it:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            n = ids.size
            if n == 0:
                continue
            # (doc, pos) grid of uniforms in [0, 1)
            keys = (
                ids[:, None].astype(np.uint64) * np.uint64(1_000_003)
                + np.arange(doc_len, dtype=np.uint64)[None, :]
                + np.uint64(seed) * np.uint64(0x2545F4914F6CDD1D)
            )
            u = _splitmix64(keys.ravel()).astype(np.float64) / 2**64
            word_idx = np.searchsorted(cdf, u).reshape(n, doc_len)
            texts = [" ".join(f"w{w}" for w in row) for row in word_idx]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": np.full(n, "en"),
                    "source": np.full(n, "zipf"),
                    "n_chars": np.fromiter(
                        (len(t) for t in texts), dtype=np.int64, count=n
                    ),
                }
            )

    return (
        spark.range(n_docs)
        .repartition(partitions)
        .mapInPandas(
            gen, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
