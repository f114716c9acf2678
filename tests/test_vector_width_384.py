"""Vector plans exercised at the reference's real embedding width (384).

The reference serves MiniLM-L12-v2 vectors (dims=384,
``embedding_service.py:17-18``); sentence-transformers is not installable
here, so fixtures use the reference's own pseudo-embedding fallback — but at
the REAL width, so array-column plans (cosine, LSH signatures, IVF
assignment/probing) are tested at production shape, not a toy dim."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def emb384(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    from hybrid_sanctions_search_engine_spark.functions.vectors import (
        pseudo_embedding_series,
    )

    @pandas_udf(ArrayType(DoubleType()))
    def emb_udf(texts):
        return pseudo_embedding_series(texts, 384)

    rows = [(i, f"document number {i} about topic {i % 7} with words") for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, text string")
    return df.select("vec_id", emb_udf("text").alias("embedding")).persist()


def test_knn_bruteforce_384(spark, emb384):
    from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
    from hybrid_sanctions_search_engine_spark.operators.similarity import knn_bruteforce

    q = pseudo_embedding("document number 3 about topic 3 with words", 384)
    top = knn_bruteforce(emb384, q, k=5).collect()
    assert top[0]["vec_id"] == 3 and abs(top[0]["cos_sim"] - 1.0) < 1e-9
    assert len(top[0].asDict()) == 2


def test_lsh_and_ivf_384(spark, emb384, tmp_path):
    from hybrid_sanctions_search_engine_spark.functions.vectors import pseudo_embedding
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        add_lsh_signature,
        knn_ivf_probe_many,
        knn_lsh,
        load_ivf_index,
        write_ivf_index,
    )

    q = pseudo_embedding("document number 3 about topic 3 with words", 384)
    with_sig = add_lsh_signature(emb384, dim=384, n_planes=16)
    ann = knn_lsh(with_sig, q, dim=384, k=3, n_planes=16, max_hamming=4).collect()
    assert ann and ann[0]["vec_id"] == 3

    path = str(tmp_path / "ivf384")
    write_ivf_index(emb384, path, n_centroids=8, iters=5)
    indexed, cents = load_ivf_index(spark, path)
    assert cents.shape == (8, 384)
    got = knn_ivf_probe_many(indexed, cents, [(0, q)], k=3, n_probe=3, as_rows=True)
    assert got and got[0][1] == 3
