"""Round-7 optimization evidence harness (guide §1.4 isolation benches).

NOT part of the driver contract — ``bench.py`` stays the frozen headline
measurement.  This file isolates the pieces the round-7 optimizations
touched, with PER-LEG steal brackets (this box is co-tenant; a global
steal number can't salvage a mixed window):

  * the three 960k batched-ladder legs with the plan's own per-stage trace
    (expansion / fused AC+fuzzy / vector wall times);
  * the fused lexical job, the IVF probe, and the rerank text probe in
    isolation;
  * the entry-query shapes the round restructured (bm25_topk multi-mode,
    phrase in-place body, minhash single-job, simhash cached-fingerprint,
    one-shot wand).

Prints ONE JSON line.  Scale comes from $SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS exactly like bench.py (local defaults; nothing is tuned
to the local core count — n_groups/partitions derive from
defaultParallelism and index metadata).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import shutil

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _steal() -> tuple[int, int]:
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0, sum(v))
    except OSError:
        return (0, 0)


def timed_leg(fn, repeats: int = 3) -> dict:
    """best-of-N with a per-leg steal bracket around EVERY attempt."""
    samples = []
    for _ in range(repeats):
        s0, t0 = _steal()
        w0 = time.monotonic()
        fn()
        wall = time.monotonic() - w0
        s1, t1 = _steal()
        samples.append(
            {
                "sec": round(wall, 4),
                "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2),
            }
        )
    best = min(samples, key=lambda s: s["sec"])
    return {"best_sec": best["sec"], "best_steal_pct": best["steal_pct"],
            "samples": samples}


def main() -> None:
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.session import get_spark
    from hybrid_sanctions_search_engine_spark.sources.index_io import (
        build_index, load_index,
    )
    from hybrid_sanctions_search_engine_spark.plans.wand import (
        batch_topk_indexed, topk_search,
    )
    from hybrid_sanctions_search_engine_spark.plans.hybrid import (
        HybridSearchPlan, SearchOpts,
    )
    from hybrid_sanctions_search_engine_spark.functions.encoder import (
        PseudoEncoder, embed_texts,
    )
    from hybrid_sanctions_search_engine_spark.operators.similarity import (
        knn_ivf_probe_many, write_ivf_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.pq import (
        write_ivf_pq_index,
    )
    from hybrid_sanctions_search_engine_spark.operators.sq import (
        write_ivf_sq8_index,
    )

    spark = get_spark("bench_extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.count()
    out: dict = {"sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1], "cpus": CPUS}

    vocab = [
        "spark", "query", "join", "window", "table", "scan", "merge",
        "sort", "hash", "agg", "filter", "stream", "batch", "customer",
        "order", "key", "row", "data", "value", "fast",
    ]
    hb = []
    for i in range(100):
        a, b = vocab[i % 20], vocab[(i * 7 + 3) % 20]
        if i % 3 == 0:
            a = a[:-1] + "x"
        hb.append((i, f"{a} {b}"))

    # --- entry-query shapes restructured this round -----------------------
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("bm25_topk", "phrase_match", "term_df_top20",
                 "minhash_pairs", "simhash_pairs", "textstats",
                 "knn_cosine_384"):
        qs[name](spark, SF_DIR).collect()  # warm codegen
        out[f"q_{name}"] = timed_leg(
            lambda n=name: qs[n](spark, SF_DIR).collect(), repeats=2
        )

    # --- 960k ladder legs with per-stage traces ---------------------------
    big_idx = tempfile.mkdtemp(prefix="bx_idx_")
    big_ann = tempfile.mkdtemp(prefix="bx_ann_")
    pq_dir = tempfile.mkdtemp(prefix="bx_pq_")
    sq_dir = tempfile.mkdtemp(prefix="bx_sq_")
    try:
        exp2 = (
            docs.crossJoin(spark.range(192).select(F.col("id").alias("rep")))
            .withColumn("doc_id", F.col("doc_id") * 192 + F.col("rep"))
            .drop("rep")
            .repartition(CPUS * 3)
        ).persist()
        n960 = exp2.count()
        out["n_docs_at_scale"] = n960
        build_index(exp2, big_idx, n_shards=64, chunk_bits=12, resume=False)
        emb960 = embed_texts(
            exp2.select(F.col("doc_id").alias("vec_id"), "text"),
            PseudoEncoder(64),
        ).select("vec_id", "embedding")
        write_ivf_index(emb960, big_ann, n_centroids=256)
        write_ivf_pq_index(emb960, pq_dir, n_centroids=256, m=16)
        write_ivf_sq8_index(emb960, sq_dir, n_centroids=256)

        opts = SearchOpts(top_k=10)
        for name, kind, adir in (
            ("ladder_960k_flat", "ivf", big_ann),
            ("ladder_960k_pq", "ivf_pq", pq_dir),
            ("ladder_960k_sq8", "ivf_sq8", sq_dir),
        ):
            plan = HybridSearchPlan(
                exp2, ann_index_dir=adir, ann_kind=kind,
                embedding_dim=64, index_dir=big_idx,
            )
            plan.search_many(hb, opts)[0].collect()  # warm
            leg = timed_leg(
                lambda p=plan: p.search_many(hb, opts)[0].collect(),
                repeats=3,
            )
            leg["last_trace_ms"] = {
                k: round(v, 1) for k, v in plan.last_batch_trace.items()
            }
            leg["ms_per_query_best"] = round(leg["best_sec"] * 10.0, 2)
            out[name] = leg
            plan.close()

        # isolated: the fused lexical job alone (tokenized AC entries +
        # driver-expanded fuzzy override in ONE batch_topk_indexed call)
        idx, meta = load_index(spark, big_idx)
        idx = idx.persist()
        idx.count()
        batch_topk_indexed(
            spark, big_idx, hb, k=10, index_df=idx, meta=meta
        ).collect()
        out["iso_960k_ac_job"] = timed_leg(
            lambda: batch_topk_indexed(
                spark, big_idx, hb, k=10, index_df=idx, meta=meta
            ).collect(),
            repeats=3,
        )
        idx.unpersist()

        # isolated: the batched IVF probe (driver-merged top-k)
        from hybrid_sanctions_search_engine_spark.operators.similarity import (
            load_ivf_index,
        )

        ann_df, cents = load_ivf_index(spark, big_ann)
        ann_df = ann_df.persist()
        ann_df.count()
        enc = PseudoEncoder(64)
        qv = [(q, enc.encode_one(t)) for q, t in hb]
        knn_ivf_probe_many(ann_df, cents, qv, k=10, n_probe=3, as_rows=True)
        out["iso_960k_ivf_probe"] = timed_leg(
            lambda: knn_ivf_probe_many(
                ann_df, cents, qv, k=10, n_probe=3, as_rows=True
            ),
            repeats=3,
        )
        ann_df.unpersist()
        exp2.unpersist()
    finally:
        for d in (big_idx, big_ann, pq_dir, sq_dir):
            shutil.rmtree(d, ignore_errors=True)

    # --- topk_search (the one in-place pass) over the sf index -------------
    small_idx = tempfile.mkdtemp(prefix="bx_sidx_")
    try:
        build_index(docs, small_idx, n_shards=8, chunk_bits=9, resume=False)
        sidx, smeta = load_index(spark, small_idx)
        sidx = sidx.cache()
        sidx.count()
        topk_search(spark, small_idx, "warmup", k=1, index_df=sidx, meta=smeta).collect()
        out["iso_wand_3term_one_shot"] = timed_leg(
            lambda: topk_search(
                spark, small_idx, "spark query join", k=10,
                index_df=sidx, meta=smeta,
            ).collect(),
            repeats=3,
        )
        sidx.unpersist()
    finally:
        shutil.rmtree(small_idx, ignore_errors=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
