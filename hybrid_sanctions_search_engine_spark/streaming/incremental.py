"""Incremental index maintenance: streaming delta postings + overlay queries.

The reference serves updates through an overlay index that is unioned with the
active one at query time and atomically swapped after a rebuild
(``/root/reference/src/ai_service/layers/embeddings/indexing/
watchlist_index_service.py:64-222, 387-456``).  The Spark-native equivalent:

  * new documents arrive as files in a directory → a Structured Streaming
    query tokenizes them (same JVM expressions as the batch build) and appends
    postings to a **delta postings table** (parquet, partitioned by shard)
    under exactly-once file-sink semantics (checkpointed).
  * queries run against base index ∪ delta through a standing plan
    (``plans.hybrid.HybridSearchPlan.attach_delta``): each side scored in
    place on its own cache under its own corpus stats, merged keep-best
    per doc (SO4 semantics, exactly like the reference overlay).
  * ``merge_compact`` folds a snapshot of delta postings files into the
    shards they touch (decode → merge → re-encode, positions included), and
    ``fold_delta_embeddings`` folds the delta's vectors into the base ANN
    layout.  Both commit through ``sources.fold``'s one staged commit — the
    reference's atomic swap; the caller then deletes the folded files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def start_delta_stream(
    spark: SparkSession,
    input_dir: str,
    delta_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    text_col: str = "text",
    encoder=None,
):
    """File-source streaming job: new parquet files of documents → delta
    postings (term, doc_id, tf, doc_len, positions) — ``build_postings``'
    rows, which ``merge_compact`` folds into an index with or without
    positions.  Stateless (no watermark needed — postings are append-only
    facts); exactly-once via the checkpointed file sink.

    ``encoder`` (round 6 — the reference's overlay covers its VECTOR index,
    ``watchlist_index_service.py:85-222``, so delta docs must reach the
    vector stage too): any ``functions.encoder``-contract encoder.  When
    given, each microbatch is also embedded (``embed_texts`` — mapInPandas,
    no shuffle, model state lazily initialized per worker) and appended to
    ``<delta_dir>/_embeddings`` as (vec_id, embedding); the underscore
    prefix keeps the postings read (``spark.read.parquet(delta_dir)``) from
    listing it.  ``HybridSearchPlan.attach_delta`` then serves the ladder's
    vector stage as ANN-probe(base) ∪ exact-gemv(delta), and
    ``fold_delta_embeddings`` folds the vectors into the base ANN layout
    at compaction."""
    import hashlib

    # stable per-checkpoint lineage key for the stats replay guard: a new
    # checkpoint restarts batch ids at 0 and must not be mistaken for a
    # retry of the old stream's batches
    lineage_key = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:16]
    stream = spark.readStream.schema(schema).parquet(input_dir)
    from ..operators.postings import build_postings

    # per-microbatch tf aggregation happens in foreachBatch (stateless global
    # agg is not allowed in append mode; per-batch is exact because a doc's
    # tokens always arrive within one file/batch).  The batch arrives at the
    # DOCUMENT level so one pass feeds both sinks (postings + embeddings).
    #
    # Exactly-once under foreachBatch's at-least-once retries (round-6
    # review finding — a blind `.mode("append")` re-run duplicated posting
    # AND embedding rows while the guarded stats fold skipped):
    #   1. a batch whose id ≤ the lineage manifest's last_batch_id is
    #      skipped whole (the stats fold is the batch's COMMIT record);
    #   2. data lands via stage-then-move with DETERMINISTIC destination
    #      names (`postings-<lineage>-<batch>-<i>.parquet`): a retry of a
    #      crashed-mid-batch attempt first deletes any partial move of the
    #      same batch, then re-stages and re-moves — the same batch can
    #      never contribute twice.
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.fs import fs_for

        fs = fs_for(delta_dir)
        if batch_id <= _lineage_last_batch_id(delta_dir, lineage_key):
            return  # fully committed by a prior attempt
        batch_df = batch_df.persist()
        # the index build's aggregation, positions included, so
        # merge_compact folds these files into a positions index too
        postings = build_postings(batch_df, text_col, positions=True).persist()

        def _land(df, dest_dir: str, prefix: str) -> None:
            stage = os.path.join(dest_dir, f".stage-{prefix}")
            df.write.mode("overwrite").parquet(stage)
            fs.makedirs(dest_dir)
            # drop partial moves of THIS batch from a crashed attempt (the
            # fresh stage may split into a different number of part files)
            for name in fs.list_files(dest_dir):
                # the "-" delimiter matters: batch 1's bare prefix would
                # also match batch 10..19's landed files
                if name.startswith(f"{prefix}-") and name.endswith(".parquet"):
                    fs.delete(os.path.join(dest_dir, name))
            parts = sorted(
                n for n in fs.list_files(stage) if n.endswith(".parquet")
            )
            for i, name in enumerate(parts):
                fs.move(
                    os.path.join(stage, name),
                    os.path.join(dest_dir, f"{prefix}-{i}.parquet"),
                )
            fs.rmtree(stage)

        _land(postings, delta_dir, f"postings-{lineage_key}-{batch_id}")
        if encoder is not None:
            from ..functions.encoder import embed_texts

            emb = embed_texts(
                batch_df.select("doc_id", text_col), encoder, text_col
            ).select(F.col("doc_id").alias("vec_id"), "embedding")
            _land(
                emb,
                delta_embeddings_dir(delta_dir),
                f"emb-{lineage_key}-{batch_id}",
            )
        # fold this batch's corpus stats into the delta manifest so overlay
        # queries read (n_docs, avgdl) from one tiny JSON instead of a
        # distinct().agg() job per call (round-3 verdict item 8).  Docs are
        # new-only and arrive whole within a batch (the merge_compact
        # contract), so per-batch distinct counts ADD exactly.  The fold is
        # the batch's commit record — it advances last_batch_id only after
        # both data sinks landed.
        row = (
            postings.select("doc_id", "doc_len")
            .distinct()
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("toks"),
            )
            .collect()[0]
        )
        postings.unpersist()
        batch_df.unpersist()
        _fold_delta_stats(
            delta_dir, batch_id, int(row["n"]), int(row["toks"]),
            lineage=lineage_key,
        )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


DELTA_EMBEDDINGS_SUBDIR = "_embeddings"


def delta_embeddings_dir(delta_dir: str) -> str:
    return os.path.join(delta_dir, DELTA_EMBEDDINGS_SUBDIR)


def load_delta_embeddings(
    spark: SparkSession, delta_dir: str
) -> DataFrame | None:
    """(vec_id, embedding) rows streamed by ``start_delta_stream(encoder=…)``
    — None when the stream never embedded (lexical-only delta)."""
    try:
        return spark.read.parquet(delta_embeddings_dir(delta_dir))
    except Exception:
        return None


def fold_delta_embeddings(
    spark: SparkSession,
    ann_index_dir: str,
    delta_files: list[str],
    kind: str = "ivf",
) -> dict:
    """Fold a snapshot of streamed delta vector files (``delta_files``, the
    parquet paths under ``delta_embeddings_dir``) into the base ANN layout —
    the vector-side twin of ``merge_compact`` (the reference rebuilds+swaps
    its whole FAISS/ES vector index, ``watchlist_index_service.py:387-456``;
    on a partitioned Spark layout an append into the right partition
    directories does the same without touching existing rows):

      * ivf    — assign each vector to its nearest EXISTING centroid (no
                 retrain: probes stay consistent with queries planned against
                 the stored centroids) and append into the matching
                 ``ivf_cell=…`` directories;
      * ivf_pq — same cell assignment, plus each vector is PQ-coded with
                 the stored codebooks (no retrain, for the same reason)
                 before the append — folded rows are ADC-scannable exactly
                 like base rows;
      * ivf_sq8 — same cell assignment, plus each vector is int8-coded with
                 the stored per-dimension (vmin, vmax) quantizer — folded
                 rows are code-scannable exactly like base rows.

    Commits through ``sources.fold``: the coded rows are staged under
    ``.fold-<fp>/``, then moved into their cells as
    ``delta-<fp>-<i>.parquet``, and the ANN meta commits the per-file
    ledger ``folded_emb_files`` — a rerun after a crash finishes the fold,
    and files the ledger lists are never folded twice."""
    import time

    import numpy as np

    from ..operators.similarity import ANN_KINDS, assign_ivf_cells
    from ..sources import fs as fsmod
    from ..sources.fold import begin_fold, commit_fold

    if kind not in ANN_KINDS:
        raise ValueError(
            f"unknown ann kind {kind!r}: supported kinds are " + ", ".join(ANN_KINDS)
        )
    t0 = time.monotonic()
    meta_name = f"_{kind}_meta.json"
    fold = begin_fold(ann_index_dir, delta_files, meta_name, "folded_emb_files")
    report = {"files_folded": fold.names, "files_excluded": fold.excluded}
    if not fold.files:
        return {"folded_vecs": 0, "noop": "all embedding files already folded", **report}
    meta = fold.meta
    delta = spark.read.parquet(*fold.files)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    staged = assign_ivf_cells(delta, cents)
    if kind == "ivf_pq":
        # residual-code with the STORED centroids+codebooks — parquet
        # is self-describing, so the appended files' column order need
        # not match the base
        from ..operators.pq import encode_pq

        if not meta.get("residual"):
            # mirror load_ivf_pq_index's refusal: appending
            # residual-coded rows next to raw-coded base rows would
            # permanently mix two incompatible encodings in one index
            raise ValueError(
                "pre-residual ivf_pq index format; rebuild with "
                "write_ivf_pq_index before folding deltas"
            )
        staged = encode_pq(
            staged,
            np.asarray(meta["codebooks"], dtype=np.float64),
            centroids=cents,
        )
    elif kind == "ivf_sq8":
        # int8-code with the STORED per-dim quantizer (no retrain —
        # scans must decode folded rows with the same (vmin, vmax))
        from ..operators.sq import encode_sq8

        staged = encode_sq8(
            staged,
            np.asarray(meta["vmin"], dtype=np.float64),
            np.asarray(meta["vmax"], dtype=np.float64),
        )
    n_vecs = delta.count()
    staged.repartition("ivf_cell").write.mode("overwrite").partitionBy(
        "ivf_cell"
    ).parquet(fold.stage_dir)

    fs = fsmod.fs_for(ann_index_dir)
    moves: list[list[str]] = []
    for cell in fs.list_files(fold.stage_dir):
        if not cell.startswith("ivf_cell="):
            continue
        for name in fs.list_files(os.path.join(fold.stage_dir, cell)):
            if name.endswith(".parquet"):
                moves.append([
                    os.path.join(fold.stage_dir, cell, name),
                    os.path.join(
                        ann_index_dir, cell, f"delta-{fold.fp}-{len(moves)}.parquet"
                    ),
                ])
    commit_fold(
        fold, moves,
        [[os.path.join(ann_index_dir, meta_name),
          {**meta, "folded_emb_files": fold.ledger}]],
    )
    return {
        "folded_vecs": n_vecs,
        "files_moved": len(moves),
        "fp": fold.fp,
        **report,
        "elapsed_sec": round(time.monotonic() - t0, 3),
    }


DELTA_STATS_FILE = "_delta_stats.json"  # legacy combined manifest (read-compat)
DELTA_STATS_LINEAGE_PREFIX = "_delta_stats_lineage_"
DELTA_STATS_SUB_FILE = "_delta_stats_subtracted.json"


def _lineage_stats_path(delta_dir: str, lineage: str) -> str:
    import hashlib

    safe = hashlib.md5(lineage.encode()).hexdigest()[:16]
    return os.path.join(delta_dir, f"{DELTA_STATS_LINEAGE_PREFIX}{safe}.json")


def _lineage_last_batch_id(delta_dir: str, lineage: str) -> int:
    """Highest batch id the lineage's stats manifest has COMMITTED — the
    whole-batch replay guard (`write_batch` skips ids ≤ this before writing
    any data).  Mirrors `_fold_delta_stats`'s read, including the legacy
    combined-file migration."""
    from ..sources.fs import fs_for

    fs = fs_for(delta_dir)
    try:
        return int(
            fs.read_json(_lineage_stats_path(delta_dir, lineage)).get(
                "last_batch_id", -1
            )
        )
    except (OSError, ValueError):
        pass
    try:
        legacy = fs.read_json(os.path.join(delta_dir, DELTA_STATS_FILE))
        return int(
            legacy.get("lineages", {}).get(
                lineage, legacy.get("last_batch_id", -1)
            )
        )
    except (OSError, ValueError):
        return -1


def _fold_delta_stats(
    delta_dir: str,
    batch_id: int,
    n_docs: int,
    total_len: int,
    lineage: str = "legacy",
) -> None:
    """Fold one microbatch's stats into the delta manifest.

    Each lineage (= one checkpointed stream, whose microbatches Spark
    serializes) owns its OWN manifest file — single-writer by construction,
    so two concurrent streams into the same delta_dir can never lose each
    other's folds to an interleaved read-modify-write (review finding,
    round 5; the old shared-file fold raced).  ``load_delta_stats`` merges
    the per-lineage files (plus the legacy combined file, if present) at
    read time.  The batch-id replay guard stays per-lineage: foreachBatch
    retries within one stream reuse a batch_id and must not double-count,
    while a NEW stream restarts at 0 and must still land."""
    from ..sources.fs import fs_for

    fs = fs_for(delta_dir)
    path = _lineage_stats_path(delta_dir, lineage)
    try:
        cur = fs.read_json(path)
    except (OSError, ValueError):
        cur = {"n_docs": 0, "total_len": 0, "last_batch_id": -1}
        # migration: folds recorded pre-round-5 live in the legacy combined
        # file; seed only the replay guard from it (its totals keep counting
        # at read time, so n_docs/total_len start at 0 here)
        try:
            legacy = fs.read_json(os.path.join(delta_dir, DELTA_STATS_FILE))
            cur["last_batch_id"] = int(
                legacy.get("lineages", {}).get(
                    lineage, legacy.get("last_batch_id", -1)
                )
            )
        except (OSError, ValueError):
            pass
    if batch_id <= int(cur.get("last_batch_id", -1)):
        return  # retried batch within this stream — stats must not double
    fs.commit_json(
        path,
        {
            "lineage": lineage,
            "n_docs": cur.get("n_docs", 0) + n_docs,
            "total_len": cur.get("total_len", 0) + total_len,
            "last_batch_id": batch_id,
        },
    )


def _subtracted_stats(delta_dir: str, n_docs: int, total_len: int) -> dict:
    """The compaction subtraction ledger after a fold of ``n_docs`` docs
    (``total_len`` tokens): the folded documents' stats leave the delta
    manifest, so overlay serving keeps scoring the REMAINING delta under
    correct (n_docs, avgdl).  ``merge_compact`` commits the returned
    document through its fold record, so each fold subtracts exactly once
    however often a crashed fold is replayed.  One writer: the compactor
    (the per-stream stats fold writes per-lineage files instead)."""
    from ..sources.fs import fs_for

    try:
        sub = fs_for(delta_dir).read_json(os.path.join(delta_dir, DELTA_STATS_SUB_FILE))
    except (OSError, ValueError):
        sub = {}
    return {
        "n_docs": sub.get("n_docs", 0) + n_docs,
        "total_len": sub.get("total_len", 0) + total_len,
    }


def load_delta_stats(delta_dir: str) -> tuple[int, float] | None:
    """(n_docs, avgdl) merged from the per-lineage manifests (+ the legacy
    combined file) minus the compaction subtraction ledger — None when no
    manifest exists at all (pre-manifest deltas fall back to the
    distinct().agg() job).  All reads go through ``fs_for`` so non-local
    delta dirs (s3/hdfs) work like the rest of the index layout."""
    from ..sources.fs import fs_for

    fs = fs_for(delta_dir)
    n, toks, found = 0, 0, False
    try:
        legacy = fs.read_json(os.path.join(delta_dir, DELTA_STATS_FILE))
        n += int(legacy.get("n_docs", 0))
        toks += int(legacy.get("total_len", 0))
        found = True
    except (OSError, ValueError):
        pass
    for name in fs.list_files(delta_dir):
        # the .json suffix check excludes a '<name>.json.tmp' left by a
        # crash inside commit_json's write-then-rename — counting it would
        # double a lineage's totals (review finding, round 5)
        if not (
            name.startswith(DELTA_STATS_LINEAGE_PREFIX)
            and name.endswith(".json")
        ):
            continue
        try:
            st = fs.read_json(os.path.join(delta_dir, name))
        except (OSError, ValueError):
            continue
        n += int(st.get("n_docs", 0))
        toks += int(st.get("total_len", 0))
        found = True
    if not found:
        return None
    try:
        sub = fs.read_json(os.path.join(delta_dir, DELTA_STATS_SUB_FILE))
        n -= int(sub.get("n_docs", 0))
        toks -= int(sub.get("total_len", 0))
    except (OSError, ValueError):
        pass
    n, toks = max(n, 0), max(toks, 0)
    return n, float(toks) / max(n, 1)


def load_delta_postings(spark: SparkSession, delta_dir: str) -> DataFrame | None:
    try:
        return spark.read.parquet(delta_dir)
    except Exception:
        return None


MERGE_SUMMARY_SCHEMA = "shard int, manifest_json string"


def merge_compact(
    spark: SparkSession,
    index_dir: str,
    delta_files: list[str],
) -> dict:
    """Fold a snapshot of streamed delta postings files into the base index
    WITHOUT re-tokenizing any document: for each delta-touched shard, decode
    the stored posting runs (position streams included on a positions
    index), merge-sort them with the delta's postings, and re-encode — the
    compaction cost is O(delta + touched shards), not O(corpus).  Untouched
    shards need nothing because format v2 shards carry no corpus
    statistics; n_docs/avgdl update exactly in IndexMeta ((total_tokens +
    Σdelta doc_len) / (n_docs + new docs)), and per-term df is recomputed
    inside each rebuilt shard where the term's postings are co-located.

    Contract: the delta contains NEW documents only (doc_ids disjoint from
    the base).  Updated documents must go through the query-time overlay
    (``HybridSearchPlan.attach_delta``, which keep-bests per doc) until a
    full ``build_index`` — folding an update in place would need tombstones
    in every shard holding the old version's postings.  A positions index
    needs delta files with a ``positions`` column
    (``build_postings(positions=True)``).

    Commits through ``sources.fold``: the merge job writes each merged shard
    to ``.fold-<fp>/shard=<s>/data.parquet``; the fold record moves each
    over its shard's ``data.parquet`` and then commits, in order, the shard
    manifests, the delta-stats subtraction ledger and ``_index_meta.json``
    (whose ``folded_delta_files`` is the per-file ledger).  A rerun after a
    crash finishes the fold; files the ledger lists are never folded twice.
    The caller deletes the folded files afterwards (jobs/compact_job.py
    does)."""
    import json
    import time
    from dataclasses import asdict, replace

    import numpy as np
    import pandas as pd

    from ..sources import fs as fsmod
    from ..sources.fold import begin_fold, commit_fold
    from ..sources.index_io import (
        IndexMeta,
        _encode_posting_frame,
        _manifest_path,
        _write_shard,
        decode_shard_arrays,
        load_index,
    )

    t_all = time.monotonic()
    fold = begin_fold(index_dir, delta_files, "_index_meta.json", "folded_delta_files")
    meta = IndexMeta(**fold.meta)
    report = {"files_folded": fold.names, "files_excluded": fold.excluded}
    if not fold.files:
        return {
            "shards_compacted": [], "new_docs": 0, "new_tokens": 0,
            "n_docs": meta.n_docs, "avgdl": meta.avgdl, **report,
            "elapsed_sec": round(time.monotonic() - t_all, 3),
            "noop": "all delta files already folded",
        }
    delta = spark.read.parquet(*fold.files)
    positions = meta.has_positions
    if positions and "positions" not in delta.columns:
        raise ValueError(
            "the index stores positions but the delta files carry none; "
            "write them with build_postings(positions=True)"
        )
    dsh = delta.withColumn(
        "shard", F.pmod(F.xxhash64("term"), F.lit(meta.n_shards)).cast("int")
    ).withColumn("chunk", F.shiftright("doc_id", meta.chunk_bits).cast("long"))
    # one job: the new docs' count and tokens, and the touched shards
    row = (
        dsh.groupBy("doc_id", "doc_len")
        .agg(F.collect_set("shard").alias("shards"))
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("toks"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("shards"))))
            .alias("touched"),
        )
        .collect()[0]
    )
    new_docs, new_tokens = int(row["n"]), int(row["toks"])
    touched = list(row["touched"] or [])
    fs = fsmod.fs_for(index_dir)
    for s in touched:
        data_files = [
            f for f in fs.list_files(os.path.join(index_dir, f"shard={s}"))
            if f.startswith("data") and f.endswith(".parquet")
        ]
        if len(data_files) > 1:
            raise ValueError(
                f"shard {s} has a salted multi-file layout ({data_files}); "
                "merge_compact needs single-file shards (build_index "
                "with sub_splits=1)"
            )
    cols = ["term", "chunk", "doc_id", "tf", "doc_len"] + (
        ["positions"] if positions else []
    )
    index_df, _ = load_index(spark, index_dir)
    base = index_df.where(F.col("shard").isin(touched))
    delta_sel = dsh.where(F.col("shard").isin(touched)).select("shard", *cols)
    chunk_bits, stage = meta.chunk_bits, fold.stage_dir

    def merge_fn(key, base_pdf, delta_pdf):
        # the executor resolves its own fs: a driver-side fs (or a wrapper
        # around one) is never pickled into the task
        from ..sources.fs import fs_for

        shard = int(key[0])
        t0 = time.monotonic()
        flat = decode_shard_arrays(base_pdf, positions=positions)
        raw_base = {
            "term": flat["uniq_terms"][flat["term_codes"]],
            "chunk": np.right_shift(flat["doc_id"], chunk_bits),
            "doc_id": flat["doc_id"],
            "tf": flat["tf"],
            "doc_len": flat["doc_len"],
        }
        if positions:
            raw_base["positions"] = (
                np.split(flat["positions"], np.cumsum(flat["tf"])[:-1])
                if flat["tf"].size else []
            )
        raw = pd.concat([pd.DataFrame(raw_base), delta_pdf[cols]], ignore_index=True)
        out, n_postings, n_docs_seen = _encode_posting_frame(raw, shard, positions)
        return _write_shard(
            out, shard, None, n_docs_seen, n_postings, stage, fs_for(stage), t0,
            commit_manifest=False,
        )

    summary = (
        base.groupby("shard")
        .cogroup(delta_sel.groupby("shard"))
        .applyInPandas(merge_fn, MERGE_SUMMARY_SCHEMA)
        .collect()
    )
    moves, commits = [], []
    for row in sorted(summary, key=lambda r: r["shard"]):
        s = int(row["shard"])
        moves.append([
            os.path.join(stage, f"shard={s}", "data.parquet"),
            os.path.join(index_dir, f"shard={s}", "data.parquet"),
        ])
        commits.append([_manifest_path(index_dir, s), json.loads(row["manifest_json"])])
    delta_dir = os.path.dirname(fold.files[0])
    commits.append([
        os.path.join(delta_dir, DELTA_STATS_SUB_FILE),
        _subtracted_stats(delta_dir, new_docs, new_tokens),
    ])
    new_total, new_n = meta.total_tokens + new_tokens, meta.n_docs + new_docs
    new_meta = replace(
        meta,
        n_docs=new_n,
        avgdl=float(new_total) / max(new_n, 1),
        total_tokens=new_total,
        last_delta_fp=fold.fp,
        folded_delta_files=fold.ledger,
    )
    commits.append([os.path.join(index_dir, "_index_meta.json"), asdict(new_meta)])
    commit_fold(fold, moves, commits)
    return {
        "shards_compacted": touched,
        "new_docs": new_docs,
        "new_tokens": new_tokens,
        "n_docs": new_n,
        "avgdl": new_meta.avgdl,
        "fp": fold.fp,
        **report,
        "elapsed_sec": round(time.monotonic() - t_all, 3),
    }
