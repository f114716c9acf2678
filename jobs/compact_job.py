"""spark-submit entry point: fold streamed delta postings into the index.

    spark-submit --py-files hse.zip jobs/compact_job.py \
        --index-dir /path/to/index --delta-dir /path/to/delta_postings \
        [--ann-index-dir /path/to/ivf --ann-kind ivf] [--keep-delta]

Snapshots the delta dir's parquet files, folds them with
streaming/incremental.py::merge_compact (touched shards decode → merge →
re-encode, no corpus re-tokenization), then deletes exactly those files
unless --keep-delta; files the stream appends during the run survive for
the next compaction.  With --ann-index-dir the streamed embeddings under
<delta-dir>/_embeddings fold into the base ANN layout the same way
(fold_delta_embeddings), so compacted docs stay visible to the vector
stage after the overlay is dropped.

Both folds commit through sources/fold.py's staged commit: a rerun after a
crash finishes the interrupted fold, and a file the index's ledger lists
as folded (a crash between the commit and the delete) is never folded
twice.  An empty delta dir prints {"status": "noop"}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from hybrid_sanctions_search_engine_spark.operators.similarity import ANN_KINDS

    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--index-dir", required=True)
    parser.add_argument("--delta-dir", required=True)
    parser.add_argument("--ann-index-dir", default=None)
    parser.add_argument(
        "--ann-kind", default="ivf",
        choices=ANN_KINDS,
    )
    parser.add_argument("--keep-delta", action="store_true")
    parser.add_argument("--cores", type=int, default=0, help="local[N] for testing")
    args = parser.parse_args()

    from hybrid_sanctions_search_engine_spark.session import get_spark
    from hybrid_sanctions_search_engine_spark.sources.fs import fs_for
    from hybrid_sanctions_search_engine_spark.streaming.incremental import (
        merge_compact,
    )

    spark = get_spark("compact", cores=args.cores or None)
    # SNAPSHOT the delta file list before reading: the stream may append new
    # parquet files while the (minutes-long) compaction runs — only the files
    # actually folded are deleted afterwards; later arrivals survive for the
    # next compaction (no silent loss under exactly-once)
    fs = fs_for(args.delta_dir)
    files = [
        os.path.join(args.delta_dir, f)
        for f in fs.list_files(args.delta_dir)
        if f.endswith(".parquet")
    ]
    if not files:
        print(json.dumps({"status": "noop", "reason": "empty delta"}))
        return
    # files the index's ledger lists (folded by a run that crashed before
    # its delete) are excluded from the fold and still safe to delete below
    report = merge_compact(spark, args.index_dir, delta_files=files)
    if args.ann_index_dir:
        from hybrid_sanctions_search_engine_spark.streaming.incremental import (
            delta_embeddings_dir,
            fold_delta_embeddings,
        )

        emb_dir = delta_embeddings_dir(args.delta_dir)
        emb_files = [
            os.path.join(emb_dir, f)
            for f in fs.list_files(emb_dir)
            if f.endswith(".parquet")
        ]
        if emb_files:
            report["ann_fold"] = fold_delta_embeddings(
                spark,
                args.ann_index_dir,
                kind=args.ann_kind,
                delta_files=emb_files,
            )
            if not args.keep_delta:
                for f in emb_files:
                    fs.delete(f)
    if not args.keep_delta:
        for f in files:
            fs.delete(f)
    print(json.dumps({"status": "ok", **report}))
    spark.stop()


if __name__ == "__main__":
    main()
