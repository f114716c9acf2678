"""One staged commit for every delta fold.

A fold turns a snapshot of delta files into new index files plus a few JSON
documents (shard manifests, ledgers, the index meta).  Both folds —
``streaming.incremental.merge_compact`` (postings into shards) and
``fold_delta_embeddings`` (vectors into an ANN layout) — commit the same
way, the Iceberg-style "write files, then swap one metadata record":

  1. ``begin_fold`` replays every ``._fold_pending_<fp>.json`` record under
     the root (each recorded move whose source still exists, then the
     record's JSON commits in order; then the record and its stage dir go)
     and removes any ``.fold-*`` stage dir that has no record;
  2. it drops snapshot files whose basenames the meta's ledger lists —
     none left means the fold is a no-op;
  3. fp = md5 of the sorted basenames;
  4. the caller stages its outputs under ``<root>/.fold-<fp>/`` (dot-named:
     parquet readers never list it);
  5. ``commit_fold`` commits the record ``{fp, files, moves, commits}``
     BEFORE any move, then finalizes it exactly as the replay would.

A crash anywhere converges on rerun.  Before the record commits the index
is untouched and the orphan stage dir is removed; after it, the replay
finishes the fold.  A move whose source is gone already happened, and
every commit is an absolute document, so replaying one twice is harmless.
On an object store ``move`` is copy + delete: a crash between the two
leaves the source, and the replay copies the same bytes again.

The ledger a fold commits is the snapshot's basenames: prior entries still
in the snapshot (folded, not yet deleted by the caller) plus this fold's
files.  Entries for files the caller has deleted age out at the next fold.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from . import fs as fsmod

PENDING_PREFIX = "._fold_pending_"
STAGE_PREFIX = ".fold-"


@dataclass(frozen=True)
class Fold:
    root: str
    meta: dict  # the root's meta JSON, read after the replay
    files: list  # snapshot paths this fold folds
    excluded: list  # sorted snapshot basenames the ledger already lists

    @property
    def names(self) -> list[str]:
        return sorted(os.path.basename(f) for f in self.files)

    @property
    def fp(self) -> str:
        return hashlib.md5("|".join(self.names).encode()).hexdigest()[:16]

    @property
    def ledger(self) -> list[str]:
        return sorted(set(self.names) | set(self.excluded))

    @property
    def stage_dir(self) -> str:
        return os.path.join(self.root, STAGE_PREFIX + self.fp)


def _finish(fs, root: str, rec: dict) -> None:
    for src, dst in rec["moves"]:
        if fs.exists(src):
            fs.makedirs(os.path.dirname(dst))
            fs.move(src, dst)
    for path, obj in rec["commits"]:
        fs.commit_json(path, obj)
    fs.delete(os.path.join(root, f"{PENDING_PREFIX}{rec['fp']}.json"))
    fs.rmtree(os.path.join(root, STAGE_PREFIX + rec["fp"]))


def begin_fold(root: str, files: list[str], meta_name: str, ledger_key: str) -> Fold:
    """Replay unfinished folds under ``root``, then select the snapshot
    ``files`` the ledger (``<root>/<meta_name>[ledger_key]``) does not
    list.  ``Fold.files`` is empty when every file is already folded."""
    fs = fsmod.fs_for(root)
    names = fs.list_files(root)
    for name in names:
        if name.startswith(PENDING_PREFIX) and name.endswith(".json"):
            _finish(fs, root, fs.read_json(os.path.join(root, name)))
    for name in names:
        if name.startswith(STAGE_PREFIX):
            fs.rmtree(os.path.join(root, name))
    meta = fs.read_json(os.path.join(root, meta_name))
    listed = set(meta.get(ledger_key) or [])
    keep = [f for f in files if os.path.basename(f) not in listed]
    excluded = sorted({os.path.basename(f) for f in files} & listed)
    return Fold(root, meta, keep, excluded)


def commit_fold(fold: Fold, moves: list[list[str]], commits: list[list]) -> None:
    """Commit the record — ``moves`` as [stage path, final path] pairs and
    ``commits`` as [path, JSON document] pairs in commit order — then
    finalize it."""
    fs = fsmod.fs_for(fold.root)
    rec = {"fp": fold.fp, "files": fold.names, "moves": moves, "commits": commits}
    fs.commit_json(os.path.join(fold.root, f"{PENDING_PREFIX}{fold.fp}.json"), rec)
    _finish(fs, fold.root, rec)
