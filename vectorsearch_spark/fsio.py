"""The filesystem-contract seam for the driver-local STATE layer —
epoch markers, fold state dirs, staged swaps (r13, r12 VERDICT #6).

Every streaming fold and incremental-state protocol in this repo
(operators/incremental.py, operators/urls.py, operators/dedup.py,
operators/sketch.py) and the index catalog (index/catalog.py, whose
one meta.json also carries stream_add's epoch marks) keep their
exactly-once metadata as driver-local files: an applied-epoch marker committed by
atomic file replace, per-epoch parquet dirs discovered by listing, and
staged dirs published by atomic rename. Those protocols are correct
ONLY under the atomicity contract spelled out per method below — POSIX
and HDFS satisfy it; raw object stores (S3 et al.) do NOT (rename is
copy+delete, neither atomic nor cheap), which is exactly why this seam
exists: porting the state layer to an object store is a BACKEND SWAP
(implement the contract via a manifest-commit protocol or point the
state dir at a table format / EFS-style layer), not a rewrite of every
fold. The reference gets the equivalent guarantees from FDB
transactions (fdb/FdbVectorStore.java:425-492); Spark's own streaming
checkpoints solve the same problem the same way (HDFSMetadataLog's
rename-based commits).

Scope note: TABLE-partition swaps (index maintenance, keyed MERGE) go
through the Hadoop FileSystem API in staging.py — already a portable
seam with its own documented protocol. This module is the analogous
seam for the driver-local state/marker layer.

Swap the backend with ``set_state_fs`` (also the test seam: a
recording/fault-injecting wrapper proves callers route through here).

THE CONTRACT (what a conforming backend must guarantee):

* ``replace_file(src, dst)`` — ATOMIC: readers see the old dst or the
  new dst, never a partial file, regardless of crash point. Carries
  every fold's applied-epoch marker (marker-commits-last).
* ``rename(src, dst)`` — ATOMIC MOVE of a file or whole directory
  within the state namespace: after a crash, exactly one of src/dst
  exists (dst must not pre-exist for directories). Carries the staged
  state swaps (fold_rollup_batch's .tmp/.old dance, additive
  compaction's staged-partition publish).
* ``listdir`` — lists a directory's entry names; MUST reflect every
  completed rename/replace (read-after-write consistency). Returns []
  for a missing dir (the empty-state read).
* ``mkstemp_in(dir)`` — a temp file CO-LOCATED with its final home so
  the following ``replace_file`` stays within one atomicity domain.
* ``exists`` / ``isdir`` / ``makedirs`` / ``remove`` / ``rmtree`` —
  POSIX semantics; ``makedirs`` idempotent, ``rmtree`` recursive and
  silent on missing paths. No atomicity required: every protocol step
  using them is idempotent/re-entrant by construction.
"""

from __future__ import annotations

import os
import shutil
import tempfile


class LocalStateFS:
    """POSIX backend — the local/HDFS-mount implementation of the
    contract. Every method delegates to ``os``/``shutil`` dynamically
    (monkeypatched fault injection in tests keeps working)."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> "list[str]":
        if not os.path.isdir(path):
            # [] ONLY for a genuinely missing path (the empty-state
            # read); a path that exists as a FILE is a corrupted or
            # mistyped state root and must not silently read as a
            # clean slate (r13 ADVICE)
            if os.path.exists(path):
                raise NotADirectoryError(
                    f"state root exists but is not a directory: {path}"
                )
            return []
        return os.listdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def replace_file(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def mkstemp_in(self, dir_path: str, prefix: str) -> "tuple[int, str]":
        return tempfile.mkstemp(dir=dir_path, prefix=prefix)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()


_FS: LocalStateFS = LocalStateFS()


def get_state_fs() -> LocalStateFS:
    """The active state-layer filesystem backend."""
    return _FS


def set_state_fs(fs) -> LocalStateFS:
    """Swap the backend (object-store port, test instrumentation).
    Returns the PREVIOUS backend so callers can restore it."""
    global _FS
    prev, _FS = _FS, fs
    return prev


# ---------------------------------------------------------------------------
# Protocol helpers built ON the seam (shared fold disciplines)
# ---------------------------------------------------------------------------

def write_file_atomic(dir_path: str, name: str, data: str) -> None:
    """Publish ``{dir_path}/{name}`` atomically: co-located temp file +
    ``replace_file`` — the marker-commits-last primitive every fold's
    exactly-once protocol ends with.

    Durability (r13 ADVICE): the temp file is fsync'd before the
    replace and the parent directory after it (when the backend is the
    local POSIX one), so the contract covers POWER LOSS, not just
    process crashes — without the syncs, a marker could survive a
    power cut as a zero-length or partial file. Readers additionally
    quarantine an unparseable marker as "not committed"
    (incremental._load_marker) for filesystems that don't honor the
    ordering."""
    fs = get_state_fs()
    fd, tmp = fs.mkstemp_in(dir_path, prefix=f"._{name}_tmp_")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        fs.replace_file(tmp, os.path.join(dir_path, name))
        if isinstance(fs, LocalStateFS):
            # persist the rename itself (directory entry update);
            # object-store backends commit via atomic PUT instead
            dfd = os.open(dir_path, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
    except BaseException:
        if fs.exists(tmp):
            fs.remove(tmp)
        raise


def epoch_ids(root: str, *, below: "int | None" = None,
              at_most: "int | None" = None) -> "list[int]":
    """Epoch ids of ``epoch=N`` child dirs under ``root`` (sorted),
    optionally bounded strictly ``below`` / inclusively ``at_most`` —
    the shared partition-discovery read of every fold. [] when the
    root doesn't exist yet (empty state). A fold reads its prior state
    with ``below=epoch_id``, never ``epoch_id`` itself: a crashed
    attempt's partial dir for the CURRENT epoch must not feed its own
    replay."""
    fs = get_state_fs()
    out = []
    for d in fs.listdir(root):
        if not d.startswith("epoch="):
            continue
        e = int(d.split("=", 1)[1])
        if below is not None and e >= below:
            continue
        if at_most is not None and e > at_most:
            continue
        out.append(e)
    return sorted(out)


def epoch_dirs(root: str, *, below: "int | None" = None,
               at_most: "int | None" = None) -> "list[str]":
    """Like ``epoch_ids`` but returning full paths."""
    return [
        os.path.join(root, f"epoch={e}")
        for e in epoch_ids(root, below=below, at_most=at_most)
    ]


def swap_dir_in(tmp: str, live: str) -> None:
    """Publish a fully-written staged dir ``tmp`` as ``live`` via the
    two-rename discipline with crash recovery:
      live → live.old   (if live exists)
      tmp  → live
      drop live.old
    A crash between the renames leaves no live dir but a complete
    ``.old``; ``restore_swap_backup`` (run before reading or
    re-swapping) rolls it back. Both renames are atomic per the module
    contract, so every crash point leaves exactly one complete
    generation reachable."""
    fs = get_state_fs()
    old = live + ".old"
    fs.rmtree(old)
    if fs.exists(live):
        fs.rename(live, old)
    fs.rename(tmp, live)
    fs.rmtree(old)


def restore_swap_backup(live: str) -> None:
    """Crash recovery for ``swap_dir_in``: a missing live dir with a
    complete ``.old`` means the crash hit between the two renames —
    restore it. Idempotent; call before any read or re-swap."""
    fs = get_state_fs()
    old = live + ".old"
    if not fs.exists(live) and fs.exists(old):
        fs.rename(old, live)
