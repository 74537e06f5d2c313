"""The filesystem-contract seam (vectorsearch_spark/fsio.py, r13 —
r12 VERDICT #6): the state layer's atomicity-dependent primitives all
route through ONE swappable backend, and the rename-gap recovery paths
are enumerated against an instrumented backend."""

from __future__ import annotations

import os

import pytest

from vectorsearch_spark import fsio
from vectorsearch_spark.fsio import (
    LocalStateFS,
    epoch_dirs,
    epoch_ids,
    get_state_fs,
    restore_swap_backup,
    set_state_fs,
    swap_dir_in,
    write_file_atomic,
)

# Modules whose exactly-once protocols depend on the fsio contract.
# They must not reach for the raw primitives directly — the object-
# store port swaps the backend, and a stray os.rename would silently
# bypass it.
_STATE_MODULES = [
    "vectorsearch_spark/operators/incremental.py",
    "vectorsearch_spark/operators/urls.py",
    "vectorsearch_spark/operators/dedup.py",
    "vectorsearch_spark/operators/sketch.py",
    "vectorsearch_spark/streaming/ingest.py",
    "vectorsearch_spark/index/catalog.py",
]
_FORBIDDEN = [
    "os.listdir(",
    "os.rename(",
    "os.replace(",
    "shutil.rmtree(",
    "os.makedirs(",
    "tempfile.mkstemp(",
]


def test_state_modules_route_through_seam():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hits = []
    for mod in _STATE_MODULES:
        src = open(os.path.join(root, mod)).read()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            for pat in _FORBIDDEN:
                if pat in code:
                    hits.append(f"{mod}:{i}: {line.strip()}")
    assert not hits, "direct FS primitives bypass the fsio seam:\n" + "\n".join(hits)


class RecordingFS(LocalStateFS):
    def __init__(self):
        self.ops: list[tuple] = []

    def rename(self, src, dst):
        self.ops.append(("rename", src, dst))
        super().rename(src, dst)

    def replace_file(self, src, dst):
        self.ops.append(("replace", src, dst))
        super().replace_file(src, dst)

    def listdir(self, path):
        self.ops.append(("listdir", path))
        return super().listdir(path)

    def exists(self, path):
        self.ops.append(("exists", path))
        return super().exists(path)

    def read_text(self, path):
        self.ops.append(("read_text", path))
        return super().read_text(path)


@pytest.fixture()
def recording_fs():
    fs = RecordingFS()
    prev = set_state_fs(fs)
    try:
        yield fs
    finally:
        set_state_fs(prev)


def test_backend_swap_captures_fold_protocol(spark, tmp_path, recording_fs):
    """A fold run end-to-end with a swapped backend records every
    atomicity-dependent op through the seam — proof the protocol has no
    side-channel to the raw filesystem."""
    from vectorsearch_spark.operators.urls import (
        fold_url_dedup_batch,
        read_accepted,
    )

    state = str(tmp_path / "st")
    os.makedirs(state)
    rows = [(1, "http://a.com/x"), (2, "http://A.COM/x"), (3, "http://b.com/")]
    for e, lo, hi in ((0, 0, 2), (1, 2, 3)):
        fold_url_dedup_batch(
            spark.createDataFrame(rows[lo:hi], "doc_id long, url string"),
            e, state,
        )
    got = sorted(r["doc_id"] for r in read_accepted(spark, state).collect())
    assert got == [1, 3]
    replaces = [op for op in recording_fs.ops if op[0] == "replace"]
    # one marker commit per applied epoch, all through the seam
    assert len([r for r in replaces if r[2].endswith("_last_epoch.json")]) == 2
    assert any(op[0] == "listdir" for op in recording_fs.ops)


def test_catalog_reads_through_seam(spark, tmp_path, recording_fs):
    """The index catalog reads meta.json back through the same seam it
    writes it with, so a non-local backend can read what it wrote:
    create_or_open's existence check, open's meta read, and a fresh
    handle's first next_gid and segments() all reach it — one read,
    since the registry lives in the same file."""
    from vectorsearch_spark.config import IndexConfig
    from vectorsearch_spark.index import VectorIndex

    root = str(tmp_path / "idx")
    cfg = IndexConfig(name="s", dimension=4, max_segment_size=10, pq_m=2, pq_k=4)
    VectorIndex.create(spark, root, cfg)
    meta = f"{root}/meta.json"

    recording_fs.ops.clear()
    VectorIndex.create_or_open(spark, root, cfg)
    assert recording_fs.ops == [("exists", meta), ("read_text", meta)]

    recording_fs.ops.clear()
    VectorIndex.open(spark, root)
    assert recording_fs.ops == [("read_text", meta)]

    fresh = VectorIndex(spark, root, cfg)
    recording_fs.ops.clear()
    assert fresh.next_gid == 0
    assert fresh.segments().count() == 0
    assert recording_fs.ops == [("read_text", meta)]


def test_catalog_commits_once_per_step(spark, tmp_path, recording_fs):
    """Every logical index step commits the catalog with exactly one
    atomic replace of meta.json — the registry and the counters ride
    the same write, so no crash can land one without the other."""
    from vectorsearch_spark.config import IndexConfig
    from vectorsearch_spark.index import VectorIndex

    root = str(tmp_path / "idx")
    meta = f"{root}/meta.json"
    schema = "row_id long, embedding array<float>"

    def commits(fn):
        recording_fs.ops.clear()
        fn()
        return sum(1 for op in recording_fs.ops if op[0] == "replace" and op[2] == meta)

    cfg = IndexConfig(name="w", dimension=2, max_segment_size=10, pq_m=2, pq_k=4)
    holder = []
    assert commits(lambda: holder.append(VectorIndex.create(spark, root, cfg))) == 1
    idx = holder[0]
    rows = spark.createDataFrame([(i, [float(i), float(i % 3)]) for i in range(25)], schema)
    assert commits(lambda: idx.add(rows, order_col="row_id")) == 1
    empty = spark.createDataFrame([], schema)
    assert commits(lambda: idx.add(empty, meta_extra={"applied_epochs": {"s": 0}})) == 1
    assert commits(lambda: idx.delete([0, 1, 12])) == 1
    assert commits(lambda: idx.build()) == 1
    assert commits(lambda: idx.compact([0, 1])) == 2
    # the registry lives in the catalog file: no second state file
    assert sorted(os.listdir(root)) == ["artifacts", "meta.json", "vectors"]


def test_write_file_atomic_never_exposes_partial(tmp_path):
    d = str(tmp_path)
    write_file_atomic(d, "m.json", '{"epoch": 1}')
    assert get_state_fs().read_text(os.path.join(d, "m.json")) == '{"epoch": 1}'
    # overwrite is atomic replace — old content fully swapped
    write_file_atomic(d, "m.json", '{"epoch": 2}')
    assert get_state_fs().read_text(os.path.join(d, "m.json")) == '{"epoch": 2}'
    # no temp residue
    assert [n for n in os.listdir(d) if n.startswith("._")] == []


def test_write_file_atomic_cleans_temp_on_failure(tmp_path):
    d = str(tmp_path)

    class FailingFS(LocalStateFS):
        def replace_file(self, src, dst):
            raise RuntimeError("injected replace failure")

    prev = set_state_fs(FailingFS())
    try:
        with pytest.raises(RuntimeError, match="injected"):
            write_file_atomic(d, "m.json", "x")
    finally:
        set_state_fs(prev)
    assert os.listdir(d) == []  # temp removed, marker never appeared


def test_epoch_ids_bounds_and_missing_root(tmp_path):
    root = str(tmp_path / "sub")
    assert epoch_ids(root) == []  # missing root = empty state
    for e in (0, 1, 2, 10):
        os.makedirs(os.path.join(root, f"epoch={e}"))
    open(os.path.join(root, "_last_epoch.json"), "w").write("{}")
    assert epoch_ids(root) == [0, 1, 2, 10]
    assert epoch_ids(root, below=2) == [0, 1]
    assert epoch_ids(root, at_most=2) == [0, 1, 2]
    assert epoch_dirs(root, below=1) == [os.path.join(root, "epoch=0")]


def _mkgen(path: str, tag: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as fh:
        fh.write(tag)


def _gen(path: str) -> str:
    with open(os.path.join(path, "data")) as fh:
        return fh.read()


def test_swap_dir_crash_window_enumeration(tmp_path):
    """Every crash point of the two-rename swap leaves exactly one
    complete generation reachable after restore_swap_backup:
      w0 before any rename            → old generation intact
      w1 after live→old, before tmp→live → .old restored
      w2 after tmp→live, before .old drop → new generation, backup dropped
    """
    live = str(tmp_path / "state")

    # w0: rename of live→old fails; live untouched
    _mkgen(live, "gen1")
    _mkgen(live + ".tmp", "gen2")

    class F1(LocalStateFS):
        def rename(self, src, dst):
            if dst.endswith(".old"):
                raise RuntimeError("w0")
            super().rename(src, dst)

    prev = set_state_fs(F1())
    try:
        with pytest.raises(RuntimeError):
            swap_dir_in(live + ".tmp", live)
    finally:
        set_state_fs(prev)
    restore_swap_backup(live)
    assert _gen(live) == "gen1"

    # w1: crash between the renames — only .old exists; restore rolls back
    class F2(LocalStateFS):
        def rename(self, src, dst):
            super().rename(src, dst)
            if dst.endswith(".old"):
                raise RuntimeError("w1")

    prev = set_state_fs(F2())
    try:
        with pytest.raises(RuntimeError):
            swap_dir_in(live + ".tmp", live)
    finally:
        set_state_fs(prev)
    assert not os.path.exists(live) and os.path.exists(live + ".old")
    restore_swap_backup(live)
    assert _gen(live) == "gen1"
    assert not os.path.exists(live + ".old")

    # w2: crash after tmp→live — new generation in place; backup dropped
    class F3(LocalStateFS):
        def rmtree(self, path):
            if path.endswith(".old") and os.path.exists(path):
                raise RuntimeError("w2")
            super().rmtree(path)

    assert os.path.exists(live + ".tmp")
    prev = set_state_fs(F3())
    try:
        with pytest.raises(RuntimeError):
            swap_dir_in(live + ".tmp", live)
    finally:
        set_state_fs(prev)
    assert _gen(live) == "gen2"  # the swap itself completed
    restore_swap_backup(live)  # no-op: live exists
    assert _gen(live) == "gen2"
    fsio.get_state_fs().rmtree(live + ".old")  # roll-forward cleanup
    assert not os.path.exists(live + ".old")


def test_listdir_rejects_file_as_state_root(tmp_path):
    """A state root that exists as a regular FILE is corruption, not
    empty state (r13 ADVICE) — [] stays reserved for missing paths."""
    f = str(tmp_path / "root")
    open(f, "w").write("oops")
    with pytest.raises(NotADirectoryError):
        get_state_fs().listdir(f)
    assert get_state_fs().listdir(str(tmp_path / "missing")) == []
    with pytest.raises(NotADirectoryError):
        epoch_ids(f)


def test_corrupt_marker_quarantined_as_uncommitted(tmp_path):
    """A torn (power-loss partial) marker reads as 'not committed' and
    is quarantined, never crashing the fold (r13 ADVICE): the epoch
    write is idempotent, so replaying the uncommitted epoch is safe."""
    from vectorsearch_spark.operators.incremental import (
        committed_epoch,
        epoch_already_applied,
    )

    marker = str(tmp_path / "_last_epoch.json")
    open(marker, "w").write('{"epo')  # torn mid-write
    assert epoch_already_applied(str(tmp_path), 3) is False
    assert os.path.exists(marker + ".corrupt")
    assert not os.path.exists(marker)
    with pytest.raises(ValueError, match="no committed epoch"):
        committed_epoch(str(tmp_path), "reader")
    # an intact marker still round-trips
    write_file_atomic(str(tmp_path), "_last_epoch.json", '{"epoch": 3}')
    assert epoch_already_applied(str(tmp_path), 3) is True
    assert committed_epoch(str(tmp_path), "reader") == 3
