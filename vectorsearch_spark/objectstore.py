"""Object-store backend for the state-layer filesystem seam (r13
VERDICT #1): the fsio contract (fsio.py:31-47) implemented WITHOUT an
atomic rename primitive, so the folds' exactly-once protocols run
unchanged on S3-class storage.

What an object store actually provides (the ``BlobStore`` API below —
each method names its S3 call): atomic whole-object PUT (readers see
the old or the new complete object, never bytes in between), GET,
DELETE, server-side COPY, and strongly-consistent prefix LIST. What it
does NOT provide is rename — the Hadoop S3A "rename" is a key-by-key
copy+delete, and a crash mid-way leaves BOTH trees visible, which
breaks every swap discipline in fsio (swap_dir_in's two-rename dance,
additive compaction's staged-partition publish). The reference solves
this class of problem with FDB transactions
(fdb/FdbVectorStore.java:425-492); Spark's own HDFSMetadataLog solves
it with HDFS rename. Neither exists here, so this backend synthesizes
rename atomicity from the ONE atomic primitive the store has:
single-object PUT, applied to a MANIFEST object.

THE MANIFEST-COMMIT PROTOCOL

The physical key layout is IDENTITY — every logical path is stored at
its own key, so Spark executors read and write parquet at the very
same paths with no indirection, and in the quiescent state the
manifest is EMPTY. The manifest (one JSON object, rewritten by atomic
PUT) carries only the TRANSIENT visibility overrides of in-flight
renames:

* ``pending[dst]``  — dst is being copied into; suppress it.
* ``tombstone[src]`` — dst committed; src awaits physical deletion;
  suppress it.

``rename(src, dst)`` then runs:

  1. PUT manifest {pending += dst}        (dst invisible from here)
  2. COPY every object under src → dst    (partial copies invisible)
  3. PUT manifest {pending -= dst, tombstone += src}   ← COMMIT POINT
  4. DELETE every object under src        (src already invisible)
  5. PUT manifest {tombstone -= src}

Every read primitive (``exists``/``isdir``/``listdir``/``read_text``)
merges the physical listing with the manifest's suppressions, so at
every crash point EXACTLY ONE of src/dst is observable through the
seam: before step 3 the old tree (src visible, dst suppressed), after
it the new tree (dst visible, src suppressed) — the fsio rename
contract, linearized at a single object PUT. ``recover()`` (run at
construction, i.e. on process restart) deletes the physical garbage a
crash left behind — partial dst copies under ``pending``, undeleted
src objects under ``tombstone`` — and clears the entries; until it
runs, the suppressions alone keep the contract true, so recovery is
cleanup, not correctness.

``replace_file`` needs no protocol at all: a single-object PUT is
already the atomic replace (this is why the folds' marker-commits-last
discipline ports to object stores for free, exactly like Spark's
streaming CommitLog). ``mkstemp_in`` spools to LOCAL temp — on an
object store there is no "co-located temp + rename" idiom; the
following ``replace_file`` uploads the spool in one atomic PUT, which
is a STRICTLY STRONGER atomicity domain than POSIX same-directory
rename.

MULTI-WRITER: CAS + FENCING

Every manifest write is a CONDITIONAL PUT (S3 ``If-Match`` on the
manifest ETag / GCS ``ifGenerationMatch``): the writer loads the
manifest, applies its delta, and PUTs with the loaded ETag as
precondition; on ``PreconditionFailedError`` it reloads and re-applies
— classic CAS, so concurrent writers mutating DISJOINT paths all
succeed and a lost update is impossible. Two more rules make the
concurrent case actually safe (the part "just add a precondition"
glosses over):

* **Ownership.** Every pending/tombstone entry records
  ``(owner, incarnation)`` of the writer that staged it, and the
  manifest carries a ``writers`` registry ``{owner: incarnation}``.
  A writer only auto-clears leftovers it can PROVE dead: its own
  (same owner — any older incarnation of me is me, restarted) or an
  entry whose recorded incarnation is below the owner's registered
  one (that incarnation is fenced — see below). An entry staged by
  another owner's CURRENT incarnation is a possibly-live in-flight
  rename: touching its dst raises ``FileExistsError`` instead of
  silently destroying the concurrent copy. Because the check and the
  claim land in the same CAS'd stage commit, two writers racing the
  same dst serialize: exactly one stages, the other errors.
* **Fencing tokens.** A writer registers ``writers[owner] =
  incarnation`` lazily, folded into its FIRST commit (so a read-only
  restart costs nothing and single-writer PUT counts are unchanged).
  Every subsequent commit re-checks the registry inside the CAS loop;
  if another incarnation of the same owner has registered since
  (restart after a partition, a zombie process), the old one's commit
  raises ``WriterFencedError`` — the zombie cannot corrupt state it
  no longer owns. ``fence(owner)`` is the explicit takeover: bump the
  owner's incarnation (one CAS — from that commit on the old
  incarnation cannot write), then delete its garbage, then clear its
  entries; crash anywhere mid-takeover is re-runnable.

``recover()`` (at construction) cleans ONLY provably-dead entries
under these rules, and when it does clean, it commits its OWN
registration first — fencing the incarnation whose garbage it is about
to delete before any byte is touched. A single-writer deployment
(every call site today) sees the exact single-writer protocol above,
with the same round-trip counts (+1 manifest PUT only on a recovery
that actually cleans).

The lease caveat, stated honestly: fencing makes the MANIFEST plane
airtight — a superseded incarnation can never commit — but data-plane
writes (the COPY calls of a rename already past its stage commit)
carry no precondition, so a same-owner restart that races a still-
RUNNING predecessor can observe that predecessor's late copies land
under a dst whose entry was already cleared. This is the standard
storage-lease assumption (HDFS lease recovery, the Hadoop S3A
committers, Spark's own checkpoint restart make the same one): the
previous process must be dead, not merely presumed dead.

``conditional_data=True`` CLOSES that window. Every rename copy
becomes a conditional CREATE (``copy_if_absent`` — S3 PutObject
``If-None-Match: *``; plain CopyObject cannot carry a dst
precondition, so server-side the idiom is UploadPartCopy + a
conditional CompleteMultipartUpload), and recovery rolls a dead
pending rename FORWARD (the stage entry records src): resume the
copy — keys that already landed are skipped — then commit. The
safety argument is content-idempotency: src is immutable for the
duration of a rename and the fold namespace has one logical owner,
so EVERY copy of a given key (a predecessor's or a successor's,
landing in any order) carries identical bytes, and the conditional
create ensures nothing ever overwrites a visible object. Off by
default: roll-forward changes which generation survives a pre-commit
crash (dst instead of src), which suits the bucketed epoch layout
whose replays are idempotent, but not the whole-dir-swap folds whose
``restore_swap_backup`` expects roll-back.

Cost model (measured; SURVEY.md row "OBJECT-STORE fsio backend"):
reads add one manifest GET per fsio call; a rename of an N-object tree costs
3 manifest PUTs + N copies + N deletes. ``swap_dir_in`` performs TWO
renames (live→old, tmp→live), and the live→old copy is pure backup
that rmtree immediately discards — at object-store prices a
state-scale deployment would point swap-heavy folds at the bucketed
EpochBucketedState layout (whose epochs are written once and renamed
only at compaction) rather than the whole-dir-swap folds, which is
exactly the 100 TB guidance SURVEY.md already gives.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import threading


class PreconditionFailedError(RuntimeError):
    """A conditional PUT's precondition did not hold (S3 412)."""


class WriterFencedError(RuntimeError):
    """This writer incarnation has been superseded in the manifest's
    ``writers`` registry — a newer incarnation of the same owner (or an
    explicit ``fence()``) owns the namespace now. The safe reaction is
    to STOP: state this incarnation staged is the new owner's to
    recover."""


class LocalBlobStore:
    """A blob store emulated on the local filesystem — keys ARE paths.
    Exposes ONLY the S3 primitive set; nothing here renames. PUT
    stages to a hidden ``.blobtmp-`` sibling and ``os.replace``s it,
    emulating S3's guarantee that an object never shows partial bytes
    (the replace is the EMULATION of atomic PUT, not a primitive the
    backend above may use); listings filter the staging names,
    emulating S3's no-transient-visibility.

    Directory notes: objects live under real local dirs so Spark can
    read/write the same paths. ``makedirs`` is a real mkdir here and a
    no-op on S3 (prefixes need no creation); ``delete_prefix`` removes
    now-empty local dirs after the object deletes, which S3 has no
    concept of.
    """

    _TMP = ".blobtmp-"

    def put(self, key: str, data: bytes) -> None:  # S3: PutObject
        d = os.path.dirname(key)
        if d:
            os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d or ".", prefix=self._TMP)
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, key)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    # the emulation of the server-side atomicity S3/GCS give a
    # conditional write (check + replace as one step); class-level so
    # every handle to the same local "store" serializes. Only the
    # conditional path needs it — plain PUT is last-writer-wins on
    # both the real store and the emulation.
    _cas_lock = threading.Lock()

    def get(self, key: str) -> bytes:  # S3: GetObject
        with open(key, "rb") as fh:
            return fh.read()

    def etag_of(self, key: str) -> "str | None":  # S3: HeadObject ETag
        """Content ETag of ``key`` (md5, S3's single-part ETag), or
        None when the object does not exist."""
        try:
            return hashlib.md5(self.get(key)).hexdigest()
        except FileNotFoundError:
            return None

    def put_if_match(self, key: str, data: bytes, etag: "str | None") -> None:
        """Conditional PUT — S3 ``PutObject`` with ``If-Match: etag``
        (``etag=None`` → ``If-None-Match: *``, object must not exist).
        Raises PreconditionFailedError when the object's current ETag
        differs; delegates to ``put`` (the same atomic-PUT path) when
        the precondition holds."""
        with self._cas_lock:
            if self.etag_of(key) != etag:
                raise PreconditionFailedError(
                    f"conditional PUT lost: {key} moved under us"
                )
            self.put(key, data)

    def copy(self, src: str, dst: str) -> None:  # S3: CopyObject
        self.put(dst, self.get(src))

    def copy_if_absent(self, src: str, dst: str) -> None:
        """Conditional create of ``dst`` from ``src`` — fails with
        PreconditionFailedError when dst already exists. On S3 this is
        NOT plain CopyObject (whose If-* conditions apply to the
        SOURCE): it is GET + PutObject ``If-None-Match: *``, or a
        multipart UploadPartCopy finished by a conditional
        CompleteMultipartUpload (which keeps the bytes server-side)."""
        self.put_if_match(dst, self.get(src), None)

    def delete(self, key: str) -> None:  # S3: DeleteObject (idempotent)
        try:
            os.remove(key)
        except FileNotFoundError:
            pass

    def list_prefix(self, path: str) -> "list[str]":  # S3: ListObjectsV2
        """Every object key under ``path`` (recursive), including
        ``path`` itself when it is a single object."""
        if os.path.isfile(path):
            return [path]
        out = []
        for base, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(self._TMP):
                    out.append(os.path.join(base, f))
        return sorted(out)

    def listdir(self, path: str) -> "list[str]":  # S3: List + delimiter
        if not os.path.isdir(path):
            return []
        return sorted(
            n for n in os.listdir(path) if not n.startswith(self._TMP)
        )

    def is_object(self, path: str) -> bool:
        return os.path.isfile(path)

    def has_prefix(self, path: str) -> bool:  # any key under path/?
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:  # S3: no-op
        os.makedirs(path, exist_ok=True)

    def delete_prefix(self, path: str) -> int:
        """DELETE every object under ``path`` (S3: batched
        DeleteObjects), then drop the empty local dir skeleton (local
        emulation only). Returns objects deleted."""
        keys = self.list_prefix(path)
        for k in keys:
            self.delete(k)
        if os.path.isdir(path):
            for base, dirs, _files in os.walk(path, topdown=False):
                for d in dirs:
                    p = os.path.join(base, d)
                    if os.path.isdir(p) and not os.listdir(p):
                        os.rmdir(p)
            if not os.listdir(path):
                os.rmdir(path)
        return len(keys)


class ObjectStoreStateFS:
    """The fsio contract over a ``BlobStore`` — see the module
    docstring for the manifest-commit protocol. Drop-in for
    ``fsio.set_state_fs``; ``stats`` counts store round trips so the
    protocol's overhead is a measured number (SURVEY.md rows
    "OBJECT-STORE fsio backend" and "MULTI-WRITER manifest")."""

    MANIFEST = "_fsio_manifest.json"

    def __init__(
        self,
        store: LocalBlobStore,
        root: str,
        owner: str = "writer",
        conditional_data: bool = False,
    ) -> None:
        self.store = store
        self.root = root.rstrip("/")
        self.owner = owner
        self.conditional_data = conditional_data
        self._incarnation: "int | None" = None  # set at first commit
        self.manifest_key = os.path.join(self.root, self.MANIFEST)
        self.stats: "dict[str, int]" = {}
        self._spool = tempfile.mkdtemp(prefix="fsio_spool_")
        self._spool_paths: "set[str]" = set()
        self.recover()

    # -- manifest -----------------------------------------------------
    # v2 format: {"gen": int, "writers": {owner: incarnation},
    #             "pending": {path: [owner, incarnation]},
    #             "tombstone": {path: [owner, incarnation]}}
    # v1 (lists, no writers) upgrades on read: entries become
    # ("legacy", 0)-owned, which every rule below treats as dead.

    def _count(self, op: str) -> None:
        self.stats[op] = self.stats.get(op, 0) + 1

    @staticmethod
    def _upgrade(m: dict) -> dict:
        for k in ("pending", "tombstone"):
            v = m.get(k, {})
            m[k] = (
                {p: ["legacy", 0] for p in v} if isinstance(v, list) else v
            )
        m.setdefault("writers", {})
        m.setdefault("gen", 0)
        return m

    def _load(self) -> dict:
        """GET the manifest — once per public op, modelling a reader
        that may not share memory with the writer."""
        return self._load_with_etag()[0]

    def _load_with_etag(self) -> "tuple[dict, str | None]":
        self._count("manifest_get")
        try:
            data = self.store.get(self.manifest_key)
        except FileNotFoundError:
            return (
                self._upgrade({"gen": 0, "pending": {}, "tombstone": {}}),
                None,
            )
        return (
            self._upgrade(json.loads(data.decode())),
            hashlib.md5(data).hexdigest(),
        )

    def _mutate(self, delta) -> dict:
        """Load → ``delta(m)`` → conditional PUT, retried on CAS
        conflict (another writer committed in between; ``delta`` must
        therefore be re-applicable against a fresh manifest — every
        delta below is). Fencing and lazy registration both live in
        this loop: a delta from a superseded incarnation raises
        WriterFencedError instead of committing, and the first commit
        of this instance registers ``writers[owner] = incarnation`` in
        the SAME PUT (no extra round trip, no cost to read-only
        restarts)."""
        while True:
            m, etag = self._load_with_etag()
            current = int(m["writers"].get(self.owner, 0))
            if self._incarnation is not None and current != self._incarnation:
                raise WriterFencedError(
                    f"writer {self.owner}#{self._incarnation} superseded "
                    f"by #{current}"
                )
            claim = self._incarnation
            if claim is None:
                claim = current + 1
                m["writers"][self.owner] = claim
            if delta(m, claim) is False:  # delta: no commit is needed
                return m
            m["gen"] = int(m["gen"]) + 1
            self._count("manifest_put")
            try:
                self.store.put_if_match(
                    self.manifest_key, json.dumps(m).encode(), etag
                )
            except PreconditionFailedError:
                self._count("cas_conflict")
                continue
            self._incarnation = claim
            return m

    @staticmethod
    def _covered(path: str, prefixes) -> bool:
        return any(path == p or path.startswith(p + os.sep) for p in prefixes)

    def _suppressed(self, path: str, m: dict) -> bool:
        return self._covered(path, m["pending"]) or self._covered(
            path, m["tombstone"]
        )

    def _dead(self, ent: "list", m: dict) -> bool:
        """Can this (owner, incarnation) entry be proven crashed? Own
        entries: yes — any other incarnation of me is a previous me
        (and a CONCURRENT me is exactly what fencing forbids). Foreign
        entries: only when the recorded incarnation is below the
        owner's registered one, i.e. that incarnation is fenced and
        can never finish its rename."""
        owner, inc = ent[0], int(ent[1])
        if owner in ("legacy", self.owner):
            return True
        return inc < int(m["writers"].get(owner, 0))

    def recover(self) -> None:
        """Delete the physical garbage of crashed renames and clear
        their manifest entries — but ONLY entries this writer can
        prove dead (see ``_dead``); a concurrent writer's in-flight
        rename is left alone. Idempotent; the suppressions keep the
        contract true even BEFORE this runs, so a second crash during
        recovery loses nothing."""
        m = self._load()
        mine_p = {
            p: e for p, e in m["pending"].items() if self._dead(e, m)
        }
        mine_t = {
            p: e for p, e in m["tombstone"].items() if self._dead(e, m)
        }
        if not mine_p and not mine_t:
            return
        # FENCE FIRST: commit this incarnation's registration before
        # touching any bytes, so the incarnation that staged these
        # entries can never COMMIT a rename whose partial copy is
        # about to be deleted (metadata-plane safety; see the lease
        # caveat in the module docstring for the data plane)
        if self._incarnation is None:
            self._mutate(lambda m, claim: None)
        # conditional-data mode: pending renames whose src is intact
        # roll FORWARD — resume the conditional copy (landed keys
        # skip) and commit. This is what makes the data plane safe: a
        # predecessor's late copies are byte-identical conditional
        # creates against the SAME dst generation, never clobbers of a
        # newer one.
        rolled: "set[str]" = set()
        if self.conditional_data:
            for dst, e in sorted(mine_p.items()):
                rsrc = e[2] if len(e) > 2 else None
                if rsrc and (
                    self.store.is_object(rsrc) or self.store.has_prefix(rsrc)
                ):
                    self._count("roll_forward")
                    self._copy_tree(rsrc, dst)
                    self._finish_rename(rsrc, dst)
                    rolled.add(dst)
        for dst in sorted(set(mine_p) - rolled):
            # partial copy: dst never committed — roll back
            self._count("delete_prefix")
            self.store.delete_prefix(dst)
        for src in sorted(mine_t):    # committed: finish the src delete
            self._count("delete_prefix")
            self.store.delete_prefix(src)

        # clear exactly the entries proven dead above — compared by
        # VALUE, not path: on a CAS retry the path may have been
        # re-staged by a newer (live) incarnation whose entry must
        # survive (roll-forward entries were already cleared by their
        # own commit)
        def clear(m: dict, claim: int):
            m["pending"] = {
                p: e
                for p, e in m["pending"].items()
                if p in rolled or mine_p.get(p) != e
            }
            m["tombstone"] = {
                p: e
                for p, e in m["tombstone"].items()
                if mine_t.get(p) != e
            }

        self._mutate(clear)

    def fence(self, owner: str) -> None:
        """Explicit takeover of a (presumed-dead) writer: bump its
        registered incarnation — from that single CAS'd commit on, the
        old incarnation's commits raise WriterFencedError — then
        delete its garbage and clear its entries. Re-runnable from any
        crash point: the bump is idempotent-safe (a second bump fences
        nothing new) and the cleanup is ``recover``'s."""
        if owner == self.owner:
            raise ValueError("a writer cannot fence itself")

        def bump(m: dict, claim: int):
            m["writers"][owner] = int(m["writers"].get(owner, 0)) + 1

        m = self._mutate(bump)
        dead_p = {
            p: e
            for p, e in m["pending"].items()
            if e[0] == owner and int(e[1]) < m["writers"][owner]
        }
        dead_t = {
            p: e
            for p, e in m["tombstone"].items()
            if e[0] == owner and int(e[1]) < m["writers"][owner]
        }
        for dst in sorted(dead_p):
            self._count("delete_prefix")
            self.store.delete_prefix(dst)
        for src in sorted(dead_t):
            self._count("delete_prefix")
            self.store.delete_prefix(src)

        # value-compared for the same CAS-retry reason as recover()
        def clear(m: dict, claim: int):
            if not (dead_p or dead_t):
                return False
            m["pending"] = {
                p: e
                for p, e in m["pending"].items()
                if dead_p.get(p) != e
            }
            m["tombstone"] = {
                p: e
                for p, e in m["tombstone"].items()
                if dead_t.get(p) != e
            }

        self._mutate(clear)

    # -- read primitives (physical view + manifest suppressions) ------

    def exists(self, path: str) -> bool:
        if path in self._spool_paths:
            return os.path.exists(path)
        m = self._load()
        if self._suppressed(path, m):
            return False
        return self.store.is_object(path) or self.store.has_prefix(path)

    def isdir(self, path: str) -> bool:
        m = self._load()
        if self._suppressed(path, m):
            return False
        return self.store.has_prefix(path)

    def listdir(self, path: str) -> "list[str]":
        m = self._load()
        if self._suppressed(path, m):
            return []
        if self.store.is_object(path):
            raise NotADirectoryError(
                f"state root exists but is not a directory: {path}"
            )
        out = []
        for n in self.store.listdir(path):
            full = os.path.join(path, n)
            if full == self.manifest_key or self._suppressed(full, m):
                continue
            out.append(n)
        return out

    def read_text(self, path: str) -> str:
        if path in self._spool_paths:
            with open(path) as fh:
                return fh.read()
        m = self._load()
        if self._suppressed(path, m):
            raise FileNotFoundError(path)
        self._count("get")
        return self.store.get(path).decode()

    # -- non-atomic mutators ------------------------------------------

    def makedirs(self, path: str) -> None:
        self.store.makedirs(path)

    def remove(self, path: str) -> None:
        if path in self._spool_paths:
            self._spool_paths.discard(path)
            os.remove(path)
            return
        self._count("delete")
        self.store.delete(path)

    def rmtree(self, path: str) -> None:
        self._count("delete_prefix")
        self.store.delete_prefix(path)

        # drop any leftover suppression for a tree the caller is
        # explicitly discarding (e.g. swap_dir_in's rmtree(old))
        def clear(m: dict, claim: int):
            pend = {
                p: e
                for p, e in m["pending"].items()
                if not self._covered(p, [path])
            }
            tomb = {
                p: e
                for p, e in m["tombstone"].items()
                if not self._covered(p, [path])
            }
            if len(pend) == len(m["pending"]) and len(tomb) == len(
                m["tombstone"]
            ):
                return False
            m["pending"], m["tombstone"] = pend, tomb

        self._mutate(clear)

    def mkstemp_in(self, dir_path: str, prefix: str) -> "tuple[int, str]":
        """LOCAL spool, not an in-store temp: the object store has no
        co-located-temp idiom, and the following ``replace_file`` is a
        single atomic PUT regardless of where the bytes came from."""
        fd, tmp = tempfile.mkstemp(dir=self._spool, prefix=prefix)
        self._spool_paths.add(tmp)
        return fd, tmp

    # -- atomic mutators ----------------------------------------------

    def replace_file(self, src: str, dst: str) -> None:
        """Atomic by PUT: one whole-object write IS the commit."""
        m = self._load()
        if self._suppressed(dst, m):
            raise FileNotFoundError(
                f"replace_file target {dst} is inside an in-flight rename"
            )
        if src in self._spool_paths:
            with open(src, "rb") as fh:
                data = fh.read()
            self._count("put")
            self.store.put(dst, data)
            self._spool_paths.discard(src)
            os.remove(src)
            return
        self._count("get")
        data = self.store.get(src)
        self._count("put")
        self.store.put(dst, data)
        self._count("delete")
        self.store.delete(src)

    def _overlapping(self, path: str, m: dict) -> "dict[str, list]":
        """Every pending/tombstone entry whose subtree overlaps
        ``path`` in either direction (an entry covering it, or one
        nested under it)."""
        out = {}
        for k in ("pending", "tombstone"):
            for p, e in m[k].items():
                if self._covered(p, [path]) or self._covered(path, [p]):
                    out[p] = e
        return out

    def rename(self, src: str, dst: str) -> None:
        """The manifest-commit rename — see the module docstring. Works
        for a single object or a whole tree; dst must not pre-exist.
        Multi-writer: the stage commit is the serialization point —
        it re-checks, under CAS, that no LIVE writer's in-flight
        entry overlaps dst while claiming it for this writer."""
        m = self._load()
        if self._suppressed(src, m) or not (
            self.store.is_object(src) or self.store.has_prefix(src)
        ):
            raise FileNotFoundError(f"rename source missing: {src}")
        if self.store.is_object(dst) or self.store.has_prefix(dst):
            if not self._suppressed(dst, m):
                raise FileExistsError(f"rename target exists: {dst}")
            live = {
                p: e
                for p, e in self._overlapping(dst, m).items()
                if not self._dead(e, m)
            }
            if live:
                raise FileExistsError(
                    f"rename target {dst} is in-flight by a live "
                    f"writer: {sorted(live)}"
                )
            # conditional-data RESUME: the leftovers are OUR OWN dead
            # rename of the SAME (src, dst) pair — re-claim the entry
            # (dst stays suppressed throughout, no clear→stage window)
            # and continue the conditional copy; landed keys skip.
            ent = m["pending"].get(dst)
            if (
                self.conditional_data
                and ent is not None
                and len(ent) > 2
                and ent[2] == src
                and set(self._overlapping(dst, m)) == {dst}
            ):
                def reclaim(m: dict, claim: int):
                    e = m["pending"].get(dst)
                    if e is None or not self._dead(e, m) or (
                        len(e) > 2 and e[2] != src
                    ):
                        raise FileExistsError(
                            f"rename target {dst} contested at resume"
                        )
                    m["pending"][dst] = [self.owner, claim, src]

                self._mutate(reclaim)
                self._copy_tree(src, dst)
                self._finish_rename(src, dst)
                return
            # suppressed physical leftovers under dst — a PROVABLY DEAD
            # rename's partial copy (pending) or undeleted source
            # (tombstone). They must be CLEARED, not overwritten: keys
            # outside the new copy's set would otherwise become visible
            # as part of dst at the commit
            self._count("delete_prefix")
            self.store.delete_prefix(dst)

            def clear_dead(m: dict, claim: int):
                dead = {
                    p
                    for p, e in self._overlapping(dst, m).items()
                    if self._dead(e, m)
                }
                if not dead:
                    return False
                m["pending"] = {
                    p: e for p, e in m["pending"].items() if p not in dead
                }
                m["tombstone"] = {
                    p: e for p, e in m["tombstone"].items() if p not in dead
                }

            self._mutate(clear_dead)

        # 1. stage: dst suppressed — and CLAIMED — before any byte
        # lands (recording src so recovery can roll the rename FORWARD
        # in conditional-data mode). Any overlapping entry still
        # present at this CAS'd commit is a race this writer lost (a
        # live writer's in-flight rename, or fresh leftovers needing
        # the recovery path): error out, never clobber.
        def stage(m: dict, claim: int):
            if self._overlapping(dst, m):
                raise FileExistsError(
                    f"rename target {dst} contested at stage: "
                    f"{sorted(self._overlapping(dst, m))}"
                )
            m["pending"][dst] = [self.owner, claim, src]

        self._mutate(stage)
        # 2. copy (crash here → recover() rolls back, or forward in
        # conditional-data mode)
        self._copy_tree(src, dst)
        # 3-5. commit flip, physical src delete, tombstone clear
        self._finish_rename(src, dst)

    def _copy_tree(self, src: str, dst: str) -> None:
        """Copy every object under src to dst. In conditional-data
        mode every copy is a CONDITIONAL CREATE (copy_if_absent):
        a key that already exists is SKIPPED — safe because src is
        immutable for the duration of the rename, so any existing dst
        key (a predecessor incarnation's landed copy) is byte-identical
        — which makes retries resumable and late zombie copies
        harmless instead of corrupting."""
        if self.store.is_object(src):
            pairs = [(src, dst)]
        else:
            base = src.rstrip(os.sep)
            pairs = [
                (k, os.path.join(dst, os.path.relpath(k, base)))
                for k in self.store.list_prefix(base)
            ]
        for s, d in pairs:
            if self.conditional_data:
                try:
                    self._count("copy_cond")
                    self.store.copy_if_absent(s, d)
                except PreconditionFailedError:
                    self._count("copy_skipped")
            else:
                self._count("copy")
                self.store.copy(s, d)

    def _finish_rename(self, src: str, dst: str) -> None:
        """Steps 3-5 of the manifest-commit rename — shared by the
        normal path and conditional-data roll-forward recovery."""

        # 3. COMMIT: one PUT flips dst visible and src suppressed
        def commit(m: dict, claim: int):
            m["pending"] = {
                p: e for p, e in m["pending"].items() if p != dst
            }
            m["tombstone"][src] = [self.owner, claim]

        self._mutate(commit)
        # 4. physical delete of the now-invisible src
        self._count("delete_prefix")
        self.store.delete_prefix(src)

        # 5. clear the tombstone
        def clear(m: dict, claim: int):
            m["tombstone"] = {
                p: e for p, e in m["tombstone"].items() if p != src
            }

        self._mutate(clear)
