"""Durable version ledger + cross-process MVCC.

The reference persists transaction state in a trie-backed manager
(``LowLevelDB/src/Database/LowLevelDB/MVCC.hs:126-157``) so a database
survives close/reopen (``STMGraph/test/.../RawSpec.hs:45-59``) and many
concurrent writers interleave safely (``RawSpec.hs:60-76``, 10 async
writers × 25 ops). Spark-first, durability is a **write-ahead ledger of
committed versions** on shared storage:

- ``{root}/ledger/v{N:012d}.json`` — exactly one file per committed
  version. Publishing is **compare-and-swap**: the entry is written to a
  unique temp file and ``os.link``-ed to its final name — POSIX link(2)
  fails with EEXIST if version N already exists, so exactly one committer
  wins each version; losers re-check first-committer-wins conflicts
  against the new entries and retry at N+1. (On HDFS/S3 the same CAS is
  rename-without-overwrite / conditional PUT.)
- Each entry carries EITHER a serialized **mutation-op log** (row-level
  commits — tiny JSON, folded on open) OR a **materialized snapshot
  path** (bulk DataFrame ingests, whose op log would be the data itself,
  plus every ``checkpoint_every``-th commit so the op suffix stays
  bounded — the classic log+checkpoint recovery design). A checkpoint
  writes the head; its reread is the next base, with an empty overlay.
- Open/refresh reconstructs state: read the latest materialized snapshot
  at-or-below the head, fold the ops of the later entries into one
  driver-side overlay per table (``mutations.apply_op``), restore the
  persisted index registry (the snapshot derives its indexes from it).

Write-sets ride in each entry, so first-committer-wins holds ACROSS
processes exactly as it does in-process: a transaction in engine B
conflicts with a commit engine A published after B's start version.

Scale notes: ledger entries are metadata (ids + op descriptors), never
data; materialized snapshots go through ``GraphSnapshot.write``'s
partitioned parquet layout; reconstruction reads one snapshot + folds
a bounded op suffix, so the head's plan is that snapshot's scans filtered
and unioned with one local relation per table. Id allocation stays
per-engine — concurrent processes inserting fresh entities should
partition the id space (pass explicit ids) or treat ``WriteConflict`` as
the retry signal, the same contract the reference's STM retry loop
exposes.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import replace
from typing import Mapping

from pyspark.sql import SparkSession

from hgraphstorage_spark import mutations
from hgraphstorage_spark.engine import GraphEngine
from hgraphstorage_spark.snapshot import GraphSnapshot


# -- op serialization --------------------------------------------------------
# bytes are the one property type JSON can't carry; they travel tagged as
# {"__bytes__": hex}. A JSON value that is itself a one-key dict under a
# tag key is escaped as {"__json__": value}, so it decodes as written.
_TAGS = ("__bytes__", "__json__")


def _enc(v):
    if isinstance(v, (bytes, bytearray)):
        return {"__bytes__": bytes(v).hex()}
    if isinstance(v, (list, tuple)):
        return [_enc(x) for x in v]
    if isinstance(v, Mapping):
        out = {k: _enc(x) for k, x in v.items()}
        return {"__json__": out} if len(out) == 1 and next(iter(out)) in _TAGS else out
    return v


def _dec(v):
    if isinstance(v, dict):
        if set(v) == {"__bytes__"}:
            return bytes.fromhex(v["__bytes__"])
        if set(v) == {"__json__"}:
            v = v["__json__"]
        return {k: _dec(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_dec(x) for x in v]
    return v


# -- pluggable CAS publish backends ------------------------------------------
# The one primitive the whole durable design rests on: atomically create the
# version file iff it does not already exist. Different filesystems expose it
# differently, so it is a backend interface (VERDICT r3 task 3; the reference's
# persistent manager, MVCC.hs:126-157, assumes its single trie file — we
# instead assume only this primitive of the shared store):
#   POSIX            link(2)                       -> LinkCas
#   HDFS / ABFS      rename-without-overwrite      -> RenameNoReplaceCas
#   S3 / GCS         conditional PUT If-None-Match -> ConditionalPutCas:
#                    publishes the payload bytes directly (no remote tmp
#                    file) through an injectable ObjectStore whose one
#                    method maps to put_object(IfNoneMatch="*") / the GCS
#                    generation-match insert; a LocalAtomicObjectStore
#                    double runs the identical protocol in tests.


class CasBackend:
    """Atomically create ``dst`` from the fully-written, fsync-ed private
    file ``tmp`` iff ``dst`` does not exist. True = this caller won the
    version; False = someone else already published it. ``tmp`` may be
    consumed (moved) on success; the caller's cleanup tolerates that.
    Readers must never observe a partial ``dst`` under either outcome."""

    name = "abstract"

    def publish_file(self, tmp: str, dst: str) -> bool:
        raise NotImplementedError


class LinkCas(CasBackend):
    """POSIX link(2): hard-link the temp entry to its final name. EEXIST
    means another committer won. Atomic on any POSIX filesystem; the
    default where hard links exist."""

    name = "link"

    def publish_file(self, tmp: str, dst: str) -> bool:
        try:
            os.link(tmp, dst)
            return True
        except FileExistsError:
            return False


class RenameNoReplaceCas(CasBackend):
    """rename-without-overwrite: the HDFS ``FileSystem.rename`` / ABFS
    atomic-rename semantics (dest-exists -> failure, no clobber). Locally
    realized with Linux ``renameat2(RENAME_NOREPLACE)`` so the no-replace
    check is atomic in the kernel, not a racy exists()+rename(). Raises
    ``OSError`` at construction where the syscall is unavailable — an
    object-store deployment supplies its own conditional-write impl."""

    name = "rename-noreplace"
    _RENAME_NOREPLACE = 1
    _AT_FDCWD = -100

    def __init__(self):
        import ctypes
        import ctypes.util

        libc_path = ctypes.util.find_library("c")
        self._libc = ctypes.CDLL(libc_path, use_errno=True)
        if not hasattr(self._libc, "renameat2"):
            raise OSError("renameat2 is not available in this libc")
        self._ctypes = ctypes

    def publish_file(self, tmp: str, dst: str) -> bool:
        import errno as _errno

        rc = self._libc.renameat2(
            self._AT_FDCWD,
            os.fsencode(tmp),
            self._AT_FDCWD,
            os.fsencode(dst),
            self._RENAME_NOREPLACE,
        )
        if rc == 0:
            return True
        err = self._ctypes.get_errno()
        if err == _errno.EEXIST:
            return False
        raise OSError(err, os.strerror(err), tmp)


class ObjectStore:
    """Minimal object-store write protocol behind :class:`ConditionalPutCas`
    (VERDICT r4 task 6): atomically create ``key`` holding ``data`` iff the
    key does not exist, with WHOLE-OBJECT visibility (readers see the full
    payload or nothing — object stores give this natively). True = created;
    False = the key already existed (the S3 412 / GCS 409 outcome).

    Production bindings are one method each and carry no tmp file:
      S3   put_object(..., IfNoneMatch="*")  -> catch the 412 Precondition
      GCS  insert with x-goog-if-generation-match: 0 -> catch the 412/409
    """

    def put_if_none_match(self, key: str, data: bytes) -> bool:
        raise NotImplementedError


class LocalAtomicObjectStore(ObjectStore):
    """File-backed double honoring the conditional-PUT contract for
    tests/dev (no cloud SDKs in this environment): stage the payload in a
    private sibling file (fsync-ed), then one atomic create-iff-absent
    link(2) — emulating the whole-object atomicity a real object store
    provides internally. Safe across processes on a shared filesystem, so
    the 10-writer stress suite exercises the protocol for real."""

    def put_if_none_match(self, key: str, data: bytes) -> bool:
        stage = f"{key}.put-{os.getpid()}-{uuid.uuid4().hex}"
        fd = os.open(stage, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            os.write(fd, data)
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(stage, key)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(stage)


class RacingObjectStore(ObjectStore):
    """Test double injecting a DETERMINISTIC lost race: before this
    client's put on a key matching ``lose_substring``, a simulated
    competitor publishes ``rival_payload`` under the same key first — so
    the conditional PUT observes its precondition failure (the 412 path)
    reliably, not just under scheduler luck."""

    def __init__(
        self,
        inner: ObjectStore | None = None,
        lose_substring: str | None = None,
        rival_payload: bytes = b"{}",
    ):
        # None = never lose (the documented 'a key MATCHING
        # lose_substring' contract; '' would match every key and turn
        # the whole store into forced losses)
        self.inner = inner if inner is not None else LocalAtomicObjectStore()
        self.lose_substring = lose_substring
        self.rival_payload = rival_payload

    def put_if_none_match(self, key: str, data: bytes) -> bool:
        if self.lose_substring is not None and self.lose_substring in key:
            self.inner.put_if_none_match(key, self.rival_payload)
        return self.inner.put_if_none_match(key, data)


class ConditionalPutCas(CasBackend):
    """S3/GCS-style conditional PUT: read the fully-written local ``tmp``
    payload and issue ONE ``put_if_none_match`` against the injected
    :class:`ObjectStore`; a precondition failure is the lost CAS. Unlike
    the two POSIX backends there is no remote tmp file to move — the
    object store materializes the whole payload atomically or not at all,
    which is exactly the publish primitive the ledger contract needs."""

    name = "conditional-put"

    def __init__(self, store: ObjectStore | None = None):
        self.store = store if store is not None else LocalAtomicObjectStore()

    def publish_file(self, tmp: str, dst: str) -> bool:
        with open(tmp, "rb") as f:
            data = f.read()
        return self.store.put_if_none_match(dst, data)


def default_cas() -> CasBackend:
    return LinkCas()


# -- the file ledger ---------------------------------------------------------


class VersionLedger:
    """File-per-version commit ledger with atomic CAS publish. Pure
    metadata — safe to drive from any process on a shared filesystem.
    ``cas`` selects the publish primitive (default POSIX link(2); see
    :class:`CasBackend` for the HDFS/S3 mappings)."""

    def __init__(self, root: str, cas: CasBackend | None = None):
        self.root = root
        self.cas = cas if cas is not None else default_cas()
        self.ledger_dir = os.path.join(root, "ledger")
        self.versions_dir = os.path.join(root, "versions")
        os.makedirs(self.ledger_dir, exist_ok=True)
        os.makedirs(self.versions_dir, exist_ok=True)

    def _path(self, version: int) -> str:
        return os.path.join(self.ledger_dir, f"v{version:012d}.json")

    def head_version(self) -> int:
        versions = [
            int(name[1:13])
            for name in os.listdir(self.ledger_dir)
            if name.startswith("v") and name.endswith(".json")
        ]
        return max(versions, default=0)

    def read_entries(self, after: int = 0) -> list[dict]:
        """All committed entries with version > ``after``, version order."""
        out = []
        for name in sorted(os.listdir(self.ledger_dir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            v = int(name[1:13])
            if v > after:
                try:
                    with open(os.path.join(self.ledger_dir, name)) as f:
                        out.append(json.load(f))
                except FileNotFoundError:
                    # a concurrent compact() unlinked it between listdir and
                    # open — by the safety rule it was older than a
                    # checkpoint this reader will find anyway
                    continue
        return out

    def try_publish(self, version: int, payload: dict) -> bool:
        """Atomically claim ``version``. The payload is fully written to a
        private temp file first, then CAS-published into place via the
        configured backend — readers can never observe a partial entry,
        and a lost CAS means another committer won this version (caller
        re-checks conflicts and retries)."""
        payload = dict(payload, version=version)
        fd, tmp = tempfile.mkstemp(dir=self.ledger_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
                f.flush()
                os.fsync(f.fileno())
            return self.cas.publish_file(tmp, self._path(version))
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass  # a rename-style backend consumed the temp file

    def new_snapshot_dir(self, version: int) -> tuple[str, str]:
        """A collision-free materialization target: two committers racing
        for version N must never write the same parquet dir, so the dir
        name carries a uuid and the winning entry records which one is
        live (losers leave unreferenced orphans, reclaimable by vacuum)."""
        rel = os.path.join("versions", f"v{version:012d}-{uuid.uuid4().hex[:8]}")
        return rel, os.path.join(self.root, rel)


class DurableGraphEngine(GraphEngine):
    """A ``GraphEngine`` whose commits publish to a :class:`VersionLedger`
    — reopening the same root (same or different process) sees every
    committed version, and first-committer-wins holds across engines."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        checkpoint_every: int = 16,
        cas: CasBackend | None = None,
    ):
        self.ledger = VersionLedger(root, cas=cas)
        self.root = root
        self.checkpoint_every = checkpoint_every
        head = self.ledger.head_version()
        snap = self._reconstruct(spark, head) if head > 0 else None
        super().__init__(spark, snapshot=snap)
        if snap is not None:
            self._ledger[-1] = snap  # keep the reconstructed version id

    # -- state reconstruction (open / refresh / time travel) ----------
    def _reconstruct(self, spark: SparkSession, version: int) -> GraphSnapshot:
        entries = [e for e in self.ledger.read_entries() if e["version"] <= version]
        if not entries and version > 0:
            raise KeyError(
                f"version {version} predates the compaction horizon "
                "(its ledger entries were folded into a later checkpoint)"
            )
        ckpt = next((i for i in reversed(range(len(entries))) if entries[i].get("snapshot")), -1)
        if ckpt < 0:
            snap = GraphSnapshot.empty(spark)
        else:
            path = os.path.join(self.root, entries[ckpt]["snapshot"])
            snap = GraphSnapshot.read(spark, path, version=entries[ckpt]["version"])
        ops = [_dec(op) for e in entries[ckpt + 1 :] for op in e.get("ops") or []]
        snap = mutations.apply_op(snap, *ops)
        registry = tuple(
            (name, tuple(labels), tuple(props))
            for name, labels, props in (entries[-1]["registry"] if entries else [])
        )
        return replace(snap, index_registry=registry, version=version)

    def _refresh(self) -> None:
        head = self.ledger.head_version()
        if head > self._ledger[-1].version:
            self._ledger.append(self._reconstruct(self.spark, head))

    def snapshot_at(self, version: int) -> GraphSnapshot:
        for s in self._ledger:
            if s.version == version:
                return s
        if 0 < version <= self.ledger.head_version():
            return self._reconstruct(self.spark, version)
        if version == 0:
            return GraphSnapshot.empty(self.spark)
        raise KeyError(f"no committed snapshot version {version}")

    @property
    def versions(self) -> list[int]:
        return [0] + [e["version"] for e in self.ledger.read_entries()]

    def vacuum(self) -> list[str]:
        """Delete orphaned snapshot materializations — dirs written by
        committers that lost their CAS race. Safe rule: an orphan
        ``v{N}-uuid`` with N <= head can never become referenced
        (version N is already claimed by a different entry); an
        in-flight committer for head+1 is untouched. Returns the
        removed relative paths."""
        import shutil

        head = self.ledger.head_version()
        live = {
            e["snapshot"] for e in self.ledger.read_entries() if e.get("snapshot")
        }
        removed = []
        for name in os.listdir(self.ledger.versions_dir):
            rel = os.path.join("versions", name)
            if rel in live or not name.startswith("v"):
                continue
            try:
                v = int(name[1:13])
            except ValueError:
                continue
            if v <= head:
                shutil.rmtree(os.path.join(self.ledger.versions_dir, name), ignore_errors=True)
                removed.append(rel)
        return removed

    def compact(self) -> dict:
        """Bound the ledger: drop every entry OLDER than the newest
        checkpointed (snapshot-bearing) entry, then vacuum the
        snapshot dirs nothing references anymore. The reference keeps
        full history in its trie-backed manager; an unbounded op-log
        on a 100 TB store is an operational liability, so truncation
        is explicit and the trade is stated: time travel to versions
        before the horizon raises ``KeyError`` afterwards (the data
        needed to rebuild them is folded into the checkpoint).

        Concurrency-safe by the same argument as ``vacuum``: entries
        below an existing checkpoint can never be needed to
        reconstruct any version >= the horizon, and concurrent
        readers tolerate the listdir/open race (``read_entries``
        skips vanished files). Returns {"horizon", "removed_entries",
        "removed_dirs"}."""
        entries = self.ledger.read_entries()
        horizon = max(
            (e["version"] for e in entries if e.get("snapshot")), default=0
        )
        removed = 0
        if horizon:
            for e in entries:
                if e["version"] < horizon:
                    try:
                        os.unlink(self.ledger._path(e["version"]))
                        removed += 1
                    except FileNotFoundError:
                        pass
        dirs = self.vacuum()
        # drop in-memory pins below the horizon too (they hold plans
        # over parquet dirs vacuum may have removed)
        self._ledger = [
            s for s in self._ledger if s.version == 0 or s.version >= horizon
        ] or [GraphSnapshot.empty(self.spark)]
        return {"horizon": horizon, "removed_entries": removed, "removed_dirs": dirs}

    # -- conflict trail + publish (the cross-process halves) ----------
    def _entries_after(self, version: int):
        return [
            (e["version"], set(e["writes"]) if e["writes"] is not None else None)
            for e in self.ledger.read_entries(after=version)
        ]

    def _try_publish(self, snapshot: GraphSnapshot, writes, ops, kind: str) -> bool:
        v = snapshot.version
        payload = {
            "kind": kind,
            "writes": sorted(writes) if writes is not None else None,
            "ops": None,
            "snapshot": None,
            "registry": [
                [name, list(labels), list(props)]
                for name, labels, props in snapshot.index_registry
            ],
        }
        materialize = ops is None or v % self.checkpoint_every == 0
        if materialize:
            rel, full = self.ledger.new_snapshot_dir(v)
            snapshot.write(full)
            payload["snapshot"] = rel
        else:
            payload["ops"] = [_enc(list(op)) for op in ops]
        if not self.ledger.try_publish(v, payload):
            return False
        if materialize:
            # swap in the parquet-backed plan: bounded lineage for this
            # process, and identical to what any other process reads
            snapshot = replace(
                GraphSnapshot.read(self.spark, full, version=v),
                index_registry=snapshot.index_registry,
                max_node_id=snapshot.max_node_id,
                max_edge_id=snapshot.max_edge_id,
            )
        self._ledger.append(snapshot)
        return True


def open_graph(
    spark: SparkSession,
    root: str,
    checkpoint_every: int = 16,
    cas: CasBackend | None = None,
):
    """Open (or create) a durable graph store at ``root`` — the reference's
    ``open``/``close`` session surface (S1) with a persistent ledger.
    ``cas`` selects the publish primitive for the shared filesystem
    (default POSIX link(2); pass :class:`RenameNoReplaceCas` for
    HDFS-style stores without hard links)."""
    return DurableGraphEngine(spark, root, checkpoint_every, cas)
