"""Durable ledger + cross-process MVCC tests — ports of the reference's
persistence and concurrency scenarios:

- close/reopen keeps committed state (``STMGraph/test/.../RawSpec.hs:45-59``)
- many concurrent writers interleave safely, 10 async writers × 25 ops
  (``RawSpec.hs:60-76``) — here true OS processes racing the file CAS
- trie-backed persistent TransactionManager semantics
  (``LowLevelDB/src/Database/LowLevelDB/MVCC.hs:126-157``): a reopened or
  concurrent engine sees committed versions and first-committer-wins
  holds across engine instances.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import tempfile

import pytest

from hgraphstorage_spark import DurableGraphEngine, WriteConflict, open_graph
from hgraphstorage_spark.store import (
    ConditionalPutCas,
    LinkCas,
    RacingObjectStore,
    RenameNoReplaceCas,
    VersionLedger,
    _dec,
    _enc,
)


def _cas(name: str):
    if name == "link":
        return LinkCas()
    if name == "conditional-put":
        return ConditionalPutCas()
    return RenameNoReplaceCas()


# Both publish primitives must satisfy the identical protocol: link(2) for
# POSIX shared filesystems, rename-without-overwrite (renameat2
# RENAME_NOREPLACE locally; HDFS/ABFS atomic rename in production) for
# stores without hard links. Every CAS-protocol test runs against both.
# ...plus the S3/GCS conditional-PUT protocol (VERDICT r4 task 6) through
# its file-backed ObjectStore double. Every CAS-protocol test runs x3.
CAS_BACKENDS = ["link", "rename-noreplace", "conditional-put"]


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="hgs_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# -- the pure-file CAS protocol (no Spark) -----------------------------------


def _ledger_writer(root: str, wid: int, n_ops: int, out, cas_name: str = "link"):
    ledger = VersionLedger(root, cas=_cas(cas_name))
    mine = []
    for k in range(n_ops):
        while True:
            v = ledger.head_version() + 1
            if ledger.try_publish(v, {"writer": wid, "op": k, "writes": [], "ops": []}):
                mine.append(v)
                break
    out.put((wid, mine))


@pytest.mark.parametrize("cas_name", CAS_BACKENDS)
class TestLedgerCAS:
    def test_ten_writers_twenty_five_ops(self, root, cas_name):
        """RawSpec.hs:60-76 parity at the protocol layer: 10 OS processes
        × 25 publishes each. The CAS must serialize them into exactly 250
        dense versions with no lost or duplicated claim."""
        n_writers, n_ops = 10, 25
        q = mp.Queue()
        procs = [
            mp.Process(target=_ledger_writer, args=(root, w, n_ops, q, cas_name))
            for w in range(n_writers)
        ]
        for p in procs:
            p.start()
        results = [q.get(timeout=120) for _ in range(n_writers)]
        for p in procs:
            p.join(timeout=60)
        claimed = [v for _, mine in results for v in mine]
        assert sorted(claimed) == list(range(1, n_writers * n_ops + 1))
        for _, mine in results:
            assert mine == sorted(mine)  # per-writer versions increase
        ledger = VersionLedger(root)
        entries = ledger.read_entries()
        assert [e["version"] for e in entries] == list(range(1, 251))
        # every (writer, op) landed exactly once
        seen = {(e["writer"], e["op"]) for e in entries}
        assert len(seen) == 250

    def test_partial_entry_never_visible(self, root, cas_name):
        """Entries become visible atomically: a reader scanning while a
        writer publishes sees only complete JSON."""
        ledger = VersionLedger(root, cas=_cas(cas_name))
        for v in range(1, 30):
            assert ledger.try_publish(v, {"writes": list(range(v)), "ops": []})
            for e in ledger.read_entries():
                assert e["writes"] == list(range(e["version"]))  # parses whole

    def test_lost_cas_returns_false(self, root, cas_name):
        ledger = VersionLedger(root, cas=_cas(cas_name))
        assert ledger.try_publish(1, {"writes": []})
        assert not ledger.try_publish(1, {"writes": [99]})
        assert ledger.read_entries()[0]["writes"] == []  # winner kept


def test_mixed_cas_backends_interoperate(root):
    """A link(2) publisher and a rename-noreplace publisher racing the
    SAME ledger still serialize into dense, unique versions — the two
    primitives are different syscalls over the same contract."""
    q = mp.Queue()
    procs = [
        mp.Process(
            target=_ledger_writer,
            args=(
                root, w, 10, q,
                ["link", "rename-noreplace", "conditional-put"][w % 3],
            ),
        )
        for w in range(6)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in range(6)]
    for p in procs:
        p.join(timeout=60)
    claimed = sorted(v for _, mine in results for v in mine)
    assert claimed == list(range(1, 61))


class TestOpSerialization:
    def test_bytes_roundtrip_nested(self):
        op = ["add_nodes", [["N", {"b": b"\x00\xff", "multi": [b"a", 1, "s"]}]], [1]]
        assert _dec(json.loads(json.dumps(_enc(op)))) == op

    def test_tag_shaped_json_roundtrip(self):
        """JSON values shaped like the bytes tag (or its escape) decode
        as written, not as binary."""
        op = [
            "set_properties", 1, "node",
            {"j": {"__bytes__": "00"}, "e": {"__json__": 1}, "b": b"\x00", "n": [{"__bytes__": "ff"}]},
        ]
        assert _dec(json.loads(json.dumps(_enc(op)))) == op
        assert _dec(json.loads(json.dumps(_enc({"__bytes__": "00"})))) == {"__bytes__": "00"}


# -- durable engine semantics (Spark) ----------------------------------------


class TestDurableEngine:
    def test_reopen_preserves_committed_state(self, spark, root):
        """RawSpec.hs:45-59: close/reopen — a fresh engine on the same
        root sees all committed versions, data, and indexes."""
        a = DurableGraphEngine(spark, root)
        ids = a.add_nodes([("P", {"name": "ada"}), ("P", {"name": "bob"})])
        a.add_edge(ids[0], ids[1], "knows", {"w": 3})
        v1 = a.commit()
        a.add_index("Name", labels=["P"], prop_names=["name"])
        a.update_node(ids[1], "P", {"name": "bo"})
        a.commit()

        b = DurableGraphEngine(spark, root)
        assert b.committed.version == a.committed.version
        assert b.committed.nb_nodes() == 2 and b.committed.nb_edges() == 1
        assert [r["owner_id"] for r in b.index_lookup("Name", "ada").collect()] == [ids[0]]
        assert b.index_lookup("Name", "bob").count() == 0  # update replayed
        assert b.snapshot_at(v1).nb_nodes() == 2
        assert b.versions == a.versions

    def test_open_graph_returns_durable_engine(self, spark, root):
        a, b = open_graph(spark, root), open_graph(spark, root)
        assert isinstance(a, DurableGraphEngine)
        assert type(a) is type(b)

    def test_uncommitted_writes_keep_history(self, spark, root):
        """A long uncommitted session materializes its staged plans; it
        never truncates the durable ledger."""
        eng = open_graph(spark, root, checkpoint_every=2)
        for i in range(3):
            eng.add_node("P", {"k": i})
            eng.commit()
        for i in range(64):
            eng.add_node("Q", {"k": i})
        assert eng.versions == [0, 1, 2, 3]
        assert eng.snapshot_at(1).nb_nodes() == 1
        assert eng.current.nb_nodes() == 67

    def test_reopened_allocator_never_remints(self, spark, root):
        """An explicit id below the store's largest, inserted after a
        reopen, must not lower the id high-water mark."""
        eng = open_graph(spark, root, checkpoint_every=2)
        ids = eng.add_nodes([("P", {}) for _ in range(10)])
        eng.commit()
        eng.delete_nodes([ids[4]])
        eng.commit()  # version 2 checkpoints
        assert eng.committed.max_node_id == max(ids)  # kept across the reread
        eng = open_graph(spark, root, checkpoint_every=2)
        eng.add_nodes([("P", {})], ids=[ids[4]])
        eng.commit()
        assert eng.add_node("P") not in ids
        eng.commit()
        node_ids = [r["id"] for r in eng.committed.nodes.collect()]
        assert len(node_ids) == len(set(node_ids)) == 11

    def test_tag_shaped_json_property_survives_reopen(self, spark, root):
        eng = open_graph(spark, root)
        nid = eng.add_node("P", {})
        eng.set_properties(nid, "node", {"j": {"__bytes__": "00"}, "b": b"\x00"})
        eng.commit()
        rows = open_graph(spark, root).committed.props.filter("owner_kind = 'node'").collect()
        got = {r["name"]: (r["dtype"], r["json_v"], r["bin_v"]) for r in rows}
        assert got == {
            "j": ("json", json.dumps({"__bytes__": "00"}), None),
            "b": ("binary", None, bytearray(b"\x00")),
        }

    def test_first_committer_wins_across_engines(self, spark, root):
        a = DurableGraphEngine(spark, root)
        ids = a.add_nodes([("P", {"k": 1}), ("P", {"k": 2})])
        a.commit()
        b = DurableGraphEngine(spark, root)
        ta, tb = a.begin(), b.begin()
        ta.update_node(ids[0], "P", {"k": 10})
        tb.update_node(ids[0], "P", {"k": 20})
        ta.commit()
        with pytest.raises(WriteConflict):
            tb.commit()

    def test_first_committer_wins_rename_cas_engines(self, spark, root):
        """Same MVCC contract on a store without hard links: both engines
        publish via rename-without-overwrite and the loser still sees the
        conflict (VERDICT r3 task 3 done-condition)."""
        a = DurableGraphEngine(spark, root, cas=RenameNoReplaceCas())
        ids = a.add_nodes([("P", {"k": 1}), ("P", {"k": 2})])
        a.commit()
        b = DurableGraphEngine(spark, root, cas=RenameNoReplaceCas())
        ta, tb = a.begin(), b.begin()
        ta.update_node(ids[0], "P", {"k": 10})
        tb.update_node(ids[0], "P", {"k": 20})
        ta.commit()
        with pytest.raises(WriteConflict):
            tb.commit()
        # a third engine (rename CAS) reconstructs the winner's value
        from hgraphstorage_spark.query_step import list_properties

        c = DurableGraphEngine(spark, root, cas=RenameNoReplaceCas())
        rows = list_properties(c.committed, ids[0]).collect()
        assert [(r["name"], r["values"]) for r in rows] == [("k", ["10"])]

    def test_first_committer_wins_conditional_put_engines(self, spark, root):
        """Same MVCC contract over the S3-style conditional PUT (VERDICT
        r4 task 6 done-condition): both engines publish through the
        object-store protocol and the loser sees the conflict; a mixed
        reader reconstructs the winner's value."""
        a = DurableGraphEngine(spark, root, cas=ConditionalPutCas())
        ids = a.add_nodes([("P", {"k": 1}), ("P", {"k": 2})])
        a.commit()
        b = DurableGraphEngine(spark, root, cas=ConditionalPutCas())
        ta, tb = a.begin(), b.begin()
        ta.update_node(ids[0], "P", {"k": 10})
        tb.update_node(ids[0], "P", {"k": 20})
        ta.commit()
        with pytest.raises(WriteConflict):
            tb.commit()
        from hgraphstorage_spark.query_step import list_properties

        c = DurableGraphEngine(spark, root)  # default link CAS reader
        rows = list_properties(c.committed, ids[0]).collect()
        assert [(r["name"], r["values"]) for r in rows] == [("k", ["10"])]

    def test_non_overlapping_concurrent_commits_both_land(self, spark, root):
        a = DurableGraphEngine(spark, root)
        ids = a.add_nodes([("P", {"k": 1}), ("P", {"k": 2})])
        a.commit()
        b = DurableGraphEngine(spark, root)
        ta, tb = a.begin(), b.begin()
        ta.update_node(ids[0], "P", {"k": 10})
        tb.update_node(ids[1], "P", {"k": 20})
        va = ta.commit()
        vb = tb.commit()  # replays onto a's head, no conflict
        assert vb == va + 1
        a._refresh()
        vals = {
            r["owner_id"]: int(r["int_v"])
            for r in a.current.props.filter("name = 'k'").collect()
        }
        assert vals == {ids[0]: 10, ids[1]: 20}

    def test_implicit_commit_conflicts_with_remote(self, spark, root):
        """The implicit single-writer path detects a commit published by
        ANOTHER engine while staging was open."""
        a = DurableGraphEngine(spark, root)
        a.add_node("P", {"k": 1})
        a.commit()
        b = DurableGraphEngine(spark, root)
        a.add_node("P", {"k": 2})  # staging open on a...
        b.add_node("P", {"k": 3})
        b.commit()  # ...b publishes first
        with pytest.raises(WriteConflict):
            a.commit()

    def test_bulk_ingest_materializes_and_conflicts(self, spark, root):
        a = DurableGraphEngine(spark, root)
        ids = a.add_nodes([("P", {"k": 1})])
        a.commit()
        t = a.begin()
        t.update_node(ids[0], "P", {"k": 9})
        nodes = spark.createDataFrame([(100, "Q"), (101, "Q")], "id long, label string")
        b = DurableGraphEngine(spark, root)
        b.add_nodes_df(nodes)
        b.commit()
        entries = b.ledger.read_entries()
        assert entries[-1]["writes"] is None  # unenumerated write-set
        assert entries[-1]["snapshot"]  # materialized, not op-replayed
        with pytest.raises(WriteConflict):
            t.commit()
        c = DurableGraphEngine(spark, root)
        assert c.committed.nb_nodes() == 3

    def test_checkpoint_interval_bounds_replay(self, spark, root):
        a = DurableGraphEngine(spark, root, checkpoint_every=3)
        for i in range(7):
            a.add_node("P", {"k": i})
            a.commit()
        entries = a.ledger.read_entries()
        kinds = {e["version"]: bool(e["snapshot"]) for e in entries}
        assert kinds == {1: False, 2: False, 3: True, 4: False, 5: False, 6: True, 7: False}
        b = DurableGraphEngine(spark, root, checkpoint_every=3)
        assert b.committed.nb_nodes() == 7
        ks = sorted(int(r["int_v"]) for r in b.current.props.filter("name = 'k'").collect())
        assert ks == list(range(7))

    def test_compact_bounds_ledger_and_keeps_state(self, spark, root):
        """compact() folds history before the newest checkpoint: entries
        below the horizon vanish, data and post-horizon time travel
        survive (also across reopen), pre-horizon time travel raises."""
        a = DurableGraphEngine(spark, root, checkpoint_every=3)
        for i in range(7):
            a.add_node("P", {"k": i})
            a.commit()
        assert len(a.ledger.read_entries()) == 7
        report = a.compact()
        assert report["horizon"] == 6  # newest snapshot-bearing entry
        assert report["removed_entries"] == 5  # v1..v5 folded away
        left = [e["version"] for e in a.ledger.read_entries()]
        assert left == [6, 7]
        # current state intact in this engine and on reopen
        assert a.committed.nb_nodes() == 7
        b = DurableGraphEngine(spark, root, checkpoint_every=3)
        assert b.committed.nb_nodes() == 7
        # post-horizon time travel still works; pre-horizon raises
        assert b.snapshot_at(6).nb_nodes() == 6
        with pytest.raises(KeyError):
            b.snapshot_at(2)
        # old checkpoint dirs are unreferenced after entry removal: gone
        dirs = os.listdir(os.path.join(root, "versions"))
        assert all(int(d[1:13]) >= 6 for d in dirs)
        # committing after compaction continues normally
        b.add_node("P", {"k": 99})
        b.commit()
        assert b.ledger.head_version() == 8

    def test_vacuum_removes_only_orphans(self, spark, root):
        """Lost-race materializations are reclaimable; referenced
        snapshots and potential in-flight (head+1) dirs survive."""
        a = DurableGraphEngine(spark, root, checkpoint_every=1)  # every commit materializes
        a.add_node("P", {"k": 1})
        a.commit()
        head = a.ledger.head_version()
        # fake a lost race at the current head and an in-flight dir ahead
        _, lost = a.ledger.new_snapshot_dir(head)
        os.makedirs(lost)
        _, inflight = a.ledger.new_snapshot_dir(head + 1)
        os.makedirs(inflight)
        removed = a.vacuum()
        assert [os.path.basename(p) for p in removed] == [os.path.basename(lost)]
        assert os.path.isdir(inflight)  # not yet losable — untouched
        b = DurableGraphEngine(spark, root)  # referenced snapshot still reads
        assert b.committed.nb_nodes() == 1

    def test_streaming_ingest_into_durable_store(self, spark, root, tmp_path):
        """S6 + durability composed: the mutation-stream sink publishes one
        DURABLE version per micro-batch — a reopened engine sees the full
        ingested graph without replaying the stream."""
        from pyspark.sql import functions as F  # noqa: F401

        from hgraphstorage_spark.streaming import mutation_stream_to_snapshots

        rows = [
            {"op": "add_node", "id": i, "src": None, "dst": None, "label": "N"}
            for i in range(1, 5)
        ] + [
            {"op": "add_edge", "id": 1, "src": 1, "dst": 2, "label": "e"},
            {"op": "add_edge", "id": 2, "src": 2, "dst": 3, "label": "e"},
        ]
        df = spark.createDataFrame(rows, "op string, id long, src long, dst long, label string")
        df.repartition(2).write.mode("overwrite").parquet(f"{tmp_path}/muts")
        stream = (
            spark.readStream.schema("op string, id long, src long, dst long, label string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp_path}/muts")
        )
        eng = DurableGraphEngine(spark, root)
        q = mutation_stream_to_snapshots(eng, stream, f"{tmp_path}/ckpt")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        reopened = DurableGraphEngine(spark, root)
        assert reopened.committed.nb_nodes() == 4
        assert reopened.committed.nb_edges() == 2
        assert reopened.committed.version >= 2  # one version per micro-batch

    def test_cross_process_engine_commit(self, spark, root):
        """A REAL second process (own JVM, own SparkSession) opens the
        store, commits a version, and this process refreshes to see it —
        the cross-process half of MVCC.hs's persistent manager."""
        import subprocess
        import sys

        a = DurableGraphEngine(spark, root)
        a.add_node("P", {"name": "local"})
        a.commit()
        script = f"""
import hgraphstorage_spark as hg
from hgraphstorage_spark import DurableGraphEngine
spark = hg.get_spark("store_child", shuffle_partitions=2)
eng = DurableGraphEngine(spark, {root!r})
assert eng.committed.version == 1, eng.committed.version
assert eng.committed.nb_nodes() == 1
eng.add_node("P", {{"name": "remote"}})
print("CHILD_COMMITTED", eng.commit())
"""
        env = dict(os.environ, PYTHONPATH="/root/repo")
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
        )
        assert "CHILD_COMMITTED 2" in proc.stdout, proc.stderr[-2000:]
        a._refresh()
        assert a.committed.version == 2
        names = sorted(r["text_v"] for r in a.current.props.filter("name = 'name'").collect())
        assert names == ["local", "remote"]


def test_conditional_put_deterministic_lost_race(root):
    """The 412 path, forced: a rival publishes every contended key first
    (RacingObjectStore), so this client's conditional PUT must report a
    lost CAS and the rival's payload must be what readers see."""
    cas = ConditionalPutCas(RacingObjectStore(lose_substring="ledger"))
    ledger = VersionLedger(root, cas=cas)
    assert not ledger.try_publish(1, {"writer": "me", "writes": [], "ops": []})
    # the winner (rival) kept the slot; a clean client sees v1 taken
    clean = VersionLedger(root)
    assert clean.head_version() == 1
    assert not clean.try_publish(1, {"writes": []})
