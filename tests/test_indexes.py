"""Index tests — ports of HGraphStorage IndexTest/APITest index scenarios
(``test/.../APITest.hs:128-174``, ``test/.../IndexTest.hs``)."""

from __future__ import annotations

import uuid

import pytest

from hgraphstorage_spark import DuplicateIndexKey, GraphEngine, T, schemas
from hgraphstorage_spark.engine import written_index_keys

from tests.conftest import bag


@pytest.fixture()
def actor_engine(spark):
    """APITest.hs:128-165 fixture: Actor nodes with firstName/lastName."""
    eng = GraphEngine(spark)
    eng.add_nodes(
        [
            ("Actor", {"firstName": "Tom", "lastName": "Hanks"}),
            ("Actor", {"firstName": "Meg", "lastName": "Ryan"}),
            ("Movie", {"lastName": "NotAnActor"}),  # label-scoped index must skip
        ]
    )
    eng.commit()
    return eng


class TestIndex:
    def test_retroactive_build_and_lookup(self, actor_engine):
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        hits = actor_engine.index_lookup("LastName", "Hanks")
        assert bag(hits, ["owner_id"]) == [(1,)]
        # label scoping: Movie's lastName not indexed
        assert actor_engine.index_lookup("LastName", "NotAnActor").count() == 0

    def test_prefix_scan(self, actor_engine):
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        assert bag(actor_engine.index_prefix("LastName", "H"), ["owner_id"]) == [(1,)]
        assert actor_engine.index_prefix("LastName", "Hx").count() == 0

    def test_prefix_scan_ordered_depth_first(self, spark):
        """TrieSpec.hs:89-95 parity: ordered=True enumerates keys in
        depth-first (lexicographic) trie order."""
        eng = GraphEngine(spark)
        eng.add_nodes(
            [("W", {"k": key}) for key in ["abd", "ab", "abc", "b", "abcd", "aa"]]
        )
        eng.commit()
        eng.add_index("K", labels=["W"], prop_names=["k"])
        keys = [r["key"] for r in eng.index_prefix("K", "a", ordered=True).collect()]
        assert keys == ["aa", "ab", "abc", "abcd", "abd"]

    def test_duplicate_key_rejected_on_commit(self, actor_engine):
        # APITest.hs duplicate-key rejection on insert
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        actor_engine.add_nodes([("Actor", {"firstName": "Colin", "lastName": "Hanks"})])
        with pytest.raises(DuplicateIndexKey):
            actor_engine.commit()
        actor_engine.rollback()

    def test_retroactive_duplicate_rejected(self, spark):
        # APITest.hs:158-165 — existing duplicates fail index creation
        eng = GraphEngine(spark)
        eng.add_nodes([("Actor", {"lastName": "Hanks"}), ("Actor", {"lastName": "Hanks"})])
        eng.commit()
        with pytest.raises(DuplicateIndexKey):
            eng.add_index("LastName", labels=["Actor"], prop_names=["lastName"])

    def test_index_maintained_across_update_delete(self, actor_engine):
        # APITest.hs:128-157 — re-key on update, removal on delete
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        actor_engine.update_node(1, "Actor", {"firstName": "Tom", "lastName": "Cruise"})
        actor_engine.commit()
        assert actor_engine.index_lookup("LastName", "Hanks").count() == 0
        assert bag(actor_engine.index_lookup("LastName", "Cruise"), ["owner_id"]) == [(1,)]
        actor_engine.delete_nodes([1])
        actor_engine.commit()
        assert actor_engine.index_lookup("LastName", "Cruise").count() == 0

    def test_has_uses_index_rewrite(self, actor_engine):
        # registering an index does not change what has() returns
        before = sorted(actor_engine.traverse(T().ns().has("lastName", "Ryan")).ids())
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        after = sorted(actor_engine.traverse(T().ns().has("lastName", "Ryan")).ids())
        assert before == after == [2]

    def test_registry_persists_across_commits(self, actor_engine):
        # APITest.hs:166-174 — registry survives reopen; here: survives commits
        actor_engine.add_index("LastName", labels=["Actor"], prop_names=["lastName"])
        actor_engine.add_nodes([("Actor", {"firstName": "Val", "lastName": "Kilmer"})])
        actor_engine.commit()
        assert [r[0] for r in actor_engine.current.index_registry] == ["LastName"]
        assert bag(actor_engine.index_lookup("LastName", "Kilmer"), ["owner_id"]) == [(4,)]


class TestHasIgnoresIndexes:
    """``has()`` reads the props table whether or not an index covers the
    name: an index key carries neither the index's label scope nor the
    value's dtype."""

    @pytest.fixture()
    def indexed(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("A", {"name": "x"}), ("B", {"name": "y"}), ("A", {"name": "5"})])
        eng.commit()
        eng.add_index("by_name", ["A"], ["name"])
        return eng

    def test_has_matches_outside_the_index_label_scope(self, indexed):
        assert indexed.traverse(T().ns().has("name", "y")).ids() == [2]

    def test_has_matches_the_value_dtype(self, indexed):
        assert indexed.traverse(T().ns().has("name", 5)).ids() == []
        assert indexed.traverse(T().ns().has("name", "5")).ids() == [3]


class TestStagedIndexReads:
    """Indexes derive from the snapshot they belong to, so a staged
    snapshot's index holds the reader's own uncommitted writes."""

    @pytest.fixture()
    def indexed(self, spark):
        eng = GraphEngine(spark)
        eng.add_index("by_name", ["A"], ["name"])
        return eng

    def test_engine_reads_own_indexed_writes(self, indexed):
        nid = indexed.add_node("A", {"name": "y"})
        assert indexed.traverse(T().ns().has("name", "y")).ids() == [nid]
        assert bag(indexed.index_lookup("by_name", "y"), ["owner_id"]) == [(nid,)]
        indexed.rollback()
        assert indexed.index_lookup("by_name", "y").count() == 0

    def test_transaction_reads_own_indexed_writes(self, indexed):
        tx = indexed.begin()
        nid = tx.add_node("A", {"name": "z"})
        assert tx.traverse(T().ns().has("name", "z")).ids() == [nid]
        assert indexed.traverse(T().ns().has("name", "z")).ids() == []
        tx.rollback()


# one value of every property type, with the edges of their encodings
KEY_VALUES = ["text", "", -7, 2**60 + 1, b"\x00\xffab", True, 1.5, {"b": 1, "a": [1, None]}, None]


class TestIndexKeyParity:
    """The commit-time check derives index keys on the driver
    (``written_index_keys``); they must equal the keys the index computes
    on the JVM (``compiler.value_str``), or a targeted check probes the
    wrong rows."""

    def test_driver_keys_equal_index_keys(self, spark):
        rows = [["V", {"k": v}] for v in KEY_VALUES] + [["V", {"k": ["m", 3, b"\x01"]}]]
        eng = GraphEngine(spark)
        ids = eng.add_nodes(rows)
        eng.commit()
        eng.add_index("K", ["V"], ["k"])
        jvm = bag(eng.current.indexes["K"], ["owner_id", "name", "key"])
        driver = sorted(
            (i, "k", schemas.canonical_string(v))
            for i, (_, props) in zip(ids, rows)
            for v in (props["k"] if isinstance(props["k"], list) else [props["k"]])
        )
        assert jvm == driver
        ops = [["add_nodes", rows, ids]]
        assert written_index_keys(ops, eng.current.index_registry) == {"K": {(n, k) for _, n, k in driver}}

    def test_text_and_int_share_a_key(self, spark):
        assert schemas.canonical_string("5") == schemas.canonical_string(5) == "5"
        eng = GraphEngine(spark)
        eng.add_node("V", {"k": "5"})
        eng.commit()
        eng.add_index("K", ["V"], ["k"])
        eng.add_node("V", {"k": 5})
        with pytest.raises(DuplicateIndexKey, match="duplicate key '5'"):
            eng.commit()
        eng.rollback()


def _job_ids(spark, fn) -> list:
    """The Spark jobs ``fn`` launched, counted through a job group and the
    status tracker."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


class TestTargetedUniqueness:
    """A commit checks uniqueness only on the (name, key) pairs its ops
    wrote, against the merged state; outcomes equal a whole-index check."""

    @pytest.fixture()
    def eng(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("A", {"name": "taken"}), ("B", {"name": "free"})], ids=[1, 2])
        eng.commit()
        eng.add_index("by_name", ["A"], ["name"])
        return eng

    def test_commit_without_indexed_write_launches_no_job(self, spark, eng):
        def write_and_commit():
            eng.add_nodes([("B", {"name": "taken"}), ("A", {"other": 1})], ids=[10, 11])
            eng.add_edges([(10, 11, "E", {"name": "taken"})], ids=[20])
            eng.set_properties(1, "node", {"other": 2})
            eng.delete_nodes([2])
            eng.commit()

        assert _job_ids(spark, write_and_commit) == []
        assert eng.committed.version == 3

    def test_collision_raises(self, eng):
        eng.add_nodes([("A", {"name": ["other", "taken"]})], ids=[10])
        with pytest.raises(DuplicateIndexKey, match="duplicate key 'taken' for property 'name'"):
            eng.commit()
        eng.rollback()
        eng.add_nodes([("A", {"name": "x"})], ids=[11])
        eng.commit()
        eng.set_properties(11, "node", {"name": "taken"})
        with pytest.raises(DuplicateIndexKey):
            eng.commit()
        eng.rollback()

    def test_collision_with_concurrent_commit_raises_on_replay(self, eng):
        first, second = eng.begin(), eng.begin()
        first.add_nodes([("A", {"name": "c"})], ids=[10])
        second.add_nodes([("A", {"name": "c"})], ids=[11])
        first.commit()
        with pytest.raises(DuplicateIndexKey):
            second.commit()
        second.rollback()

    def test_index_registered_concurrently_is_checked(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("A", {"name": "dup"})], ids=[1])
        eng.commit()
        tx = eng.begin()
        tx.add_nodes([("A", {"name": "dup"})], ids=[2])
        eng.add_index("by_name", ["A"], ["name"])
        with pytest.raises(DuplicateIndexKey):
            tx.commit()
        tx.rollback()

    def test_unindexed_label_or_property_commits(self, eng):
        eng.add_nodes([("B", {"name": "taken"}), ("A", {"alias": "taken"})], ids=[10, 11])
        eng.commit()
        eng.set_properties(2, "node", {"name": "taken"})  # label B: not indexed
        eng.commit()
        assert bag(eng.index_lookup("by_name", "taken"), ["owner_id"]) == [(1,)]

    def test_relabel_into_indexed_label_raises(self, eng):
        eng.update_node(2, "A", {"name": "taken"})
        with pytest.raises(DuplicateIndexKey):
            eng.commit()
        eng.rollback()
        eng.update_node(2, "A", {"name": "free"})
        eng.commit()
        assert bag(eng.index_lookup("by_name", "free"), ["owner_id"]) == [(2,)]

    def test_rekey_then_reuse_in_one_commit(self, eng):
        eng.set_properties(1, "node", {"name": "moved"})
        eng.add_nodes([("A", {"name": "taken"})], ids=[10])
        eng.commit()
        assert bag(eng.index_lookup("by_name", "taken"), ["owner_id"]) == [(10,)]
