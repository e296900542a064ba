"""Mutation + snapshot-versioning tests — ports of the HGraphStorage
APITest scenarios (``test/.../APITest.hs``) and the MVCC visibility
semantics (``LowLevelDB/test/.../MVCCSpec.hs``) mapped onto snapshots."""

from __future__ import annotations

import pytest

from hgraphstorage_spark import GraphEngine, GraphSnapshot, T, schemas
from hgraphstorage_spark.query_step import list_properties

from tests.conftest import bag


class TestCrud:
    def test_create_and_read_back(self, movie_engine):
        snap = movie_engine.current
        assert snap.nb_nodes() == 3
        assert snap.nb_edges() == 2
        rows = bag(snap.nodes, ["id", "label"])
        assert rows == [(1, "Actor"), (2, "Movie"), (3, "Movie")]

    def test_multi_valued_properties(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("Actor", {"alias": ["Tom", "Tommy", "T."]})])
        eng.commit()
        props = list_properties(eng.current, 1)
        rows = props.collect()
        assert len(rows) == 1
        assert rows[0]["values"] == ["Tom", "Tommy", "T."]  # seq order kept

    def test_cascading_delete(self, movie_engine):
        # APITest.hs:55-68 — deleting the actor cascades both Played edges
        movie_engine.delete_nodes([1])
        movie_engine.commit()
        snap = movie_engine.current
        assert snap.nb_nodes() == 2
        assert snap.nb_edges() == 0
        # node props of deleted node gone, edge props of cascaded edges gone
        assert snap.props.filter("owner_id = 1 and owner_kind = 'node'").count() == 0
        assert snap.props.filter("owner_kind = 'edge'").count() == 0

    def test_delete_edge_keeps_nodes(self, movie_engine):
        movie_engine.delete_edges([1])
        movie_engine.commit()
        snap = movie_engine.current
        assert snap.nb_nodes() == 3
        assert snap.nb_edges() == 1
        assert bag(snap.edges, ["id"]) == [(2,)]

    def test_update_node_replaces_props(self, movie_engine):
        # APITest.hs:112-127 — property update/removal
        movie_engine.update_node(1, "Actor", {"name": "Tom Hanks", "oscars": 2})
        movie_engine.commit()
        props = bag(list_properties(movie_engine.current, 1), ["name"])
        assert props == [("name",), ("oscars",)]  # age gone

    def test_ids_not_reused_after_delete(self, movie_engine):
        # documented divergence from APITest.hs:105-111 (reference recycles)
        movie_engine.delete_nodes([3])
        movie_engine.commit()
        new_id = movie_engine.add_node("Movie", {"name": "Cast Away"})
        movie_engine.commit()
        assert new_id == 4  # max+1, not recycled 3

    def test_set_properties_partial_update(self, movie_engine):
        movie_engine.set_properties(2, "node", {"year": 1994})
        movie_engine.commit()
        props = dict(
            (r["name"], r["values"]) for r in list_properties(movie_engine.current, 2).collect()
        )
        assert props["year"] == ["1994"]
        assert props["name"] == ["Forrest Gump"]  # untouched


class TestCompaction:
    @pytest.mark.slow
    def test_long_mutation_session_compacts_and_preserves_state(self, spark):
        """A long row-at-a-time session keeps every row (nodes, edges,
        props) across commit."""
        eng = GraphEngine(spark)
        n = 72
        for i in range(n):
            eng.add_node("N", {"k": i})
        ids = list(range(1, n + 1))
        for a, b in zip(ids, ids[1:]):
            eng.add_edge(a, b, "next")
        eng.commit()
        snap = eng.current
        assert snap.nb_nodes() == n
        assert snap.nb_edges() == n - 1
        assert snap.props.count() == n
        res = eng.traverse(T().nid(ids[0]).out("next"))
        assert [r["id"] for r in res.df.collect()] == [ids[1]]


def _n_ops(df) -> int:
    """Logical operators in ``df``'s analyzed plan."""

    def count(plan) -> int:
        kids = plan.children()
        return 1 + sum(count(kids.apply(i)) for i in range(kids.size()))

    return count(df._jdf.queryExecution().analyzed())


def _base_engine(spark, n=12) -> GraphEngine:
    """An engine over a pre-loaded snapshot (its tables are the base):
    nodes 1..n, edges i -> i+1 with id i, one property on each."""
    nodes = spark.createDataFrame([(i, "N") for i in range(1, n + 1)], schemas.NODES_SCHEMA)
    edges = spark.createDataFrame([(i, i, i + 1, "r") for i in range(1, n)], schemas.EDGES_SCHEMA)
    props = spark.createDataFrame(
        [{"owner_id": i, "owner_kind": "node", "name": "k", "seq": 0, **schemas.value_columns(i)} for i in range(1, n + 1)]
        + [{"owner_id": i, "owner_kind": "edge", "name": "w", "seq": 0, **schemas.value_columns(i)} for i in range(1, n)],
        schemas.PROPS_SCHEMA,
    )
    return GraphEngine(spark, GraphSnapshot(nodes=nodes, edges=edges, props=props))


class TestOverlayFold:
    """Row-level writes fold into one driver-side overlay per table: a
    head's plan has the same shape whatever the number of ops, and the
    fold keeps the op-order semantics of the write API."""

    @staticmethod
    def _session(eng, n: int, commit_each: bool) -> dict:
        """``n`` single-row ops (a multiple of 5), cycling through add,
        edge add, set_properties, delete_edges and delete_nodes; the
        operator counts of the head's three tables."""
        for i in range(n // 5):
            a = eng.add_node("N", {"k": -i})
            writes = [
                lambda: eng.add_edge(a, 1, "r", {"w": -i}),
                lambda: eng.set_properties(1, "node", {"k": i, "j": []}),
                lambda: eng.delete_edges([i + 1]),
                lambda: eng.delete_nodes([i + 2]),
            ]
            for write in writes:
                if commit_each:
                    eng.commit()
                write()
        if commit_each:
            eng.commit()
        head = eng.current
        return {"nodes": _n_ops(head.nodes), "edges": _n_ops(head.edges), "props": _n_ops(head.props)}

    @pytest.mark.parametrize("commit_each", [False, True], ids=["one_transaction", "across_commits"])
    def test_plan_depth_is_independent_of_op_count(self, spark, commit_each):
        few = self._session(_base_engine(spark), 5, commit_each)
        many_eng = _base_engine(spark)
        many = self._session(many_eng, 40, commit_each)
        assert few == many
        head = many_eng.current
        assert head.nb_nodes() == 12 + 8 - 8
        assert bag(head.edges, ["src", "dst"]) == [(10, 11), (11, 12)] + [(i, 1) for i in range(13, 21)]

    def test_delete_then_readd_keeps_no_base_edges(self, spark):
        eng = _base_engine(spark, n=3)
        eng.delete_nodes([2])
        eng.add_nodes([("N", {})], ids=[2])
        eng.add_edge(1, 2, "r")  # added after its endpoint was deleted: kept
        eng.commit()
        assert bag(eng.current.edges, ["id", "src", "dst"]) == [(3, 1, 2)]
        assert bag(eng.current.props, ["owner_kind", "owner_id"]) == [("node", 1), ("node", 3)]

    def test_cascade_drops_props_set_on_a_base_edge(self, spark):
        eng = _base_engine(spark, n=3)
        eng.set_properties(1, "edge", {"x": "y"})
        eng.delete_nodes([2])
        eng.commit()
        assert bag(eng.current.props.filter("owner_kind = 'edge'"), ["owner_id"]) == []

    def test_props_on_a_missing_edge_follow_op_order(self, spark):
        """An edge property whose edge does not exist is dropped by a
        later ``delete_nodes``, and kept when set after the last one."""
        eng = _base_engine(spark, n=3)
        eng.set_properties(98, "edge", {"x": 1})
        eng.delete_nodes([3])
        eng.set_properties(99, "edge", {"x": 1})
        eng.commit()
        assert bag(eng.current.props.filter("owner_kind = 'edge'"), ["owner_id"]) == [(1,), (99,)]

    def test_set_properties_replaces_names_with_quotes(self, spark):
        """The overlay excludes a replaced base property by a SQL key; a
        name with quotes and backslashes must match itself."""
        odd = "it's a \\'name\\"
        base = _base_engine(spark, n=2).current
        row = {"owner_id": 1, "owner_kind": "node", "name": odd, "seq": 0, **schemas.value_columns("a")}
        props = base.props.unionByName(spark.createDataFrame([row], schemas.PROPS_SCHEMA))
        eng = GraphEngine(spark, GraphSnapshot(nodes=base.nodes, edges=base.edges, props=props))
        eng.set_properties(1, "node", {odd: "c"})
        eng.commit()
        got = {(r["name"], r["text_v"]) for r in eng.current.props.filter("owner_id = 1 AND owner_kind = 'node'").collect()}
        assert got == {(odd, "c"), ("k", None)}

    def test_add_of_a_present_id_keeps_both_rows(self, spark):
        eng = _base_engine(spark, n=3)
        eng.add_nodes([("M", {})], ids=[1])
        eng.commit()
        assert bag(eng.current.nodes.filter("id = 1")) == [(1, "M"), (1, "N")]

    def test_update_of_a_missing_id_inserts(self, spark):
        eng = _base_engine(spark, n=3)
        eng.update_node(7, "M", {"k": "v"})
        eng.update_node(1, "M", {})
        eng.commit()
        assert bag(eng.current.nodes) == [(1, "M"), (2, "N"), (3, "N"), (7, "M")]
        assert bag(eng.current.props.filter("owner_kind = 'node'"), ["owner_id", "name"]) == [
            (2, "k"), (3, "k"), (7, "k")
        ]


class TestVersioning:
    def test_commit_bumps_version(self, spark):
        eng = GraphEngine(spark)
        assert eng.current.version == 0
        eng.add_node("A", {})
        v1 = eng.commit()
        assert v1 == 1
        eng.add_node("B", {})
        v2 = eng.commit()
        assert v2 == 2
        assert eng.versions == [0, 1, 2]

    def test_rollback_discards(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("A", {})
        eng.commit()
        eng.add_node("B", {})
        assert eng.current.nb_nodes() == 2  # own uncommitted writes visible
        eng.rollback()
        assert eng.current.nb_nodes() == 1

    def test_time_travel_repeatable_read(self, spark):
        # MVCCSpec.hs:120-133 — a pinned snapshot keeps seeing deleted data
        eng = GraphEngine(spark)
        eng.add_nodes([("A", {"k": "v1"})])
        v1 = eng.commit()
        eng.delete_nodes([1])
        eng.commit()
        assert eng.snapshot_at(v1).nb_nodes() == 1
        assert eng.current.nb_nodes() == 0

    def test_uncommitted_invisible_to_committed_reader(self, spark):
        # MVCCSpec.hs:102-108 — another reader pins `committed`
        eng = GraphEngine(spark)
        eng.add_node("A", {})
        assert eng.committed.nb_nodes() == 0
        eng.commit()
        assert eng.committed.nb_nodes() == 1

    def test_wikipedia_mvcc_example(self, spark):
        """MVCCSpec.hs:134-165: T2 reads {Foo=Alpha, Bar=Beta}; T3 deletes
        Bar and inserts Foo-Bar; T2's pinned snapshot is unchanged."""
        eng = GraphEngine(spark)
        eng.add_nodes([("Row", {"k": "Foo", "v": "Alpha"}), ("Row", {"k": "Bar", "v": "Beta"})])
        v_t0 = eng.commit()
        # T2 starts reading at v_t0
        t2 = eng.snapshot_at(v_t0)
        # T3: delete Bar, insert Foo-Bar
        eng.delete_nodes([2])
        eng.add_node("Row", {"k": "Foo-Bar", "v": "Gamma"})
        eng.commit()
        t2_keys = bag(
            t2.props.filter("name = 'k'").select("text_v"), ["text_v"]
        )
        assert t2_keys == [("Bar",), ("Foo",)]
        now_keys = bag(eng.current.props.filter("name = 'k'").select("text_v"), ["text_v"])
        assert now_keys == [("Foo",), ("Foo-Bar",)]


class TestTraversalOverMutations:
    def test_out_after_delete(self, movie_engine):
        movie_engine.delete_edges([2])
        movie_engine.commit()
        res = movie_engine.traverse(T().nid(1).out("Played").values("name"))
        assert bag(res.df.select("value")) == [("Forrest Gump",)]


class TestSqlSurface:
    def test_views_and_sql(self, movie_engine):
        got = {
            r["label"]: r["n"]
            for r in movie_engine.sql(
                "SELECT label, count(*) AS n FROM graph_nodes GROUP BY label"
            ).collect()
        }
        assert got == {"Actor": 1, "Movie": 2}
        joined = movie_engine.sql(
            """SELECT n2.id AS movie_id
               FROM graph_edges e
               JOIN graph_nodes n1 ON e.src = n1.id
               JOIN graph_nodes n2 ON e.dst = n2.id
               WHERE n1.label = 'Actor' AND e.label = 'Played'"""
        )
        assert {r["movie_id"] for r in joined.collect()} == {2, 3}

    def test_views_pin_a_version(self, movie_engine):
        v = movie_engine.versions[-1]
        movie_engine.delete_nodes([1])
        movie_engine.commit()
        # pinned old version still sees the actor
        n_old = movie_engine.sql(
            "SELECT count(*) AS n FROM graph_nodes WHERE label = 'Actor'", version=v
        ).collect()[0]["n"]
        n_new = movie_engine.sql(
            "SELECT count(*) AS n FROM graph_nodes WHERE label = 'Actor'"
        ).collect()[0]["n"]
        assert (n_old, n_new) == (1, 0)


class TestConcurrentTransactions:
    """Ports of the reference's live-interleaving MVCC cases
    (LowLevelDB/test/.../MVCCSpec.hs:102-165) onto engine.begin()
    transactions — N simultaneous staged snapshots, first-committer-wins."""

    @staticmethod
    def _k(snap):
        return bag(snap.props.filter("name = 'k'").select("text_v"), ["text_v"])

    def test_tx_does_not_see_uncommitted_data(self, spark):
        # MVCCSpec.hs:102-108
        eng = GraphEngine(spark)
        tx1 = eng.begin()
        tx1.add_node("Row", {"k": "foo"})
        tx2 = eng.begin()
        assert self._k(tx2.snapshot) == []
        assert self._k(tx1.snapshot) == [("foo",)]  # reads-own-writes

    def test_tx_does_not_see_data_committed_after_start(self, spark):
        # MVCCSpec.hs:109-119 — snapshot isolation: the commit lands, the
        # concurrently-started reader still doesn't see it
        eng = GraphEngine(spark)
        tx1 = eng.begin()
        tx1.add_node("Row", {"k": "foo"})
        tx2 = eng.begin()
        assert self._k(tx2.snapshot) == []
        tx1.commit()
        assert self._k(tx2.snapshot) == []
        tx2.rollback()
        assert self._k(eng.committed) == [("foo",)]

    def test_tx_still_sees_data_deleted_after_start(self, spark):
        # MVCCSpec.hs:120-133
        eng = GraphEngine(spark)
        setup = eng.begin()
        nid = setup.add_node("Row", {"k": "foo"})
        setup.commit()
        tx2 = eng.begin()
        tx2.delete_nodes([nid])
        tx3 = eng.begin()
        assert self._k(tx3.snapshot) == [("foo",)]
        tx2.commit()
        assert self._k(tx3.snapshot) == [("foo",)]  # pinned read survives
        tx3.rollback()
        assert self._k(eng.committed) == []

    def test_wikipedia_example_with_live_transactions(self, spark):
        # MVCCSpec.hs:134-165 with tx2 held OPEN across tx3's commit
        eng = GraphEngine(spark)
        tx0 = eng.begin()
        rs1 = tx0.add_node("Row", {"k": "Foo"})
        rs2 = tx0.add_node("Row", {"k": "Bar"})
        tx0.commit()
        tx1 = eng.begin()
        tx1.update_node(rs1, "Row", {"k": "Hello"})
        assert self._k(tx1.snapshot) == [("Bar",), ("Hello",)]
        tx1.commit()
        tx2 = eng.begin()
        assert self._k(tx2.snapshot) == [("Bar",), ("Hello",)]
        tx3 = eng.begin()
        tx3.delete_nodes([rs2])
        rs3 = tx3.add_node("Row", {"k": "Foo-Bar"})
        tx3.commit()
        # tx2 still pinned: sees Bar, sees Hello, does not see Foo-Bar
        assert self._k(tx2.snapshot) == [("Bar",), ("Hello",)]
        assert rs3 not in [r["id"] for r in tx2.snapshot.nodes.collect()]
        assert self._k(eng.committed) == [("Foo-Bar",), ("Hello",)]

    def test_non_conflicting_concurrent_commits_both_land(self, spark):
        eng = GraphEngine(spark)
        tx1 = eng.begin()
        tx2 = eng.begin()
        tx1.add_node("Row", {"k": "from-tx1"})
        tx2.add_node("Row", {"k": "from-tx2"})
        v1 = tx1.commit()
        v2 = tx2.commit()  # replays onto tx1's head, no shared entities
        assert (v1, v2) == (1, 2)
        assert self._k(eng.committed) == [("from-tx1",), ("from-tx2",)]

    def test_write_write_conflict_first_committer_wins(self, spark):
        from hgraphstorage_spark.engine import WriteConflict

        eng = GraphEngine(spark)
        setup = eng.begin()
        nid = setup.add_node("Row", {"k": "orig"})
        setup.commit()
        tx1 = eng.begin()
        tx2 = eng.begin()
        tx1.update_node(nid, "Row", {"k": "tx1-wins"})
        tx2.update_node(nid, "Row", {"k": "tx2-loses"})
        tx1.commit()
        with pytest.raises(WriteConflict):
            tx2.commit()
        tx2.rollback()
        assert self._k(eng.committed) == [("tx1-wins",)]

    def test_unique_index_first_committer_wins(self, spark):
        from hgraphstorage_spark.engine import DuplicateIndexKey

        eng = GraphEngine(spark)
        eng.add_index("by_k", labels=("Row",), prop_names=("k",))
        tx1 = eng.begin()
        tx2 = eng.begin()
        tx1.add_node("Row", {"k": "same-key"})
        tx2.add_node("Row", {"k": "same-key"})  # different entity, same key
        tx1.commit()
        with pytest.raises(DuplicateIndexKey):
            tx2.commit()  # merged state violates uniqueness
        tx2.rollback()

    def test_closed_tx_rejects_further_use(self, spark):
        eng = GraphEngine(spark)
        tx = eng.begin()
        tx.add_node("Row", {"k": "x"})
        tx.commit()
        with pytest.raises(RuntimeError):
            tx.add_node("Row", {"k": "y"})
        with pytest.raises(RuntimeError):
            tx.commit()


class TestErrorAbsorption:
    """Reference SError composition parity (``APITypes.hs:149-150``,
    ``API.hs:346``): an invalid (state, step) combination yields an
    Error-kind RESULT that absorbs the rest of the traversal; raising is
    the opt-in strict mode."""

    def test_invalid_step_returns_error_result(self, movie_engine):
        from hgraphstorage_spark.compiler import KIND_ERROR

        # EID over a nodes state is an unhandled (state, step) combo
        res = movie_engine.traverse(T().ns().eid(1))
        assert res.kind == KIND_ERROR and res.is_error
        assert "EID" in res.error
        assert res.count() == 0  # typed empty DataFrame, still usable

    def test_error_absorbs_subsequent_steps(self, movie_engine):
        from hgraphstorage_spark.compiler import KIND_ERROR

        # like `SError e mappend _ = SError e`: later valid steps cannot
        # resurrect the traversal, and the FIRST failure is reported
        res = movie_engine.traverse(T().ns().eid(1).has_label("Movie").values("name"))
        assert res.kind == KIND_ERROR
        assert "EID" in res.error

    def test_oute_on_edges_state_is_error(self, movie_engine):
        # edge state can hop to nodes (edgesToNodes) but not to edges
        res = movie_engine.traverse(T().es().out_e("Played"))
        assert res.is_error
        assert "OutE" in res.error

    def test_unknown_state_yields_unknown_result(self, movie_engine):
        from hgraphstorage_spark.compiler import KIND_UNKNOWN

        res = movie_engine.traverse(T())  # no ns()/es() seed
        assert res.kind == KIND_UNKNOWN
        assert res.error is None

    def test_strict_mode_raises(self, movie_engine):
        from hgraphstorage_spark.compiler import TraversalError, compile_traversal

        with pytest.raises(TraversalError):
            compile_traversal(movie_engine.current, T().ns().eid(1), strict=True)
        with pytest.raises(TraversalError):
            compile_traversal(movie_engine.current, T(), strict=True)


class TestModelMaintenance:
    """M8 type-id upsert parity: the dictionary is MAINTAINED as writes
    arrive (first-use order, reference FileOps.hs:113-148 fold), not
    re-derived lexicographically per call."""

    def test_first_use_order_ids(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("Zebra", {"z": "1"})
        eng.add_node("Aardvark", {"a": 2})
        eng.commit()
        # Zebra was seen first -> id 1, despite sorting after Aardvark
        assert eng.model.lookup("node_type", "Zebra") == 1
        assert eng.model.lookup("node_type", "Aardvark") == 2
        assert eng.model.name_of("node_type", 1) == "Zebra"
        # property types key on name:dtype
        assert eng.model.lookup("property_type", "z:text") == 1
        assert eng.model.lookup("property_type", "a:integer") == 2

    def test_upsert_is_stable(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("A", {})
        eng.add_node("A", {})  # re-use: same id, no growth
        eng.commit()  # notes land at commit, as on the begin() path
        assert eng.model.lookup("node_type", "A") == 1
        rows = eng.model_df().collect()
        assert len([r for r in rows if r["kind"] == "node_type"]) == 1

    def test_bulk_ingest_folds_lazily(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("Seen", {})
        nodes = spark.createDataFrame([(1000, "Bulk")], "id long, label string")
        eng.add_nodes_df(nodes)
        eng.commit()
        df = {(r["kind"], r["name"]) for r in eng.model_df().collect()}
        assert ("node_type", "Bulk") in df and ("node_type", "Seen") in df
        # first-use still wins for the interactively-seen label
        assert eng.model.lookup("node_type", "Seen") == 1

    def test_rolled_back_tx_leaves_model_untouched(self, spark):
        eng = GraphEngine(spark)
        tx = eng.begin()
        tx.add_node("Ghost", {})
        tx.rollback()
        assert eng.model.lookup("node_type", "Ghost") is None
        tx2 = eng.begin()
        tx2.add_node("Real", {})
        tx2.commit()
        assert eng.model.lookup("node_type", "Real") == 1

    def test_rolled_back_implicit_write_leaves_model_untouched(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("Ghost", {"g": 1})
        eng.rollback()
        assert eng.model.lookup("node_type", "Ghost") is None
        assert eng.model.lookup("property_type", "g:integer") is None
        eng.add_node("Real", {})
        eng.commit()
        assert eng.model.lookup("node_type", "Real") == 1


class TestMixedWriterGuard:
    def test_implicit_commit_refuses_to_erase_tx_commit(self, spark):
        """Implicit staging based on version N must not publish over a
        transaction that committed N+1 in the meantime (lost update): the
        disjoint implicit writes replay onto N+1, so both land."""
        eng = GraphEngine(spark)
        eng.add_node("Implicit", {})       # implicit staging begins at v0
        tx = eng.begin()
        tx.add_node("Concurrent", {})
        tx.commit()                        # v1 lands
        assert eng.commit() == 2           # replayed onto v1, not over it
        assert self_keys(eng) == [("Concurrent",), ("Implicit",)]

    def test_implicit_update_conflicts_with_tx_commit_of_same_node(self, spark):
        """First-committer-wins on the implicit path: an implicit update of
        a node a concurrent transaction already committed loses."""
        from hgraphstorage_spark.engine import WriteConflict

        eng = GraphEngine(spark)
        nid = eng.add_node("Doc", {"k": "v0"})
        eng.commit()                          # v1
        eng.update_node(nid, "Doc", {"k": "implicit"})
        tx = eng.begin()
        tx.update_node(nid, "Doc", {"k": "tx"})
        tx.commit()                           # v2 writes nid first
        with pytest.raises(WriteConflict):
            eng.commit()
        eng.rollback()
        assert eng.committed.version == 2
        keys = [r["text_v"] for r in eng.committed.props.filter("name = 'k'").collect()]
        assert keys == ["tx"]

    def test_implicit_commit_fine_when_no_interleaving(self, spark):
        eng = GraphEngine(spark)
        eng.add_node("A", {"k": "a"})
        assert eng.commit() == 1
        tx = eng.begin()
        tx.add_node("B", {"k": "b"})
        tx.commit()
        eng.add_node("C", {"k": "c"})      # staged on the post-tx head
        assert eng.commit() == 3

    def test_tx_conflicts_with_prior_implicit_commit(self, spark):
        """The opposite interleaving of the erase guard: a transaction that
        commits AFTER an implicit commit wrote the same entity must lose
        (first-committer-wins covers both write paths)."""
        from hgraphstorage_spark.engine import WriteConflict

        eng = GraphEngine(spark)
        nid = eng.add_node("Doc", {"k": "v0"})
        eng.commit()                          # v1
        tx = eng.begin()                      # pinned at v1
        tx.update_node(nid, "Doc", {"k": "tx"})
        eng.update_node(nid, "Doc", {"k": "implicit"})
        eng.commit()                          # v2 writes nid
        with pytest.raises(WriteConflict):
            tx.commit()                       # overlapping write-set → lose

    def test_tx_survives_disjoint_implicit_commit(self, spark):
        eng = GraphEngine(spark)
        a = eng.add_node("A", {})
        eng.commit()
        tx = eng.begin()
        tx.update_node(a, "A", {"k": "tx"})
        eng.add_node("B", {})                 # disjoint implicit write
        eng.commit()
        tx.commit()                           # replays cleanly onto v2
        assert self_keys(eng) == [("A",), ("B",)]

    def test_tx_conflicts_with_bulk_ingest_commit(self, spark):
        """Bulk DataFrame ingests have unenumerated write-sets; a
        transaction that raced one must conservatively conflict."""
        from hgraphstorage_spark.engine import WriteConflict

        eng = GraphEngine(spark)
        tx = eng.begin()
        tx.add_node("T", {})
        nodes = spark.createDataFrame([(1000, "Bulk")], "id long, label string")
        eng.add_nodes_df(nodes)
        eng.commit()
        with pytest.raises(WriteConflict):
            tx.commit()

    def test_no_duplicate_ids_across_mixed_writers(self, spark):
        """Implicit id allocation goes through the engine-wide reservation:
        a live transaction's reserved id can never be re-minted by the
        implicit path (and vice versa)."""
        eng = GraphEngine(spark)
        tx = eng.begin()
        a = tx.add_node("FromTx", {})
        b = eng.add_node("FromImplicit", {})  # must see tx's reservation
        assert a != b
        eng.commit()
        tx.commit()                           # disjoint ids → both land
        ids = sorted(r["id"] for r in eng.committed.nodes.collect())
        assert ids == sorted({a, b}) and len(ids) == 2


def self_keys(eng):
    return sorted(
        (r["label"],) for r in eng.committed.nodes.select("label").collect()
    )


class TestVersionDiff:
    def test_snapshot_diff_tracks_all_change_kinds(self, spark, movie_engine):
        from hgraphstorage_spark.engine import snapshot_diff

        eng = movie_engine
        v1 = eng.committed
        nid = eng.add_node("Actor", {"name": "Meg Ryan", "age": 55})
        eng.delete_edges([2])
        eng.update_node(1, "Actor", {"name": "Tom Hanks", "age": 61})
        eng.commit()
        v2 = eng.committed
        d = snapshot_diff(v1, v2)
        assert [(r["id"], r["label"]) for r in d["nodes_added"].collect()] == [(nid, "Actor")]
        assert d["nodes_removed"].count() == 0
        assert d["edges_added"].count() == 0
        assert [r["id"] for r in d["edges_removed"].collect()] == [2]
        added = {(r["owner_id"], r["name"]) for r in d["props_added"].collect()}
        removed = {(r["owner_id"], r["name"]) for r in d["props_removed"].collect()}
        assert (nid, "name") in added and (nid, "age") in added
        # age 60 -> 61: one removed + one added row for owner 1
        assert (1, "age") in added and (1, "age") in removed
        # reverse direction flips added/removed
        rd = snapshot_diff(v2, v1)
        assert [r["id"] for r in rd["nodes_removed"].collect()] == [nid]
        assert [r["id"] for r in rd["edges_added"].collect()] == [2]

    def test_entity_history_walks_versions(self, spark, movie_engine):
        from hgraphstorage_spark.engine import entity_history

        eng = movie_engine
        eng.update_node(1, "Actor", {"name": "Tom Hanks", "age": 61})
        eng.commit()
        eng.update_node(1, "Actor", {"name": "Tom Hanks", "age": 62})
        eng.commit()
        hist = entity_history(eng, 1)
        ages = [h["props"].get("age") for h in hist]
        assert ages == [["60"], ["61"], ["62"]]
        assert all(h["exists"] for h in hist)
        # an untouched entity has a single history entry
        hist2 = entity_history(eng, 2)
        assert len(hist2) == 1 and hist2[0]["props"]["year"] == ["1990"]
