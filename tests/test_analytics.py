"""Analytics tests: degrees, connected components, PageRank, BFS."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hgraphstorage_spark import GraphEngine
from hgraphstorage_spark.analytics import bfs, connected_components, degrees, pagerank

from tests.conftest import bag


@pytest.fixture(scope="module")
def two_component_engine(spark):
    """Component A: 1-2-3 chain (+ isolated two-cycle 2↔3), component B:
    4-5, isolated node 6."""
    eng = GraphEngine(spark)
    eng.add_nodes([("N", {}) for _ in range(6)])
    eng.add_edges(
        [
            (1, 2, "e", {}),
            (2, 3, "e", {}),
            (3, 2, "e", {}),
            (4, 5, "e", {}),
        ]
    )
    eng.commit()
    return eng


class TestDegrees:
    def test_degrees(self, two_component_engine):
        rows = {r["id"]: r for r in degrees(two_component_engine.current).collect()}
        assert (rows[1]["out_deg"], rows[1]["in_deg"], rows[1]["deg"]) == (1, 0, 1)
        assert (rows[2]["out_deg"], rows[2]["in_deg"]) == (1, 2)
        assert (rows[6]["out_deg"], rows[6]["in_deg"], rows[6]["deg"]) == (0, 0, 0)


class TestConnectedComponents:
    def test_components(self, two_component_engine):
        comp = {r["id"]: r["component"] for r in connected_components(two_component_engine.current).collect()}
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[4] == comp[5] == 4
        assert comp[6] == 6

    def test_warns_when_max_iter_runs_out(self, spark):
        """A 1..6 path needs 5 changing supersteps: with max_iter=2 the
        state is still changing when the budget ends, which must not pass
        silently; with the default budget it converges without a warning."""
        import warnings

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(6)])
        eng.add_edges([(i, i + 1, "e", {}) for i in range(1, 6)])
        eng.commit()
        with pytest.warns(RuntimeWarning, match="max_iter=2"):
            connected_components(eng.current, max_iter=2).collect()
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            comp = {r["id"]: r["component"] for r in connected_components(eng.current).collect()}
        assert comp == {i: 1 for i in range(1, 7)}


class TestAlternatingComponents:
    @pytest.mark.slow
    def test_equals_hashmin_on_mixed_graph(self, spark):
        """Path (high diameter — the case HashMin handles in O(diameter)
        rounds and alternating in O(log n)), a clique, and an isolated
        node: both algorithms must produce identical assignments."""
        from hgraphstorage_spark.analytics import connected_components_alternating

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(24)])
        path = [(i, i + 1, "e", {}) for i in range(1, 16)]  # 1..16 path
        clique = [
            (a, b, "e", {}) for a in range(17, 22) for b in range(17, 22) if a < b
        ]  # 17..21 clique; 22,23,24 isolated
        eng.add_edges(path + clique)
        eng.commit()
        snap = eng.committed

        alt = {r["id"]: r["component"] for r in connected_components_alternating(snap).collect()}
        hm = {r["id"]: r["component"] for r in connected_components(snap, max_iter=20).collect()}
        assert alt == hm
        assert alt[16] == 1 and alt[21] == 17 and alt[23] == 23

    def test_two_component_graph(self, two_component_engine):
        from hgraphstorage_spark.analytics import connected_components_alternating

        comp = {
            r["id"]: r["component"]
            for r in connected_components_alternating(two_component_engine.committed).collect()
        }
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[4] == comp[5] == 4
        assert comp[6] == 6


class TestPageRank:
    @pytest.mark.slow
    def test_ranks_sum_to_one_and_order(self, two_component_engine):
        ranks = {r["id"]: r["rank"] for r in pagerank(two_component_engine.current, iterations=15).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-6
        # 2 and 3 feed each other; both should outrank source 1
        assert ranks[2] > ranks[1]
        assert ranks[3] > ranks[1]

    @pytest.mark.slow
    def test_star_graph_center_wins(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(5)])
        eng.add_edges([(i, 1, "e", {}) for i in range(2, 6)])
        eng.commit()
        ranks = {r["id"]: r["rank"] for r in pagerank(eng.current, iterations=10).collect()}
        assert ranks[1] == max(ranks.values())


class TestBfs:
    def test_hops(self, two_component_engine):
        reached = {r["id"]: r["hops"] for r in bfs(two_component_engine.current, 1, max_hops=5).collect()}
        assert reached == {1: 0, 2: 1, 3: 2}

    def test_unreachable_not_included(self, two_component_engine):
        reached = {r["id"] for r in bfs(two_component_engine.current, 4, max_hops=5).collect()}
        assert reached == {4, 5}

    def test_label_filter(self, spark):
        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(3)])
        eng.add_edges([(1, 2, "a", {}), (2, 3, "b", {})])
        eng.commit()
        reached = {r["id"] for r in bfs(eng.current, 1, max_hops=5, labels=("a",)).collect()}
        assert reached == {1, 2}


class TestTriangleCount:
    def test_counts(self, spark):
        """K4 on 1-4 (each node in 3 triangles, 4 total), a dangling edge
        (5-6), an isolated node 7; parallel + reverse edges collapse."""
        from hgraphstorage_spark.analytics import triangle_count

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(7)])
        k4 = [(a, b, "e", {}) for a in range(1, 5) for b in range(1, 5) if a < b]
        eng.add_edges(k4 + [(2, 1, "e", {}), (1, 2, "e", {}), (5, 6, "e", {})])
        eng.commit()
        t = {r["id"]: r["triangles"] for r in triangle_count(eng.committed).collect()}
        assert t == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0, 7: 0}


class TestShortestPaths:
    @pytest.mark.slow
    def test_multi_landmark(self, two_component_engine):
        from hgraphstorage_spark.analytics import shortest_paths

        sp = shortest_paths(two_component_engine.current, [1, 4], max_hops=5)
        d = {(r["id"], r["landmark"]): r["dist"] for r in sp.collect()}
        # undirected: component A reaches landmark 1, B reaches 4, never cross
        assert d[(1, 1)] == 0 and d[(2, 1)] == 1 and d[(3, 1)] == 2
        assert d[(4, 4)] == 0 and d[(5, 4)] == 1
        assert (6, 1) not in d and (1, 4) not in d

    def test_directed(self, two_component_engine):
        from hgraphstorage_spark.analytics import shortest_paths

        sp = shortest_paths(two_component_engine.current, [2], max_hops=5, directed=True)
        d = {r["id"]: r["dist"] for r in sp.collect()}
        # edges 2->3 and 3->2: only 3 is reachable from 2; 1 is upstream
        assert d == {2: 0, 3: 1}


class TestLabelPropagation:
    @pytest.mark.slow
    def test_two_cliques_with_bridge(self, spark):
        from hgraphstorage_spark.analytics import label_propagation

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(10)])
        c1 = [(a, b, "e", {}) for a in range(1, 6) for b in range(1, 6) if a < b]
        c2 = [(a, b, "e", {}) for a in range(6, 11) for b in range(6, 11) if a < b]
        eng.add_edges(c1 + c2 + [(5, 6, "e", {})])
        eng.commit()
        comm = {r["id"]: r["community"] for r in label_propagation(eng.committed, max_iter=4).collect()}
        assert len({comm[i] for i in range(1, 6)}) == 1
        assert len({comm[i] for i in range(6, 11)}) == 1
        assert comm[1] != comm[10]

    def test_tie_breaks_to_smallest_label(self, spark):
        """One round from id labels: node 1 hears 4 twice (parallel
        edges), 3 twice (one edge each way) and 2 once — 3 and 4 tie on
        count and the smaller, 3, must win; every other node hears only 1."""
        from hgraphstorage_spark.analytics import label_propagation

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges([(1, 4, "e", {}), (1, 4, "e", {}), (1, 2, "e", {}), (3, 1, "e", {}), (1, 3, "e", {})])
        eng.commit()
        comm = {r["id"]: r["community"] for r in label_propagation(eng.current, max_iter=1).collect()}
        assert comm == {1: 3, 2: 1, 3: 1, 4: 1}


class TestKCore:
    def test_triangle_with_tail(self, spark):
        """Triangle 1-2-3 plus pendant 3-4: the 2-core is exactly the
        triangle; direction/multiplicity are ignored (3->2 duplicate edge
        and reversed 2->1 must not inflate degrees)."""
        from hgraphstorage_spark.analytics import k_core

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges(
            [
                (1, 2, "e", {}),
                (2, 1, "e", {}),  # reverse duplicate: same undirected edge
                (2, 3, "e", {}),
                (3, 2, "e", {}),
                (3, 1, "e", {}),
                (3, 4, "e", {}),  # pendant: degree 1, peeled at k=2
            ]
        )
        eng.commit()
        out = {r["id"]: r["deg"] for r in k_core(eng.current, k=2).collect()}
        assert out == {1: 2, 2: 2, 3: 2}

    def test_empty_core(self, spark):
        """A path graph has no 2-core — peeling must drain to empty."""
        from hgraphstorage_spark.analytics import k_core

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(3)])
        eng.add_edges([(1, 2, "e", {}), (2, 3, "e", {})])
        eng.commit()
        assert k_core(eng.current, k=2).count() == 0


class TestPersonalizedPageRank:
    @pytest.mark.slow
    def test_mass_stays_in_seed_cone(self, spark):
        """Chain 1->2->3 with an isolated node 4: PPR from 1 gives node 4
        exactly zero and keeps total mass ~1 (dangling returns to seed)."""
        from hgraphstorage_spark.analytics import pagerank

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges([(1, 2, "e", {}), (2, 3, "e", {})])
        eng.commit()
        pr = {r["id"]: r["rank"] for r in pagerank(eng.current, iterations=30, reset_to=[1]).collect()}
        assert pr[4] == 0.0
        assert abs(sum(pr.values()) - 1.0) < 1e-9
        # near the fixpoint (short chains oscillate for the first ~dozen
        # rounds as the returned dangling mass cycles): seed outranks tail
        assert pr[1] > pr[3] > 0

    @pytest.mark.slow
    def test_uniform_unchanged(self, spark):
        """reset_to=None must equal the classic formulation exactly (the
        shared oracle pins this; here: ranks positive everywhere)."""
        from hgraphstorage_spark.analytics import pagerank

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(3)])
        eng.add_edges([(1, 2, "e", {})])
        eng.commit()
        pr = pagerank(eng.current, iterations=2)
        assert pr.filter("rank <= 0").count() == 0


class TestAggregateMessages:
    def test_bidirectional_count_and_min(self, spark):
        from hgraphstorage_spark.analytics import aggregate_messages
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B")], "id long, label string"
        )
        edges = spark.createDataFrame(
            [(10, 1, 3, "e"), (11, 2, 3, "e")], "id long, src long, dst long, label string"
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        res = aggregate_messages(
            snap,
            {"n_msgs": F.count, "min_nbr": F.min},
            msg_to_dst=F.col("src.id"),
            msg_to_src=F.col("dst.id"),
        )
        got = {r["id"]: (r["n_msgs"], r["min_nbr"]) for r in res.collect()}
        # node 3 receives src ids {1, 2}; nodes 1 and 2 each receive dst id 3
        assert got == {1: (1, 3), 2: (1, 3), 3: (2, 1)}

    def test_requires_a_message(self, spark):
        import pytest as _pytest

        from hgraphstorage_spark.analytics import aggregate_messages
        from hgraphstorage_spark.snapshot import GraphSnapshot

        snap = GraphSnapshot(
            nodes=spark.createDataFrame([(1, "A")], "id long, label string"),
            edges=spark.createDataFrame([], "id long, src long, dst long, label string"),
            props=None,
        )
        with _pytest.raises(ValueError):
            aggregate_messages(snap, {"n": F.count})


class TestRandomWalks:
    def test_walks_are_deterministic_and_stop_at_sinks(self, spark):
        from hgraphstorage_spark.analytics import random_walks
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "A"), (4, "A")], "id long, label string"
        )
        # 1 -> {2, 3}; 2 -> 4; 3 and 4 are sinks
        edges = spark.createDataFrame(
            [(10, 1, 2, "e"), (11, 1, 3, "e"), (12, 2, 4, "e")],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        starts = nodes.filter(F.col("id") == 1).select("id")
        a = {(r["walk_id"], r["step"], r["node"]) for r in random_walks(snap, starts, walk_len=3).collect()}
        b = {(r["walk_id"], r["step"], r["node"]) for r in random_walks(snap, starts, walk_len=3).collect()}
        assert a == b  # fully deterministic
        steps = sorted((s, n) for (_, s, n) in a)
        assert steps[0] == (0, 1)
        # whatever branch the hash picks, a sink is reached and the walk
        # emits no rows past it
        assert len(a) <= 4
        nodes_at = {s: n for (_, s, n) in a}
        if nodes_at[1] == 3:
            assert 2 not in {s for (_, s, _) in a}  # stopped at sink 3
        else:
            assert nodes_at[1] == 2 and nodes_at[2] == 4

    @pytest.mark.slow
    def test_salt_changes_choices_but_not_start(self, spark):
        from hgraphstorage_spark.analytics import random_walks
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "A") for i in range(1, 12)], "id long, label string")
        edges = spark.createDataFrame(
            [(100 + i, 1, i, "e") for i in range(2, 12)],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        starts = nodes.filter(F.col("id") == 1).select("id")
        picks = set()
        for salt in ("a", "b", "c", "d"):
            rows = random_walks(snap, starts, walk_len=1, salt=salt).collect()
            picks.add({r["step"]: r["node"] for r in rows}[1])
        assert len(picks) > 1  # different salts explore different branches


class TestStronglyConnectedComponents:
    def test_cycles_bridge_singleton(self, spark):
        from hgraphstorage_spark.analytics import strongly_connected_components
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in range(1, 8)], "id long, label string")
        edges = spark.createDataFrame(
            [
                (10, 1, 2, "e"), (11, 2, 3, "e"), (12, 3, 1, "e"),  # SCC {1,2,3}
                (13, 3, 4, "e"),                                     # bridge (no merge)
                (14, 4, 5, "e"), (15, 5, 4, "e"),                    # SCC {4,5}
                (16, 6, 1, "e"),                                     # 6 feeds the cycle, stays singleton
                (17, 7, 7, "e"),                                     # self-loop only
            ],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        got = {r["id"]: r["scc"] for r in strongly_connected_components(snap).collect()}
        assert got[1] == got[2] == got[3] == 1
        assert got[4] == got[5] == 4
        assert got[6] == 6 and got[7] == 7

    def test_dag_is_all_singletons(self, spark):
        from hgraphstorage_spark.analytics import strongly_connected_components
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in range(1, 6)], "id long, label string")
        edges = spark.createDataFrame(
            [(10 + i, i, i + 1, "e") for i in range(1, 5)],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        got = {r["id"]: r["scc"] for r in strongly_connected_components(snap).collect()}
        assert got == {i: i for i in range(1, 6)}

    @pytest.mark.slow
    @pytest.mark.parametrize("seed", [7, 23, 99])
    def test_matches_bruteforce_on_random_digraphs(self, spark, seed):
        """Cross-check against an independent definition: mutual
        reachability via Python Floyd-Warshall on seeded random digraphs."""
        import random

        from hgraphstorage_spark.analytics import strongly_connected_components
        from hgraphstorage_spark.snapshot import GraphSnapshot

        rng = random.Random(seed)
        n = 8
        edge_list = [(a, b) for a in range(1, n + 1) for b in range(1, n + 1)
                     if a != b and rng.random() < 0.25]
        reach = {(a, b) for (a, b) in edge_list}
        for k in range(1, n + 1):
            for a in range(1, n + 1):
                for b in range(1, n + 1):
                    if (a, k) in reach and (k, b) in reach:
                        reach.add((a, b))
        want = {
            v: min([v] + [u for u in range(1, n + 1)
                          if (v, u) in reach and (u, v) in reach])
            for v in range(1, n + 1)
        }

        nodes = spark.createDataFrame([(i, "N") for i in range(1, n + 1)], "id long, label string")
        edges = spark.createDataFrame(
            [(100 + i, a, b, "e") for i, (a, b) in enumerate(edge_list)],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        got = {r["id"]: r["scc"] for r in strongly_connected_components(snap).collect()}
        assert got == want


class TestLinkPrediction:
    def test_square_graph_scores(self, spark):
        """Square 1-2-4-3-1: the two diagonals are the only distance-2
        pairs; every degree is 2, so AA = 2/ln(2), jaccard = 1."""
        from decimal import Decimal

        from hgraphstorage_spark.analytics import link_prediction

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges([(1, 2, "e", {}), (1, 3, "e", {}), (2, 4, "e", {}), (3, 4, "e", {})])
        eng.commit()
        rows = {(r["u"], r["v"]): r for r in link_prediction(eng.current).collect()}
        assert set(rows) == {(1, 4), (2, 3)}
        for r in rows.values():
            assert r["common_neighbors"] == 2
            assert r["jaccard"] == Decimal("1.000000")
            # 2 * round(1/ln(2), 12)
            assert r["adamic_adar"] == Decimal("2.885390081778")

    def test_existing_edges_excluded_and_hub_cap(self, spark):
        from hgraphstorage_spark.analytics import link_prediction

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(5)])
        # star through hub 1 (deg 4): all leaf pairs are distance-2
        eng.add_edges([(1, k, "e", {}) for k in (2, 3, 4, 5)])
        eng.commit()
        full = link_prediction(eng.current)
        assert full.count() == 6  # C(4,2) leaf pairs; (1,k) pairs are edges
        assert link_prediction(eng.current, max_hub_degree=3).count() == 0


class TestHarmonicCentrality:
    def test_path_graph_values(self, spark):
        from decimal import Decimal

        from hgraphstorage_spark.analytics import harmonic_centrality

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges([(1, 2, "e", {}), (2, 3, "e", {}), (3, 4, "e", {})])
        eng.commit()
        h = {r["id"]: r["harmonic"] for r in harmonic_centrality(eng.current, [1, 4]).collect()}
        third = Decimal("0.333333333333")
        # node 2: dist 1 to landmark 1, dist 2 to landmark 4
        assert h[2] == Decimal("1.5")
        # endpoints: dist 0 to self (no contribution) + dist 3 across
        assert h[1] == third and h[4] == third
        assert h[3] == Decimal("1.5")


class TestWeightedShortestPaths:
    def test_relaxation_prefers_cheaper_longer_path(self, spark):
        """The Bellman property: a 2-edge path of total weight 5 beats a
        direct edge of weight 10 — needs >= 2 relaxation rounds."""
        from hgraphstorage_spark.analytics import weighted_shortest_paths

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(3)])
        eng.add_edges(
            [
                (1, 3, "direct", {}),   # edge id 1 -> weight 10
                (1, 2, "hop", {}),      # edge id 2 -> weight 2
                (2, 3, "hop", {}),      # edge id 3 -> weight 3
            ]
        )
        eng.commit()
        weights = {1: 10, 2: 2, 3: 3}
        w = F.lit(None).cast("long")
        for eid, wt in weights.items():
            w = F.when(F.col("id") == eid, F.lit(wt)).otherwise(w)
        out = weighted_shortest_paths(
            eng.current, [1], weight_col=w, rounds=3, directed=True
        )
        got = {r["id"]: r["cost"] for r in out.collect()}
        assert got == {1: 0, 2: 2, 3: 5}
        # one round can only see the direct edge
        one = weighted_shortest_paths(eng.current, [1], weight_col=w, rounds=1, directed=True)
        assert {r["id"]: r["cost"] for r in one.collect()}[3] == 10

    def test_default_weight_equals_hop_bfs(self, spark, two_component_engine):
        from hgraphstorage_spark.analytics import weighted_shortest_paths

        out = weighted_shortest_paths(two_component_engine.current, [1], rounds=4)
        got = {r["id"]: r["cost"] for r in out.collect()}
        assert got == {1: 0, 2: 1, 3: 2}
        assert 4 not in got and 6 not in got  # unreachable pairs absent


class TestBetweenness:
    def test_star_center_carries_all_pairs(self, spark):
        from hgraphstorage_spark.analytics import betweenness

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(5)])
        eng.add_edges([(1, i, "e", {}) for i in range(2, 6)])
        eng.commit()
        got = {r["id"]: float(r["betweenness"]) for r in betweenness(eng.current, [1, 2, 3, 4, 5]).collect()}
        # center: C(4,2) unordered leaf pairs x 2 source directions = 12
        assert got[1] == 12.0
        assert all(got.get(v, 0.0) == 0.0 for v in (2, 3, 4, 5))

    @pytest.mark.slow
    def test_landmark_subset_is_partial_sum(self, spark, two_component_engine):
        from hgraphstorage_spark.analytics import betweenness

        full = {r["id"]: float(r["betweenness"])
                for r in betweenness(two_component_engine.current, [1, 2, 3, 4, 5, 6]).collect()}
        part = {r["id"]: float(r["betweenness"])
                for r in betweenness(two_component_engine.current, [1]).collect()}
        for v, c in part.items():
            assert c <= full.get(v, 0.0) + 1e-9


class TestClusteringCoefficient:
    def test_triangle_plus_tail(self, spark):
        from hgraphstorage_spark.analytics import clustering_coefficient

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        # triangle 1-2-3 plus tail 3-4
        eng.add_edges([(1, 2, "e", {}), (2, 3, "e", {}), (3, 1, "e", {}), (3, 4, "e", {})])
        eng.commit()
        got = {r["id"]: r for r in clustering_coefficient(eng.current).collect()}
        assert float(got[1]["coeff"]) == 1.0 and got[1]["deg"] == 2
        assert float(got[2]["coeff"]) == 1.0
        # node 3: deg 3, one triangle of C(3,2)=3 possible
        assert got[3]["deg"] == 3 and float(got[3]["coeff"]) == round(1 / 3, 6)
        assert float(got[4]["coeff"]) == 0.0 and got[4]["triangles"] == 0


class TestKTruss:
    def test_clique_and_pendant(self, spark):
        from hgraphstorage_spark.analytics import k_truss

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(7)])
        # 4-clique on 1-4, pendant triangle (4,5,6), tail (6,7)
        eng.add_edges([(s, d, "e", {}) for s, d in
                       [(1,2),(1,3),(1,4),(2,3),(2,4),(3,4),(4,5),(4,6),(5,6),(6,7)]])
        eng.commit()
        t4 = {(r["a"], r["b"]): r["support"] for r in k_truss(eng.current, k=4).collect()}
        # only the clique survives; every clique edge sits in 2 triangles
        assert t4 == {(1,2): 2, (1,3): 2, (1,4): 2, (2,3): 2, (2,4): 2, (3,4): 2}
        t3 = {(r["a"], r["b"]): r["support"] for r in k_truss(eng.current, k=3).collect()}
        # triangles survive at k=3, the triangle-free tail edge does not
        assert (6, 7) not in t3 and t3[(4, 5)] == 1 and len(t3) == 9

    def test_truss_within_core(self, spark, two_component_engine):
        """k-truss ⊆ (k-1)-core endpoints (Cohen 2008)."""
        from hgraphstorage_spark.analytics import k_core, k_truss

        snap = two_component_engine.current
        t3 = k_truss(snap, k=3).collect()
        core2 = {r["id"] for r in k_core(snap, k=2).collect()}
        for r in t3:
            assert r["a"] in core2 and r["b"] in core2


class TestDiameterEstimate:
    def test_path_graph_exact(self, spark):
        """A 6-node path: double sweep finds the true diameter 5 from
        any seed."""
        from hgraphstorage_spark.analytics import diameter_estimate
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in range(6)], "id long, label string")
        edges = spark.createDataFrame(
            [(i, i, i + 1, "E") for i in range(5)], "id long, src long, dst long, label string"
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        row = diameter_estimate(snap).collect()[0]
        assert row["seed_id"] == 0
        assert row["diameter_estimate"] == 5
        assert {row["peripheral_id"], row["far_id"]} == {0, 5}

    def test_star_graph(self, spark):
        from hgraphstorage_spark.analytics import diameter_estimate
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in range(5)], "id long, label string")
        edges = spark.createDataFrame(
            [(i, 0, i, "E") for i in range(1, 5)], "id long, src long, dst long, label string"
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        row = diameter_estimate(snap).collect()[0]
        assert row["diameter_estimate"] == 2  # leaf -> hub -> leaf

    def test_isolated_seed(self, spark):
        from hgraphstorage_spark.analytics import diameter_estimate
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(0, "N"), (5, "N"), (6, "N")], "id long, label string")
        edges = spark.createDataFrame(
            [(0, 5, 6, "E")], "id long, src long, dst long, label string"
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        row = diameter_estimate(snap).collect()[0]
        assert row["seed_id"] == 0 and row["diameter_estimate"] <= 0


class TestModularity:
    def test_two_cliques_score_high_random_split_zero(self, spark):
        """Two disconnected triangles under their natural communities
        score Q = 0.5 (textbook value); the all-one-community partition
        scores exactly 0."""
        from dataclasses import replace

        from hgraphstorage_spark.analytics import modularity
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame(
            [(i, "N") for i in range(1, 7)], "id long, label string"
        )
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "src long, dst long"
        ).withColumn("label", F.lit("e")).withColumn("id", F.monotonically_increasing_id())
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        good = spark.createDataFrame(
            [(i, 1 if i <= 3 else 2) for i in range(1, 7)], "id long, community long"
        )
        r = modularity(snap, good).collect()[0]
        assert r["n_communities"] == 2 and float(r["modularity"]) == 0.5
        one = good.select("id", F.lit(1).alias("community"))
        r1 = modularity(snap, one).collect()[0]
        assert r1["n_communities"] == 1 and float(r1["modularity"]) == 0.0

    def test_isolated_nodes_contribute_zero_degree(self, spark):
        from hgraphstorage_spark.analytics import modularity
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(1, "N"), (2, "N"), (9, "N")], "id long, label string")
        edges = spark.createDataFrame([(1, 2)], "src long, dst long") \
            .withColumn("label", F.lit("e")).withColumn("id", F.lit(0).cast("long"))
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        comm = spark.createDataFrame([(1, 1), (2, 1), (9, 9)], "id long, community long")
        r = modularity(snap, comm).collect()[0]
        # community {1,2}: l=1, d=2, m=1 -> 1/1 - (2/2)^2 = 0; community {9}: 0
        assert r["n_communities"] == 2 and float(r["modularity"]) == 0.0


class TestHITS:
    def test_hub_authority_separation(self, spark):
        """Pure hubs get authority 0, pure authorities get hub 0; the
        node pointed at by more hubs leads the authority ranking; each
        L1-normalized vector sums to ~1."""
        from hgraphstorage_spark.analytics import hits
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame(
            [(i, "N") for i in (1, 2, 10, 11)], "id long, label string"
        )
        # 1 -> {10, 11}, 2 -> {10}: node 1 is the stronger hub, 10 the
        # stronger authority
        edges = spark.createDataFrame(
            [(100, 1, 10, "e"), (101, 1, 11, "e"), (102, 2, 10, "e")],
            "id long, src long, dst long, label string",
        )
        res = hits(GraphSnapshot(nodes=nodes, edges=edges, props=None), iterations=3)
        got = {r["id"]: (float(r["hub"]), float(r["authority"])) for r in res.collect()}
        assert got[1][1] == 0.0 and got[2][1] == 0.0  # hubs: no in-edges
        assert got[10][0] == 0.0 and got[11][0] == 0.0  # authorities: no out-edges
        assert got[10][1] > got[11][1] > 0.0
        assert got[1][0] > got[2][0] > 0.0
        assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-9
        assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-9

    def test_first_round_authority_proportional_to_weighted_indegree(self, spark):
        """One iteration from uniform scores: authority ratio equals the
        in-degree ratio exactly (2/3 vs 1/3 at 12 dp)."""
        from hgraphstorage_spark.analytics import hits
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame(
            [(i, "N") for i in (1, 2, 10, 11)], "id long, label string"
        )
        edges = spark.createDataFrame(
            [(100, 1, 10, "e"), (101, 2, 10, "e"), (102, 1, 11, "e")],
            "id long, src long, dst long, label string",
        )
        res = hits(GraphSnapshot(nodes=nodes, edges=edges, props=None), iterations=1)
        got = {r["id"]: float(r["authority"]) for r in res.collect()}
        assert got[10] == round(2 / 3, 12) and got[11] == round(1 / 3, 12)


class TestHyperBall:
    @pytest.mark.slow
    def test_convergence_monotonicity_and_scale(self, spark):
        """On a path graph 1->2->3->4: NF is nondecreasing per round,
        round 0 estimates ~n nodes (each ball = itself), convergence at
        the graph's depth makes later rounds EXACTLY equal (the
        register fix-point — a wrong merge direction or a lost register
        breaks equality), and the true NF(t) of a path lies within the
        HLL error band."""
        from hgraphstorage_spark.analytics import hyperball
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in (1, 2, 3, 4)],
                                      "id long, label string")
        edges = spark.createDataFrame(
            [(100, 1, 2, "e"), (101, 2, 3, "e"), (102, 3, 4, "e")],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        got = {r["round"]: float(r["nf_est"]) for r in
               hyperball(snap, rounds=4, p=8).collect()}
        assert got[0] <= got[1] <= got[2] <= got[3]
        # balls converge at depth 3: round 4 == round 3 EXACTLY
        assert got[4] == got[3]
        # p=8 (~6.5% error) over tiny sets: estimates land near truth
        # (true NF: 4, 7, 9, 10)
        assert abs(got[0] - 4) < 1.0 and abs(got[3] - 10) < 2.0

    def test_label_filter_restricts_edges(self, spark):
        from hgraphstorage_spark.analytics import hyperball
        from hgraphstorage_spark.snapshot import GraphSnapshot

        nodes = spark.createDataFrame([(i, "N") for i in (1, 2)],
                                      "id long, label string")
        edges = spark.createDataFrame(
            [(100, 1, 2, "keep"), (101, 2, 1, "drop")],
            "id long, src long, dst long, label string",
        )
        snap = GraphSnapshot(nodes=nodes, edges=edges, props=None)
        got = {r["round"]: float(r["nf_est"]) for r in
               hyperball(snap, rounds=1, p=8, labels=["keep"]).collect()}
        both = {r["round"]: float(r["nf_est"]) for r in
                hyperball(snap, rounds=1, p=8).collect()}
        # with only 1->2, node 2's ball stays size 1; with both edges
        # each ball reaches both nodes
        assert got[1] < both[1]
        # an empty label set means every label, as everywhere else
        empty = {r["round"]: float(r["nf_est"]) for r in
                 hyperball(snap, rounds=1, p=8, labels=()).collect()}
        assert empty == both

    @pytest.mark.slow
    def test_centrality_structure_on_forest(self, spark):
        """hyperball_centrality on the depth-2 location forest
        (sf0.001): a region's ball never grows -> EXACTLY 0.0; nations
        reach one region -> ~1.0; customers/suppliers reach nation+
        region -> ~1/1 + 1/2; the class ordering is strict."""
        import sys
        sys.path.insert(0, "/root/repo")
        import __spark_entry__ as entry_mod
        from hgraphstorage_spark.analytics import hyperball_centrality
        from hgraphstorage_spark.sources import load_tpch_graph

        snap = load_tpch_graph(spark, "/root/testdata/sf0.001")
        sub = entry_mod._loc_subgraph(snap)
        got = {r["id"]: float(r["harmonic_est"]) for r in
               hyperball_centrality(sub, rounds=3, p=8).collect()}
        regions = [v for k, v in got.items() if k // 10**12 == 1]
        nations = [v for k, v in got.items() if k // 10**12 == 2]
        leaves = [v for k, v in got.items() if k // 10**12 in (3, 4)]
        assert all(v == 0.0 for v in regions)
        assert all(abs(v - 1.0) < 0.15 for v in nations)
        # tiny balls can lose a term to an HLL bucket collision (a
        # customer whose region hashes into an already-set bucket) —
        # the MEDIAN leaf reading is sharp, individual ones bounded
        assert all(0.85 < v < 1.7 for v in leaves)
        assert abs(sorted(leaves)[len(leaves) // 2] - 1.5) < 0.25
        assert sorted(leaves)[len(leaves) // 2] > max(nations) > max(regions)
