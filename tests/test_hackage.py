"""Hackage-workload parity tests (reference perf suite,
``HGraphStorage/perf/.../HackageTest.hs:123-178``) + snapshot persistence
+ generic Pregel."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hgraphstorage_spark import GraphEngine, T
from hgraphstorage_spark.snapshot import GraphSnapshot
from hgraphstorage_spark.sources.hackage import load_hackage_graph


class TestHackage:
    def test_yesod_floor(self, spark):
        """The reference's embedded correctness floor: one-step query from
        'yesod' over versions edges returns ≥ 111 nodes
        (``HackageTest.hs:167-178``)."""
        snap = load_hackage_graph(spark, 200)
        eng = GraphEngine(spark, snap)
        res = eng.traverse(T().ns().has("name", "pkg_0").out("versions"))
        assert res.count() >= 111

    def test_index_lookup_every_package(self, spark):
        """Reference 'Index Lookup' bench: every package name resolves to
        exactly one node through the index."""
        snap = load_hackage_graph(spark, 50)
        eng = GraphEngine(spark, snap)
        eng.add_index("PkgName", labels=["Package"], prop_names=["name"])
        hits = eng.index_lookup("PkgName", "pkg_17").collect()
        assert len(hits) == 1
        assert hits[0]["owner_id"] == 10**9 + 17

    def test_depends_never_self(self, spark):
        snap = load_hackage_graph(spark, 50)
        deps = snap.edges.filter(F.col("label") == "depends")
        pkg_of_version = ((F.col("src") - 2 * 10**9) / 256).cast("long") + 10**9
        assert deps.filter(pkg_of_version == F.col("dst")).count() == 0


class TestSnapshotPersistence:
    def test_write_read_roundtrip(self, spark, movie_engine):
        d = tempfile.mkdtemp(prefix="hgs_snap_")
        try:
            movie_engine.checkpoint(d)
            back = GraphSnapshot.read(spark, d)
            assert back.nb_nodes() == 3
            assert back.nb_edges() == 2
            eng = GraphEngine(spark, back)
            res = eng.traverse(T().ns().has("name", "Tom Hanks").out("Played").values("name"))
            names = sorted(r["value"] for r in res.df.collect())
            assert names == ["Forrest Gump", "Sleepless in Seattle"]
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestGenericPregel:
    def test_min_propagation_equals_cc(self, spark):
        from hgraphstorage_spark.analytics import connected_components, pregel

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(6)])
        eng.add_edges([(1, 2, "e", {}), (2, 3, "e", {}), (4, 5, "e", {})])
        eng.commit()
        state = pregel(
            eng.current,
            initial=lambda nodes: F.col("id"),
            message=lambda s: s,
            aggregate=F.min,
            update=lambda old, agg: F.least(old, F.coalesce(agg, old)),
            directed=False,
        )
        want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
        assert {r["id"]: r["state"] for r in state.collect()} == want
        assert {r["id"]: r["component"] for r in connected_components(eng.current).collect()} == want

    def test_in_degree_via_pregel(self, spark):
        from hgraphstorage_spark.analytics import pregel

        eng = GraphEngine(spark)
        eng.add_nodes([("N", {}) for _ in range(4)])
        eng.add_edges([(1, 3, "e", {}), (2, 3, "e", {}), (3, 4, "e", {})])
        eng.commit()
        state = pregel(
            eng.current,
            initial=lambda nodes: F.lit(0),
            message=lambda s: F.lit(1),
            aggregate=F.sum,
            update=lambda old, agg: F.coalesce(agg, F.lit(0)),
            max_iter=1,
            check_convergence=False,
        )
        got = {r["id"]: r["state"] for r in state.collect()}
        assert got == {1: 0, 2: 0, 3: 2, 4: 1}
