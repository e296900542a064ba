"""Skew operators + IVF similarity + plan-audit helpers."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hgraphstorage_spark.operators import salted_count_by, salted_join
from hgraphstorage_spark.pipeline.similarity import cosine_topk, ivf_topk
from hgraphstorage_spark.plans import has_broadcast_join, scanned_files

from tests.conftest import bag


class TestSkew:
    def test_salted_count_equals_plain(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        plain = bag(li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt")))
        salted = bag(salted_count_by(li, ["l_returnflag"], salt=8))
        assert salted == plain

    def test_salted_join_equals_plain(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
        )
        plain = bag(li.join(orders, "l_orderkey"))
        salted = bag(salted_join(li, orders, "l_orderkey", salt=4))
        assert salted == plain

    def test_salted_join_outer(self, spark):
        big = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
        small = spark.createDataFrame([(1, "x")], "k long, w string")
        out = bag(salted_join(big, small, "k", salt=4, how="left"))
        assert out == [(1, "a", "x"), (1, "b", "x"), (2, "c", None)]


class TestIvf:
    def test_ivf_scores_match_exact_where_overlapping(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {r["vec_id"]: float(r["score"]) for r in cosine_topk(emb, 0, k=200).collect()}
        approx = ivf_topk(emb, 0, k=10, nlist=8, nprobe=3).collect()
        assert 0 < len(approx) <= 10
        for r in approx:
            assert abs(float(r["score"]) - exact[r["vec_id"]]) < 1e-9

    def test_ivf_full_probe_equals_exact(self, spark):
        """Probing every list = brute force (recall 1)."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = [(r["vec_id"], float(r["score"])) for r in cosine_topk(emb, 0, k=10).collect()]
        full = [
            (r["vec_id"], float(r["score"]))
            for r in ivf_topk(emb, 0, k=10, nlist=8, nprobe=8).collect()
        ]
        assert full == exact


class TestBucketing:
    def test_colocated_traversal_join_has_no_exchange(self, spark):
        """The dual-orientation bucketed layout (reference dual adjacency
        chains, Types.hs:62-111) must give traversal joins with NO shuffle:
        nodes.id == edges.src joins bucket-to-bucket."""
        from hgraphstorage_spark.operators import read_bucketed, write_bucketed, edges_by_dst
        from hgraphstorage_spark.sources import load_tpch_graph

        snap = load_tpch_graph(spark, "/root/testdata/sf0.001")
        write_bucketed(snap, "bkt_test", buckets=8)
        try:
            b = read_bucketed(spark, "bkt_test")
            joined = b.nodes.hint("merge").join(b.edges, b.nodes.id == b.edges.src)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == snap.edges.count()

            # In-hop orientation: join on dst against the dst-bucketed copy
            e_dst = edges_by_dst(spark, "bkt_test")
            joined_in = b.nodes.hint("merge").join(e_dst, b.nodes.id == e_dst.dst)
            plan_in = joined_in._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan_in, plan_in
        finally:
            for t in ("bkt_test_nodes", "bkt_test_edges_src", "bkt_test_edges_dst", "bkt_test_props"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestPlanHelpers:
    def test_scanned_files(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        assert scanned_files(df) == {"region.parquet": 1}

    def test_has_broadcast_join(self, spark):
        a = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        b = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        assert has_broadcast_join(a.join(F.broadcast(b), a.l_orderkey == b.r_regionkey))


class TestAsofJoin:
    """Point-in-time join semantics (operators/asof.py): inclusive ties,
    per-key isolation, NULL when nothing precedes — pinned against
    DuckDB's ASOF JOIN in test_oracle_parity.py::asof_join."""

    @pytest.fixture()
    def frames(self, spark):
        left = spark.createDataFrame(
            [(1, 10, 100.0), (1, 20, 200.0), (1, 5, 50.0), (2, 10, 300.0)],
            "user_id long, ts long, value double",
        )
        right = spark.createDataFrame(
            [(1, 10, "a"), (1, 15, "b"), (2, 99, "z")],
            "user_id long, ts long, tag string",
        )
        return left, right

    def test_latest_at_or_before(self, spark, frames):
        from hgraphstorage_spark.operators.asof import asof_join

        left, right = frames
        out = {
            (r["user_id"], r["ts"]): (r["tag_asof"], r["ts_asof"])
            for r in asof_join(left, right, on="ts", by=["user_id"]).collect()
        }
        assert out[(1, 10)] == ("a", 10)  # tie: same-instant right row matches
        assert out[(1, 20)] == ("b", 15)  # latest preceding, not first
        assert out[(1, 5)] == (None, None)  # nothing at-or-before
        assert out[(2, 10)] == (None, None)  # other user's rows invisible

    def test_left_rows_and_columns_preserved(self, spark, frames):
        from hgraphstorage_spark.operators.asof import asof_join

        left, right = frames
        out = asof_join(left, right, on="ts", by=["user_id"])
        assert out.count() == left.count()
        assert [c for c in left.columns if c not in out.columns] == []


class TestRangeJoin:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        facts = spark.createDataFrame(
            [(1, 0.5), (2, 9.99), (3, 10.0), (4, 25.0), (5, 99.0)], "fid long, p double"
        )
        # overlapping + gap intervals: [0,10), [5,15), [20,30)
        intervals = spark.createDataFrame(
            [(100, 0.0, 10.0), (200, 5.0, 15.0), (300, 20.0, 30.0)],
            "iid long, lo double, hi double",
        )
        return facts, intervals

    def test_matches_naive_theta_join(self, spark, frames):
        from hgraphstorage_spark.operators import range_join

        facts, intervals = frames
        got = sorted(
            (r["fid"], r["iid"])
            for r in range_join(facts, "p", intervals, "lo", "hi", bucket_width=4.0).collect()
        )
        naive = sorted(
            (r["fid"], r["iid"])
            for r in facts.crossJoin(intervals)
            .filter((F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi")))
            .collect()
        )
        assert got == naive
        # sanity on the semantics themselves: half-open boundary excluded,
        # overlap duplicates, gap row absent
        assert (3, 100) not in got and (3, 200) in got
        assert got.count((2, 100)) == 1 and got.count((2, 200)) == 1
        assert all(fid != 5 for fid, _ in got)

    def test_left_outer_keeps_uncovered_facts(self, spark, frames):
        from hgraphstorage_spark.operators import range_join

        facts, intervals = frames
        out = range_join(facts, "p", intervals, "lo", "hi", bucket_width=4.0, how="left_outer")
        rows = {(r["fid"], r["iid"]) for r in out.collect()}
        assert (5, None) in rows  # 99.0 covered by nothing
        assert out.filter(F.col("fid") == 5).count() == 1
        inner_n = range_join(facts, "p", intervals, "lo", "hi", bucket_width=4.0).count()
        assert out.count() == inner_n + 1

    def test_plans_as_equi_join_not_nested_loop(self, spark, frames):
        from hgraphstorage_spark.operators import range_join
        from hgraphstorage_spark.plans.audit import executed_plan

        facts, intervals = frames
        plan = executed_plan(range_join(facts, "p", intervals, "lo", "hi", bucket_width=4.0))
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


class TestNewOpPlans:
    """Plan audits for the round-2 operators: the shapes that must hold at
    100x data — Arrow-batched GEMM stages, no cartesian products, bounded
    shuffles."""

    def test_lsh_near_dup_plan_is_gemm_not_self_join(self, spark):
        from hgraphstorage_spark.pipeline.similarity import embedding_near_dup_lsh
        from hgraphstorage_spark.plans import executed_plan

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = executed_plan(embedding_near_dup_lsh(emb))
        # candidates come from per-bucket Arrow GEMM, not an O(bucket^2)
        # JVM self-join; no cartesian anywhere
        assert "FlatMapGroupsInArrow" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    def test_semantic_dedup_plan(self, spark):
        from hgraphstorage_spark.pipeline.similarity import semantic_dedup
        from hgraphstorage_spark.plans import executed_plan

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = executed_plan(semantic_dedup(emb))
        assert "FlatMapGroupsInArrow" in plan  # per-cluster GEMM
        # the only nested-loop joins allowed are kmeans' deliberate 1-row
        # broadcast of the collected centroid list (BuildRight, Cross)
        assert "CartesianProduct" not in plan
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "BuildRight, Cross" in line

    def test_token_budget_mix_no_serial_cumsum(self, spark):
        from hgraphstorage_spark.pipeline.sampling import token_budget_mix
        from hgraphstorage_spark.plans import executed_plan

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = executed_plan(token_budget_mix(docs, {"src0": 1000}))
        # the data-sized cumsum window (the one ordering by _bkt) must
        # partition by (stratum, range): a stratum-only partition spec
        # there would push every row of a stratum through ONE task's sort
        # — the 100 TB serial-stage failure this op is designed to avoid.
        # The offsets window (tiny, strata × 16^k rows) partitions by
        # stratum alone by design.
        big_windows = [ln for ln in plan.splitlines() if "Window" in ln and "_bkt" in ln]
        assert big_windows, "expected a cumsum window ordered by the hash bucket"
        assert all("_rng" in ln for ln in big_windows)
        # range offsets come back via broadcast — never a shuffled join of
        # the data against the offset frame
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    def test_probe_metadata_is_one_arrow_stage(self, spark):
        from hgraphstorage_spark.pipeline.multimodal import probe_metadata, synthetic_media
        from hgraphstorage_spark.plans import executed_plan

        plan = executed_plan(probe_metadata(synthetic_media(spark, 12)))
        assert "MapInPandas" in plan
        assert "Exchange" not in plan  # pure narrow map over batches

    def test_repetition_exact_no_keyed_shuffle_no_python(self, spark):
        """The paper-exact covered fractions are narrow HOF work — the
        data never shuffles BY KEY and never leaves the JVM. The one
        allowed Exchange is the round-robin spread of a small-file scan
        (a single parquet file arrives as one partition; without the
        spread the whole corpus folds on one core — measured 20x the
        operator's runtime). On a many-file 100 TB scan `_parallel` is a
        no-op and the plan is exchange-free."""
        from hgraphstorage_spark.pipeline.text import repetition_stats_exact
        from hgraphstorage_spark.plans import executed_plan

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = executed_plan(repetition_stats_exact(docs))
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "Pandas" not in plan and "PythonUDF" not in plan
        # the scan reads only the two columns the op needs
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
        # non-file (in-memory/derived) inputs stay exchange-free entirely:
        # their parallelism is unknown, so _parallel must not force a
        # shuffle onto plans that usually inherit a spread already
        local = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan2 = executed_plan(repetition_stats_exact(local))
        assert "Exchange" not in plan2


class TestSkewReport:
    def test_top_keys_and_fractions(self, spark):
        from hgraphstorage_spark.operators import skew_report

        rows = [(k,) for k in ["a"] * 6 + ["b"] * 3 + ["c"] * 1]
        df = spark.createDataFrame(rows, "k string")
        got = skew_report(df, ["k"], k=2).collect()
        assert [(r["rank"], r["k"], r["cnt"], float(r["frac"])) for r in got] == [
            (1, "a", 6, 0.6),
            (2, "b", 3, 0.3),
        ]

    def test_deterministic_ties(self, spark):
        from hgraphstorage_spark.operators import skew_report

        df = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
        got = [r["k"] for r in skew_report(df, ["k"], k=3).collect()]
        assert got == ["x", "y", "z"]  # equal counts -> key order


class TestWriteLayout:
    def test_partition_pruning_and_content(self, spark, tmp_path):
        from hgraphstorage_spark.sources.files import write_layout

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        path = str(tmp_path / "layout")
        write_layout(docs, path, partition_by=["lang"], sort_by=["source", "doc_id"])
        back = spark.read.parquet(path)
        # content round-trips (modulo column order: partition col moves last)
        assert bag(back.select(*docs.columns)) == bag(docs)
        # a partition filter prunes at plan time: the scan carries a
        # PartitionFilters predicate on lang and returns only that slice
        from hgraphstorage_spark.plans import partition_filters

        langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
        one = sorted(langs)[0]
        pruned = spark.read.parquet(path).filter(F.col("lang") == one)
        pf = [f for f in partition_filters(pruned) if "lang" in f]
        assert pf, "expected a lang partition filter on the scan"
        assert pruned.count() == docs.filter(F.col("lang") == one).count()
        # one file per partition directory (no small-file explosion)
        assert len(spark.read.parquet(path).inputFiles()) == len(langs)


class TestZOrder:
    def test_key_interleaves_and_roundtrips(self, spark, tmp_path):
        """Hand-checked Morton key on a 2x2 grid + content round-trip."""
        from hgraphstorage_spark.sources.files import with_zorder_key, write_zorder

        df = spark.createDataFrame(
            [(0, 0.0, 0.0), (1, 0.0, 1.0), (2, 1.0, 0.0), (3, 1.0, 1.0)],
            "id long, x double, y double",
        )
        got = {
            r["id"]: r["zkey"]
            for r in with_zorder_key(df, ["x", "y"], bits=1).collect()
        }
        # bits=1: q in {0,1}; key = qx + 2*qy
        assert got == {0: 0, 1: 2, 2: 1, 3: 3}
        path = str(tmp_path / "z")
        write_zorder(df, path, ["x", "y"], bits=8, num_files=2)
        back = spark.read.parquet(path)
        assert bag(back.select("id", "x", "y")) == bag(df)
        assert "zkey" not in back.columns

    def test_multidim_locality_beats_single_sort(self, spark, tmp_path):
        """The reason Z-order exists: per-file min/max spans stay narrow on
        BOTH dimensions, while a single-axis sort leaves the second
        dimension's per-file span at ~full width (its row-group stats are
        useless for skipping)."""
        from hgraphstorage_spark.sources.files import write_zorder

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
        write_zorder(events, zpath, ["user_id", "value"], bits=16, num_files=16)
        # single-axis contender: same file count, sorted by user_id only
        (
            events.repartitionByRange(16, "user_id")
            .sortWithinPartitions("user_id")
            .write.mode("overwrite")
            .parquet(spath)
        )

        def mean_span(path, col):
            per_file = (
                spark.read.parquet(path)
                .groupBy(F.input_file_name())
                .agg((F.max(col) - F.min(col)).alias("span"))
            )
            return per_file.agg(F.avg("span")).collect()[0][0]

        g_user = mean_span(zpath, "user_id") / max(mean_span(spath, "user_id"), 1e-9)
        g_val = mean_span(spath, "value") / max(mean_span(zpath, "value"), 1e-9)
        # single sort wins on its own axis (g_user > 1) but z-order keeps
        # BOTH axes bounded: its value spans must be at least 2x tighter
        # than the single-sort layout's near-full-width spans
        assert g_val > 2.0, (g_user, g_val)
        full_val = events.agg(F.max("value") - F.min("value")).collect()[0][0]
        assert mean_span(zpath, "value") < 0.5 * full_val


class TestDataQuality:
    def test_table_profile_counts(self, spark):
        from hgraphstorage_spark.functions.stats import table_profile

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], "k long, s string"
        )
        got = {r["col"]: r for r in table_profile(df).collect()}
        assert got["k"]["n_rows"] == 3 and got["k"]["n_nulls"] == 0
        assert got["k"]["n_distinct"] == 2
        assert (got["k"]["min_v"], got["k"]["max_v"]) == ("1", "2")
        assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2

    def test_fk_violations_null_and_orphan(self, spark):
        from hgraphstorage_spark.functions.stats import fk_violations

        child = spark.createDataFrame([(1,), (2,), (None,), (9,)], "fk long")
        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        got = [r["fk"] for r in fk_violations(child, parent, "fk", "pk").collect()]
        assert got == [9]  # NULL references nothing and violates nothing


class TestCorrelationMatrix:
    def test_known_correlations(self, spark):
        from hgraphstorage_spark.functions.stats import correlation_matrix

        df = spark.createDataFrame(
            [(1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 5.0), (3.0, 6.0, -3.0, 5.0)],
            "a double, b double, c double, d double",
        )
        got = {(r["col_a"], r["col_b"]): r["corr"]
               for r in correlation_matrix(df, ["a", "b", "c", "d"]).collect()}
        assert float(got[("a", "b")]) == 1.0      # perfectly correlated
        assert float(got[("a", "c")]) == -1.0     # perfectly anti-correlated
        assert got[("a", "d")] is None            # zero variance -> NULL
        assert len(got) == 6

    def test_matches_numpy_on_lineitem(self, spark):
        import numpy as np

        from hgraphstorage_spark.functions.stats import correlation_matrix

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        cols = ["l_quantity", "l_extendedprice", "l_discount"]
        got = {(r["col_a"], r["col_b"]): float(r["corr"])
               for r in correlation_matrix(li, cols).collect()}
        pdf = li.select(cols).toPandas().dropna()
        for (a, b), v in got.items():
            ref = np.corrcoef(pdf[a], pdf[b])[0, 1]
            assert abs(v - ref) < 1e-5, f"{a},{b}: {v} vs {ref}"

    def test_null_rows_excluded_listwise(self, spark):
        from hgraphstorage_spark.functions.stats import correlation_matrix

        df = spark.createDataFrame(
            [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (None, 100.0), (50.0, None)],
            "a double, b double",
        )
        got = correlation_matrix(df, ["a", "b"]).collect()[0]
        assert float(got["corr"]) == 1.0  # null rows never perturb the fit


class TestNumericHistogram:
    def test_partition_of_rows_and_monotone_edges(self, spark):
        from hgraphstorage_spark.functions.stats import numeric_histogram

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = sorted(numeric_histogram(ev, "value", n_bins=12).collect(),
                      key=lambda r: r["bin"])
        assert sum(r["n"] for r in rows) == ev.filter(F.col("value").isNotNull()).count()
        assert all(1 <= r["bin"] <= 12 for r in rows)
        for x, y in zip(rows, rows[1:]):
            assert x["bin"] < y["bin"] and x["lo_edge"] < y["lo_edge"]

    def test_constant_column_single_bin(self, spark):
        from hgraphstorage_spark.functions.stats import numeric_histogram

        df = spark.createDataFrame([(7.0,)] * 5, "x double")
        rows = numeric_histogram(df, "x", n_bins=10).collect()
        assert len(rows) == 1 and rows[0]["bin"] == 1 and rows[0]["n"] == 5
