"""Streaming tests: windowed aggregation parity (stream == batch) and the
mutation-stream → snapshot publication sink (reference S6/S7 parity)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hgraphstorage_spark import GraphEngine
from hgraphstorage_spark.streaming import (
    events_tumbling_agg,
    load_events,
    mutation_stream_to_snapshots,
)

from tests.conftest import bag


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="hgs_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestWindowedAgg:
    def test_stream_equals_batch(self, spark, tmpdir):
        """Micro-batched file stream over the events table must produce the
        same windowed aggregate as the batch query (complete data)."""
        batch = load_events(spark, "/root/testdata/sf0.001")
        # write as several files so the stream sees multiple micro-batches
        batch.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/events")

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/events")
        )
        q = (
            events_tumbling_agg(stream, "1 hour")
            .writeStream.format("memory")
            .queryName("agg_out")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = bag(
            spark.table("agg_out").select("window_start", "event_type", "n_events", "total_value")
        )
        want = bag(
            events_tumbling_agg(batch, "1 hour").select(
                "window_start", "event_type", "n_events", "total_value"
            )
        )
        assert got == want


class TestSessionize:
    def test_stream_equals_batch(self, spark, tmpdir):
        """Session windows on a micro-batched stream must match the batch
        result on complete data (watermark sized past the table's
        out-of-orderness so no row is dropped as late)."""
        from hgraphstorage_spark.streaming import sessionize

        batch = load_events(spark, "/root/testdata/sf0.001")
        batch.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/sess_ev")
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/sess_ev")
        )
        q = (
            sessionize(stream, watermark="60 days")
            .writeStream.format("memory")
            .queryName("sess_parity_out")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmpdir}/ckpt_sess")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = bag(spark.table("sess_parity_out"))
        want = bag(sessionize(batch))
        assert got == want


class TestStreamDedup:
    def test_stream_dedup_equals_batch(self, spark, tmpdir):
        """Exact dedup on a stream (dropDuplicatesWithinWatermark) keeps one
        row per key — same distinct key set as the batch dropDuplicates."""
        from hgraphstorage_spark.streaming import stream_dedup

        batch = load_events(spark, "/root/testdata/sf0.001")
        # inject exact duplicates so dedup has work to do
        dup = batch.unionAll(batch.limit(50))
        dup.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/dupev")

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/dupev")
        )
        q = (
            # watermark delay must exceed the table's 30-day time span:
            # files arrive in arbitrary order, and rows older than the
            # advanced watermark would be EVICTED, not deduped
            stream_dedup(stream, ["event_id"], watermark="60 days")
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_dedup")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r["event_id"] for r in spark.table("dedup_out").select("event_id").collect()}
        want = {r["event_id"] for r in stream_dedup(dup, ["event_id"]).select("event_id").collect()}
        assert got == want


    def test_watermark_evicts_dedup_state(self, spark, tmpdir):
        """The watermark bounds dedup state (the trade-off stream_dedup
        documents): a duplicate arriving while the key is in state is
        dropped; after the watermark passes key_ts + delay the state is
        evicted and a (non-late) duplicate re-emits."""
        import datetime as dt

        from hgraphstorage_spark.streaming import stream_dedup

        base = dt.datetime(2026, 1, 1, 12, 0, 0)
        schema = "event_id long, ts timestamp"

        def feed(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
                f"{tmpdir}/wmev"
            )

        feed([(1, base)])  # batch 1: first sighting of key 1
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/wmev")
        )
        q = (
            stream_dedup(stream, ["event_id"], watermark="1 hour")
            .writeStream.format("memory")
            .queryName("wm_dedup_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_wm")
            .start()
        )
        try:
            q.processAllAvailable()
            # batch 2: in-state duplicate (deduped) + a 15:00 row that
            # advances the watermark to 14:00, evicting key 1 (12:00 + 1h)
            feed([(1, base + dt.timedelta(minutes=5)), (2, base + dt.timedelta(hours=3))])
            q.processAllAvailable()
            # batch 3: key 1 again at 14:30 — not late (>= watermark), but
            # its state is gone, so it re-emits
            feed([(1, base + dt.timedelta(hours=2, minutes=30))])
            q.processAllAvailable()
        finally:
            q.stop()

        counts = {
            r["event_id"]: r["n"]
            for r in spark.table("wm_dedup_out").groupBy("event_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert counts == {1: 2, 2: 1}


class TestStatefulCounts:
    def test_running_counts_stream_equals_batch(self, spark, tmpdir):
        """Reference A1 parity (maintained nbNodes/nbEdges counters,
        STMGraph Raw.hs:424-479) as a custom stateful operator: the final
        per-key running count from the stream must equal the batch sum of
        deltas."""
        from hgraphstorage_spark.streaming import running_label_counts

        rows = (
            [{"op": "add_node", "label": "Person"} for _ in range(5)]
            + [{"op": "add_node", "label": "Movie"} for _ in range(3)]
            + [{"op": "del_node", "label": "Person"}]
            + [{"op": "add_edge", "label": "acted_in"} for _ in range(4)]
            + [{"op": "del_edge", "label": "acted_in"}]
        )
        df = spark.createDataFrame(rows, "op string, label string")
        df.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/muts")

        stream = (
            spark.readStream.schema("op string, label string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/muts")
        )
        q = (
            running_label_counts(stream)
            .writeStream.format("memory")
            .queryName("counts_out")
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt_counts")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # update-mode memory sink appends every emission; the LAST row per
        # key is the final running count
        import pandas as pd

        emitted = spark.table("counts_out").toPandas()
        final = emitted.groupby(["kind", "label"]).last()["n"].to_dict()
        want = {
            (r["kind"], r["label"]): r["n"]
            for r in running_label_counts(df).collect()
        }
        assert final == want
        assert want[("node", "Person")] == 4
        assert want[("edge", "acted_in")] == 3


class TestMutationStream:
    def test_snapshots_published_per_batch(self, spark, tmpdir):
        """Reference S6 writer-thread parity: mutation events drained in
        micro-batches, each producing one committed snapshot version."""
        rows = [
            {"op": "add_node", "id": i, "src": None, "dst": None, "label": "N"} for i in range(1, 5)
        ] + [
            {"op": "add_edge", "id": 1, "src": 1, "dst": 2, "label": "e"},
            {"op": "add_edge", "id": 2, "src": 2, "dst": 3, "label": "e"},
        ]
        df = spark.createDataFrame(rows, "op string, id long, src long, dst long, label string")
        df.repartition(2).write.mode("overwrite").parquet(f"{tmpdir}/mutations")

        stream = (
            spark.readStream.schema("op string, id long, src long, dst long, label string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/mutations")
        )
        eng = GraphEngine(spark)
        q = mutation_stream_to_snapshots(eng, stream, f"{tmpdir}/ckpt2")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        assert eng.committed.nb_nodes() == 4
        assert eng.committed.nb_edges() == 2
        # one committed version per non-empty micro-batch
        assert len(eng.versions) >= 2


class TestIntervalJoin:
    def test_batch_semantics(self, spark):
        """Inclusive bounds: right.ts in [left.ts - lookback, left.ts]."""
        from hgraphstorage_spark.streaming.joins import interval_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 7)], "event_id long, ts string, user_id long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [
                (10, "2024-01-01 09:30:00", 7),  # exactly lookback ago -> in
                (11, "2024-01-01 09:29:59", 7),  # too old -> out
                (12, "2024-01-01 10:00:00", 7),  # same instant -> in
                (13, "2024-01-01 10:00:01", 7),  # future -> out
                (14, "2024-01-01 09:45:00", 8),  # other user -> out
            ],
            "event_id long, ts string, user_id long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = sorted(
            r["event_id_r"]
            for r in interval_join(left, right, lookback="30 minutes").collect()
        )
        assert got == [10, 12]

    def test_stream_equals_batch(self, spark, tmpdir):
        """Stream-stream interval join (watermarked, append) must equal the
        batch join on complete data."""
        from hgraphstorage_spark.streaming.joins import interval_join

        batch = load_events(spark, "/root/testdata/sf0.001")
        clicks_b = batch.filter("event_type = 'click'").select("event_id", "ts", "user_id")
        views_b = batch.filter("event_type = 'view'").select("event_id", "ts", "user_id", "value")
        batch.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/events")

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(f"{tmpdir}/events")
        )
        clicks_s = stream.filter("event_type = 'click'").select("event_id", "ts", "user_id")
        views_s = stream.filter("event_type = 'view'").select("event_id", "ts", "user_id", "value")
        q = (
            interval_join(clicks_s, views_s, watermark="24 hours")
            .writeStream.format("memory")
            .queryName("ij_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_ij")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        cols = ["event_id", "user_id", "event_id_r"]
        got = bag(spark.table("ij_out").select(*cols))
        want = bag(interval_join(clicks_b, views_b).select(*cols))
        assert len(want) > 0
        assert got == want

    def test_left_outer_keeps_unmatched(self, spark):
        from hgraphstorage_spark.streaming.joins import interval_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 7), (2, "2024-01-01 10:00:00", 9)],
            "event_id long, ts string, user_id long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            [(10, "2024-01-01 09:50:00", 7)], "event_id long, ts string, user_id long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            r["event_id"]: r["event_id_r"]
            for r in interval_join(left, right, how="left_outer").collect()
        }
        assert out == {1: 10, 2: None}


class TestStreamStaticEnrich:
    def test_stream_equals_batch(self, spark, tmpdir):
        """Stream-static enrichment must match the batch join, and the
        static side must broadcast (the stream side never shuffles for
        the join)."""
        from hgraphstorage_spark.streaming import enrich_with_dimension, load_events

        batch = load_events(spark, "/root/testdata/sf0.001")
        batch.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/events")
        dim = (
            spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        )

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/events")
        )
        q = (
            enrich_with_dimension(stream, dim, on="user_id")
            .writeStream.format("memory")
            .queryName("enrich_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_enrich")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = bag(spark.table("enrich_out").select("event_id", "user_id", "c_mktsegment"))
        want = bag(
            enrich_with_dimension(batch, dim, on="user_id").select(
                "event_id", "user_id", "c_mktsegment"
            )
        )
        assert got == want

    def test_dimension_broadcasts(self, spark):
        from hgraphstorage_spark.plans.audit import executed_plan
        from hgraphstorage_spark.streaming import enrich_with_dimension, load_events

        ev = load_events(spark, "/root/testdata/sf0.001")
        dim = (
            spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
            .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        )
        plan = executed_plan(enrich_with_dimension(ev, dim, on="user_id"))
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # stream side stays narrow


class TestStreamNearDedup:
    def _docs(self, spark):
        rows = [
            (0, "2024-01-01 00:00:00", "the quick brown fox jumps over the lazy dog tonight"),
            # word-identical reorder of 0's tail words -> same shingle set
            (1, "2024-01-01 00:05:00", "the quick brown fox jumps over the lazy dog tonight"),
            (2, "2024-01-01 00:10:00", "completely different text about spark query planning"),
            (3, "2024-01-01 00:15:00", "another unrelated document mentioning graph storage"),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, ts string, text string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_stream_equals_batch(self, spark, tmpdir):
        from hgraphstorage_spark.streaming import stream_near_dedup

        docs = self._docs(spark)
        docs.repartition(2).write.mode("overwrite").parquet(f"{tmpdir}/neardup")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/neardup")
        )
        q = (
            stream_near_dedup(stream, watermark="60 days")
            .writeStream.format("memory")
            .queryName("neardup_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_neardup")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["doc_id"] for r in spark.table("neardup_out").collect()}
        batch_kept = {r["doc_id"] for r in stream_near_dedup(docs).collect()}
        # identical fingerprints collapse to one representative each
        assert len(got) == len(batch_kept) == 3
        assert 2 in got and 3 in got and len(got & {0, 1}) == 1

    def test_fingerprint_matches_batch_simhash(self, spark):
        """The streaming fingerprint is the same bits as pipeline.simhash."""
        from hgraphstorage_spark.pipeline.dedup import simhash
        from hgraphstorage_spark.streaming import stream_near_dedup

        docs = self._docs(spark)
        fps = {r["doc_id"]: r["simhash"] for r in simhash(docs, n=4).collect()}
        kept = {r["doc_id"] for r in stream_near_dedup(docs).collect()}
        # batch path drops exactly the doc whose fingerprint repeats,
        # keeping the EARLIEST-ts row deterministically (ADVICE r3: the
        # keeper is a window min, not dropDuplicates' arbitrary row)
        assert fps[0] == fps[1] and fps[0] != fps[2]
        assert kept == {0, 2, 3}

    def test_batch_keeper_is_earliest_ts(self, spark):
        """Deterministic batch keeper: same fingerprint, shuffled input
        order — the minimum-ts row always survives."""
        from hgraphstorage_spark.streaming import stream_near_dedup

        rows = [
            (7, "2024-01-01 02:00:00", "identical text payload for keeper check"),
            (5, "2024-01-01 01:00:00", "identical text payload for keeper check"),
            (9, "2024-01-01 03:00:00", "identical text payload for keeper check"),
        ]
        docs = (
            spark.createDataFrame(rows, "doc_id long, ts string, text string")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .repartition(3)
        )
        for _ in range(3):
            kept = [r["doc_id"] for r in stream_near_dedup(docs).collect()]
            assert kept == [5]


class TestDsirStream:
    def test_train_apply_split_equals_fused(self, spark):
        """dsir_score over a dsir_ratio_table must reproduce dsir_weights
        exactly — the train/apply split is a pure refactor of the fused
        operator."""
        from hgraphstorage_spark.pipeline import (
            dsir_ratio_table,
            dsir_score,
            dsir_weights,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        target = docs.filter(F.col("source") == "src0")
        ratios = dsir_ratio_table(docs, target, n_buckets=256)
        got = bag(dsir_score(docs, ratios, n_buckets=256))
        want = bag(dsir_weights(docs, target, n_buckets=256))
        assert got == want and len(got) > 0

    def test_stream_scores_equal_batch(self, spark, tmpdir):
        """Multi-micro-batch streaming scoring against a fixed ratio table
        equals batch scoring of the same rows EXACTLY (per-doc pure
        function; no watermark dependence), and the stream really ran as
        more than one batch."""
        from hgraphstorage_spark.pipeline import dsir_ratio_table, dsir_score
        from hgraphstorage_spark.streaming import dsir_stream_score

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        target = docs.filter(F.col("source") == "src0")
        ratios = dsir_ratio_table(docs, target, n_buckets=256).cache()
        ratios.count()

        docs.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/docs")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/docs")
        )
        q = dsir_stream_score(
            stream, ratios, f"{tmpdir}/ckpt", f"{tmpdir}/scores", n_buckets=256
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        out = spark.read.parquet(f"{tmpdir}/scores")
        assert out.select("batch_id").distinct().count() > 1
        got = bag(out.select("doc_id", "n_grams", "log_weight"))
        want = bag(dsir_score(docs, ratios, n_buckets=256))
        assert got == want and len(got) > 0
        ratios.unpersist()


class TestStreamEmbedDedup:
    def _embs(self, spark):
        base = [0.5, -0.25, 1.0, 0.125, -0.75, 0.3, 0.9, -0.1]
        near = [v * 1.0001 for v in base]             # same direction
        far = [-v for v in base]                      # opposite direction
        other = [1.0, 1.0, -1.0, 0.5, 0.5, -0.5, 0.25, 2.0]
        rows = [
            (0, "2024-01-01 00:00:00", base),
            (1, "2024-01-01 00:05:00", near),
            (2, "2024-01-01 00:10:00", far),
            (3, "2024-01-01 00:15:00", other),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, ts string, embedding array<float>"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_stream_equals_batch_signature_sets(self, spark, tmpdir):
        from hgraphstorage_spark.streaming import stream_embed_dedup

        embs = self._embs(spark)
        embs.repartition(2).write.mode("overwrite").parquet(f"{tmpdir}/embdedup")
        stream = (
            spark.readStream.schema(embs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/embdedup")
        )
        q = (
            stream_embed_dedup(stream, dims=8, bits=16, watermark="60 days")
            .writeStream.format("memory")
            .queryName("embdedup_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt_embdedup")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["vec_id"] for r in spark.table("embdedup_out").collect()}
        batch_kept = {r["vec_id"] for r in stream_embed_dedup(embs, dims=8, bits=16).collect()}
        # colinear vectors share every plane sign -> one of {0,1} kept;
        # opposite/unrelated vectors survive; stream agrees with batch on count
        assert len(got) == len(batch_kept) == 3
        assert 2 in got and 3 in got and len(got & {0, 1}) == 1

    def test_signature_matches_batch_lsh_bits(self, spark):
        from hgraphstorage_spark.pipeline.similarity import signature_bits
        from hgraphstorage_spark.streaming import stream_embed_dedup

        embs = self._embs(spark)
        sigs = {
            r["vec_id"]: r["s"]
            for r in embs.select(
                "vec_id", signature_bits("embedding", dims=8, bits=16).alias("s")
            ).collect()
        }
        kept = {r["vec_id"] for r in stream_embed_dedup(embs, dims=8, bits=16).collect()}
        assert sigs[0] == sigs[1] != sigs[2]
        assert kept == {0, 2, 3}  # earliest-ts keeper

    def test_batch_keeper_deterministic_under_shuffle(self, spark):
        from hgraphstorage_spark.streaming import stream_embed_dedup

        v = [0.1] * 8
        rows = [(7, "2024-01-01 02:00:00", v), (5, "2024-01-01 01:00:00", v),
                (9, "2024-01-01 03:00:00", v)]
        embs = (
            spark.createDataFrame(rows, "vec_id long, ts string, embedding array<float>")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .repartition(3)
        )
        kept = [r["vec_id"] for r in stream_embed_dedup(embs, dims=8, bits=16).collect()]
        assert kept == [5]


class TestStreamHeavyHitters:
    def test_under_capacity_stream_counts_exact(self, spark, tmpdir):
        """Distinct items < capacity => Misra-Gries never decrements and
        the final streamed summary equals the exact batch counts."""
        from hgraphstorage_spark.streaming import stream_heavy_hitters

        rows = [(f"item{i % 5}",) for i in range(200)]
        batch = spark.createDataFrame(rows, "item string")
        batch.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/hh")
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/hh")
        )
        q = (
            stream_heavy_hitters(stream, capacity=16, shards=4)
            .writeStream.format("memory")
            .queryName("hh_out")
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt_hh")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # LAST emission per (shard, item) is the final summary
        import pandas as pd  # noqa: F401

        pdf = spark.table("hh_out").toPandas()
        final = pdf.groupby(["shard", "item"]).last().reset_index()
        got = {(r.shard, r.item): r.count_lb for r in final.itertuples()}
        want = {
            (r["shard"], r["item"]): r["count_lb"]
            for r in stream_heavy_hitters(batch, capacity=16, shards=4).collect()
        }
        assert got == want and sum(want.values()) == 200

    def test_over_capacity_undercount_bound(self, spark, tmpdir):
        """capacity=2 with a dominant item: the heavy item survives and
        count_lb <= true <= count_lb + N/(capacity+1) per shard."""
        from hgraphstorage_spark.streaming import stream_heavy_hitters

        rows = [("big",)] * 60 + [(f"rare{i}",) for i in range(30)]
        batch = spark.createDataFrame(rows, "item string")
        batch.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/hh2")
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/hh2")
        )
        q = (
            stream_heavy_hitters(stream, capacity=2, shards=1)
            .writeStream.format("memory")
            .queryName("hh2_out")
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/ckpt_hh2")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        pdf = spark.table("hh2_out").toPandas()
        final = pdf.groupby(["shard", "item"]).last().reset_index()
        got = {r.item: r.count_lb for r in final.itertuples()}
        assert "big" in got                      # any item > N/(k+1) must survive
        assert got["big"] <= 60 <= got["big"] + 90 // 3


class TestStreamUrlDedup:
    def test_stream_and_batch_agree_on_canonical_set(self, spark, tmpdir):
        from hgraphstorage_spark.streaming import stream_url_dedup

        rows = [
            (1, "https://www.site.com/a?utm_source=x", "2024-01-01 00:00:05"),
            (2, "http://site.com/a", "2024-01-01 00:00:01"),
            (3, "https://site.com/b", "2024-01-01 00:00:02"),
            (4, "https://site.com/b/", "2024-01-01 00:00:03"),
        ]
        docs = (
            spark.createDataFrame(rows, "doc_id long, url string, ts string")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        docs.repartition(2).write.mode("overwrite").parquet(f"{tmpdir}/urls")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/urls")
        )
        q = (
            stream_url_dedup(stream)
            .writeStream.format("parquet")
            .option("path", f"{tmpdir}/sink")
            .option("checkpointLocation", f"{tmpdir}/ckpt_url")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        streamed = spark.read.parquet(f"{tmpdir}/sink")
        assert streamed.count() == 2  # site.com/a, site.com/b
        sset = {r["url_norm"] for r in streamed.select("url_norm").collect()}
        batch = stream_url_dedup(docs)  # delegates to url_dedup
        bset = {r["url_norm"] for r in batch.select("url_norm").collect()}
        assert sset == bset == {"site.com/a", "site.com/b"}
        # batch keeper is the deterministic earliest fetch
        assert {r["doc_id"] for r in batch.collect()} == {2, 3}


class TestStreamTopicScore:
    def test_stream_topics_equal_batch(self, spark, tmpdir):
        """Multi-micro-batch topic routing against a fixed (idf,
        centroids) model equals batch topic_assign EXACTLY (pure
        function of text + model; no watermark dependence), and the
        stream really ran as more than one batch."""
        from hgraphstorage_spark.pipeline.similarity import topic_assign, topic_model

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        idf, cents = topic_model(docs, n_topics=4)
        idf, cents = idf.cache(), cents.cache()
        idf.count(), cents.count()

        from hgraphstorage_spark.streaming import stream_topic_score

        docs.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/docs")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/docs")
        )
        q = stream_topic_score(stream, idf, cents, f"{tmpdir}/ckpt", f"{tmpdir}/topics")
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        out = spark.read.parquet(f"{tmpdir}/topics")
        assert out.select("batch_id").distinct().count() > 1
        got = bag(out.select("doc_id", "topic"))
        want = bag(topic_assign(docs, idf, cents))
        assert got == want and len(got) == 500
        idf.unpersist(); cents.unpersist()


class TestStreamQuantileSketch:
    def test_stream_registers_equal_batch_sketch(self, spark, tmpdir):
        """The mergeable-quantile stream: 4 micro-batches of events
        merged into the register table must equal the one-shot batch
        sketch BIT-FOR-BIT (the exact merge law — ids globally
        distinct), the state stays <= k rows per group, and no __tmp /
        __old swap residue survives a clean run."""
        import os

        from hgraphstorage_spark.functions.stats import quantile_sketch
        from hgraphstorage_spark.streaming import load_events, stream_quantile_sketch

        ev = load_events(spark, "/root/testdata/sf0.001").select(
            "event_id", "event_type", "value"
        )
        ev.repartition(4).write.mode("overwrite").parquet(f"{tmpdir}/src")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/src")
        )
        q = stream_quantile_sketch(
            stream, "value", "event_id", f"{tmpdir}/ckpt", f"{tmpdir}/regs",
            group_cols=["event_type"], k=64,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(f"{tmpdir}/regs")
        want = quantile_sketch(
            ev, "value", "event_id", group_cols=["event_type"], k=64
        )
        assert bag(got) == bag(want)
        per_group = got.groupBy("event_type").count().collect()
        assert all(r["count"] <= 64 for r in per_group)
        assert not os.path.exists(f"{tmpdir}/regs__tmp")
        assert not os.path.exists(f"{tmpdir}/regs__old")

    def test_crash_window_old_only_state_survives(self, spark, tmpdir):
        """ADVICE r7 (medium): if a crash lands between the two swap
        renames, the accumulated state lives ONLY in ``__old`` (main
        absent). The next batch must merge against that fallback — and
        must NOT delete it before main is restored, or a second crash in
        that window silently resets the stream to first-batch. Simulate
        the window by renaming main -> __old between two runs and check
        the final registers still equal the batch sketch of ALL rows."""
        import os

        from hgraphstorage_spark.functions.stats import quantile_sketch
        from hgraphstorage_spark.streaming import load_events, stream_quantile_sketch

        ev = load_events(spark, "/root/testdata/sf0.001").select(
            "event_id", "event_type", "value"
        )
        first = ev.filter(F.col("event_id") % 2 == 0)
        second = ev.filter(F.col("event_id") % 2 == 1)

        def run(src_df, src, ckpt):
            src_df.repartition(2).write.mode("overwrite").parquet(f"{tmpdir}/{src}")
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmpdir}/{src}")
            )
            q = stream_quantile_sketch(
                stream, "value", "event_id", f"{tmpdir}/{ckpt}",
                f"{tmpdir}/regs", group_cols=["event_type"], k=64,
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run(first, "src1", "ckpt1")
        # simulate the crash window: main renamed away, state in __old only
        os.rename(f"{tmpdir}/regs", f"{tmpdir}/regs__old")
        run(second, "src2", "ckpt2")
        got = spark.read.parquet(f"{tmpdir}/regs")
        want = quantile_sketch(
            ev, "value", "event_id", group_cols=["event_type"], k=64
        )
        assert bag(got) == bag(want)
        assert not os.path.exists(f"{tmpdir}/regs__old")


class TestStreamCrawlFrontier:
    def test_stream_register_equals_batch_frontier(self, spark, tmpdir):
        """Incrementally maintained frontier demand: link rows stream
        through multiple micro-batches (the same edge re-arriving in
        different batches must ADD to n_inlinks while n_sources stays
        exact-distinct), and frontier_compose over the register must
        equal batch crawl_frontier over all streamed links."""
        import os

        from hgraphstorage_spark.sources.warc import (
            crawl_frontier,
            frontier_compose,
            parse_robots,
        )
        from hgraphstorage_spark.streaming import (
            frontier_agg_from_register,
            stream_crawl_frontier,
        )

        rows = [
            # (src page, link target) — t.com/hot repeats across rows so
            # different micro-batches carry the same edge
            ("https://x.com/a", "https://t.com/hot"),
            ("https://x.com/a", "https://t.com/hot"),
            ("https://y.com/b", "https://t.com/hot"),
            ("https://y.com/b", "https://u.com/solo"),
            ("https://z.com/c", "https://t.com/hot"),
            ("https://z.com/c", "https://t.com/cold"),
        ]
        links = spark.createDataFrame(rows, "url string, link_url string")
        links.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/src")
        stream = (
            spark.readStream.schema(links.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/src")
        )
        q = stream_crawl_frontier(stream, f"{tmpdir}/ckpt", f"{tmpdir}/regs")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rules = parse_robots(
            spark.createDataFrame(
                [("t.com", "User-agent: *\nDisallow: /cold\n")],
                "domain string, robots_txt string",
            )
        )
        got = frontier_compose(
            frontier_agg_from_register(spark, f"{tmpdir}/regs"), rules
        )
        want = crawl_frontier(links, rules)
        assert bag(got) == bag(want)
        hot = {r["url"]: r for r in got.collect()}["https://t.com/hot"]
        assert (hot["n_inlinks"], hot["n_sources"]) == (4, 3)
        assert not os.path.exists(f"{tmpdir}/regs__tmp")
        assert not os.path.exists(f"{tmpdir}/regs__old")
        # r8 advice pin: committed batches FOLD into one compact row
        # per (url, src) (batch_id = -1); only the in-flight batch may
        # remain at batch granularity — state is O(distinct edges), not
        # O(batches x edges)
        reg = spark.read.parquet(f"{tmpdir}/regs")
        live_batches = [
            r["batch_id"]
            for r in reg.filter("batch_id >= 0").select("batch_id").distinct().collect()
        ]
        assert len(live_batches) <= 1, live_batches
        n_edges = links.select("url", "link_url").distinct().count()
        assert reg.count() <= n_edges + reg.filter("batch_id >= 0").count()

    def test_register_compaction_preserves_counts_across_restarts(
        self, spark, tmpdir
    ):
        """The fold must be lossless: stream three batches, restart the
        stream over three MORE batches re-delivering the same edges
        (new files, same checkpoint), and the register aggregate still
        equals the batch aggregate over everything streamed — compacted
        counts add with the fresh batch rows."""
        from hgraphstorage_spark.streaming import (
            frontier_agg_from_register,
            stream_crawl_frontier,
        )

        rows = [
            ("https://x.com/a", "https://t.com/hot"),
            ("https://y.com/b", "https://t.com/hot"),
            ("https://z.com/c", "https://u.com/solo"),
        ]
        links = spark.createDataFrame(rows, "url string, link_url string")

        def run():
            stream = (
                spark.readStream.schema(links.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmpdir}/src")
            )
            q = stream_crawl_frontier(stream, f"{tmpdir}/ckpt", f"{tmpdir}/regs")
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        links.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/src")
        run()
        links.repartition(3).write.mode("append").parquet(f"{tmpdir}/src")
        run()
        got = {
            r["url"]: (r["n_inlinks"], r["n_sources"])
            for r in frontier_agg_from_register(spark, f"{tmpdir}/regs").collect()
        }
        # every edge streamed twice: counts double, distinct srcs stable
        assert got["https://t.com/hot"] == (4, 2)
        assert got["https://u.com/solo"] == (2, 1)


class TestStreamValidatorRegister:
    def test_stream_register_equals_batch_state(self, spark, tmpdir):
        """The validator register's merge law: envelopes stream through
        multiple micro-batches; the register must equal batch
        validator_state over everything streamed, bit-for-bit — and
        re-running the stream over the SAME files with a fresh
        checkpoint (every batch redelivered in full) must leave the
        register unchanged (idempotent by algebra, no batch-id
        bookkeeping)."""
        from hgraphstorage_spark.sources.warc import validator_state
        from hgraphstorage_spark.streaming import stream_validator_register

        rows = [
            # url A: three observations, latest (03-05) wins
            ("https://t.com/a", "2024-03-01T00:00:00Z", '"a1"', None, 200),
            ("https://t.com/a", "2024-03-05T00:00:00Z", '"a2"',
             "Tue, 05 Mar 2024 00:00:00 GMT", 200),
            ("https://t.com/a", "2024-03-03T00:00:00Z", '"a3"', None, 304),
            # url B: one observation with NULL etag
            ("https://t.com/b", "2024-03-02T00:00:00Z", None, None, 404),
            # url C: exact-timestamp tie -> larger etag breaks it
            ("https://t.com/c", "2024-03-01T00:00:00Z", '"c1"', None, 200),
            ("https://t.com/c", "2024-03-01T00:00:00Z", '"c2"', None, 200),
        ]
        env = spark.createDataFrame(
            rows,
            "target_uri string, warc_date string, etag string, "
            "last_modified string, http_status int",
        )
        env.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/src")

        def run(ckpt):
            stream = (
                spark.readStream.schema(env.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmpdir}/src")
            )
            q = stream_validator_register(
                stream, f"{tmpdir}/{ckpt}", f"{tmpdir}/regs"
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run("ckpt1")
        got = {
            r["url"]: (r["fetch"], r["etag"], r["last_modified"], r["http_status"])
            for r in spark.read.parquet(f"{tmpdir}/regs").collect()
        }
        want = {
            r["url"]: (r["fetch"], r["etag"], r["last_modified"], r["http_status"])
            for r in validator_state(env).collect()
        }
        assert got == want
        assert got["https://t.com/a"] == (
            "2024-03-05T00:00:00Z", '"a2"', "Tue, 05 Mar 2024 00:00:00 GMT", 200
        )
        assert got["https://t.com/b"] == ("2024-03-02T00:00:00Z", None, None, 404)
        assert got["https://t.com/c"][1] == '"c2"'  # tie-break deterministic
        # full redelivery: fresh checkpoint, same files, same register
        run("ckpt2")
        again = {
            r["url"]: (r["fetch"], r["etag"], r["last_modified"], r["http_status"])
            for r in spark.read.parquet(f"{tmpdir}/regs").collect()
        }
        assert again == want


class TestStreamSitemapHints:
    def test_stream_register_equals_batch_state(self, spark, tmpdir):
        """The freshness-hint register law (r10): hint entries stream
        through micro-batches; the register must equal batch
        sitemap_hint_state over everything streamed (latest lastmod /
        first changefreq / max priority — frontier_compose's own
        duplicate resolution), and full redelivery with a fresh
        checkpoint leaves it unchanged (idempotent by algebra)."""
        from decimal import Decimal

        from hgraphstorage_spark.sources.warc import sitemap_hint_state
        from hgraphstorage_spark.streaming import stream_sitemap_hints

        rows = [
            # url A: stale decoy must lose all three folds
            ("url", "https://t.com/a", "2024-02-01", "daily", Decimal("0.5")),
            ("url", "https://t.com/a", "2023-12-31", "yearly", None),
            # url B: NULL lastmod loses to any dated entry; priority max
            ("url", "https://t.com/b", None, "weekly", Decimal("0.9")),
            ("url", "https://t.com/b", "2024-01-15", "monthly", Decimal("0.2")),
            # sitemapindex rows are not hints and must be filtered out
            ("sitemapindex", "https://t.com/sub.xml", None, None, None),
        ]
        entries = spark.createDataFrame(
            rows,
            "kind string, loc string, lastmod string, changefreq string, "
            "priority decimal(3,1)",
        )
        entries.repartition(3).write.mode("overwrite").parquet(f"{tmpdir}/src")

        def run(ckpt):
            stream = (
                spark.readStream.schema(entries.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmpdir}/src")
            )
            q = stream_sitemap_hints(stream, f"{tmpdir}/{ckpt}", f"{tmpdir}/regs")
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        def snap(df):
            return {
                r["loc"]: (r["lastmod"], r["changefreq"], r["priority"])
                for r in df.collect()
            }

        run("ckpt1")
        got = snap(spark.read.parquet(f"{tmpdir}/regs"))
        want = snap(sitemap_hint_state(entries))
        assert got == want
        assert got["https://t.com/a"] == ("2024-02-01", "daily", Decimal("0.5"))
        assert got["https://t.com/b"] == ("2024-01-15", "monthly", Decimal("0.9"))
        assert "https://t.com/sub.xml" not in got
        # full redelivery: fresh checkpoint, same files, same register
        run("ckpt2")
        assert snap(spark.read.parquet(f"{tmpdir}/regs")) == want
