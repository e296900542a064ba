"""Structured Streaming ingest (SURVEY.md §7 M6).

The reference's closest analogue is STMGraph's write-behind queue: a
writer thread drains mutation ``WriteEvent``s to disk
(``STMGraph/src/Database/Graph/STMGraph/Raw.hs:253-306``; event ADT
``Types.hs:507-518``). Spark-first, that's a mutation-event stream with
``foreachBatch`` snapshot publication — each micro-batch produces one new
committed snapshot version (the reference's batch-atomicity, T8).

The windowed aggregation over the driver's ``events`` table is the
watermark/late-data extension; the batch form (``events_tumbling_agg``)
and the streaming form produce identical results for fully-arrived data,
which is what the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hgraphstorage_spark import schemas
from hgraphstorage_spark.engine import GraphEngine

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table. The testdata stores ts as TIMESTAMP(NANOS)
    (read as long via nanosAsLong); convert to microsecond timestamps —
    the same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer DIV — ts is ~1.7e18 ns, far beyond double's 2^53 exactness
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # Sessions we don't control (the correctness driver builds its own)
        # may read parquet timestamps as TIMESTAMP_NTZ; unix_micros & friends
        # need TIMESTAMP. The cast is wall-clock-preserving under UTC session tz
        # and matches DuckDB's naive-as-UTC reading of the same files.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_tumbling_agg(events: DataFrame, window: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type. Works on both batch and
    streaming DataFrames (same plan; streaming adds state + watermark —
    size ``watermark`` to the source's out-of-orderness).
    Money-ish sums go through DECIMAL so results are order-independent."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def sessionize(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Session windows per user (gap-based). Streaming-native via
    ``session_window``; batch gives identical results on complete data.
    ``watermark`` bounds session state and the tolerated event lateness —
    size it to the source's out-of-orderness."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, key_cols: list[str], watermark: str = "1 hour") -> DataFrame:
    """Exact dedup on a stream: keep the first row per key, with state
    bounded by the watermark (keys older than the watermark are evicted —
    a late duplicate beyond it would re-emit; that is the documented
    watermark trade-off). Batch DataFrames get plain dropDuplicates so
    stream==batch parity is testable on complete data."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)
    return events.dropDuplicates(key_cols)


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over an events directory (parquet)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def mutation_stream_to_snapshots(engine: GraphEngine, mutations_stream: DataFrame, checkpoint_dir: str):
    """Drain a mutation-event stream into the engine: every micro-batch
    becomes one committed snapshot (reference S6 writer thread + S7
    checkpoint parity — the batch is atomic, durability is the stream
    checkpoint).

    Event schema: op STRING ('add_node'|'add_edge'), id LONG, src LONG,
    dst LONG, label STRING — property events ride along as columns.
    """

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        nodes = batch_df.filter(F.col("op") == "add_node").select("id", "label")
        edges = batch_df.filter(F.col("op") == "add_edge").select("id", "src", "dst", "label")
        # foreachBatch may redeliver on failure; dropDuplicates on id keeps
        # the publication idempotent within the batch
        if nodes.limit(1).count() > 0:
            engine.add_nodes_df(nodes.dropDuplicates(["id"]))
        if edges.limit(1).count() > 0:
            engine.add_edges_df(edges.dropDuplicates(["id"]))
        engine.commit()

    return (
        mutations_stream.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    n: int = 4,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: one representative document
    per 64-bit SimHash fingerprint within the watermark.

    Keeper semantics, stated precisely: the STREAM keeps the first
    arrival per fingerprint (arrival order is the stream's physical
    order); the BATCH branch keeps the earliest (ts, then all remaining
    columns as tie-break) row per fingerprint via a deterministic
    window — so batch output is a pure function of the data. Stream and
    batch therefore agree on the fingerprint SET always, and on the
    chosen representative whenever arrival order follows event time.

    SimHash maps near-identical texts (reordered words, minor edits that
    leave most shingles intact) to the SAME 64-bit word with high
    probability, so first-per-fingerprint is the streaming analogue of
    fingerprint-bucket dedup. The fingerprint is the same narrow,
    zero-shuffle expression as batch ``pipeline.dedup.simhash``
    (word-hash projection -> shingle combine -> 64-bit majority fold),
    so the plan stays stateless until the dedup itself; state is one
    64-bit key per unique fingerprint, evicted past the watermark (the
    ``stream_dedup`` bounded-state contract — a near-dup arriving later
    than the watermark re-emits; documented trade-off).

    This intentionally does NOT claim MinHash-LSH recall: banded LSH
    needs any-of-k-band matching, which per-key streaming state cannot
    express without a two-phase shuffle; fingerprint equality (Hamming
    0) is the honest bounded-state operator — near-dups at Hamming 1-3
    pass through for the batch LSH pass downstream.

    Batch DataFrames run the identical fingerprint expression; parity
    at the fingerprint-set level is testable on complete data. All
    input columns survive."""
    from hgraphstorage_spark.pipeline.dedup import shingle_combine, simhash_word
    from hgraphstorage_spark.pipeline.text import WS_RE

    with_wh = docs.withColumn(
        "_wh",
        F.transform(
            F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda w: F.xxhash64(w)
        ),
    )
    with_fp = with_wh.withColumn("_sh", shingle_combine(F.col("_wh"), n)).withColumn(
        "_fp", simhash_word(F.col("_sh"))
    )
    out_cols = docs.columns
    if with_fp.isStreaming:
        return (
            with_fp.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .select(*out_cols)
        )
    # deterministic batch keeper: earliest ts per fingerprint, remaining
    # columns as total tie-break (dropDuplicates would keep an ARBITRARY
    # row — partition-order-dependent)
    from pyspark.sql import Window

    others = [F.col(c) for c in out_cols if c != ts_col]
    w = Window.partitionBy("_fp").orderBy(
        F.col(ts_col), *( [F.xxhash64(*others)] if others else [] )
    )
    return (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*out_cols)
    )


def _read_register(spark, register_path: str) -> DataFrame | None:
    """Current register state: the primary dir, else the pre-swap
    ``__old`` fallback, else None (genuine first batch). Read errors on
    an EXISTING dir (schema drift, corrupt footer) propagate — only
    ABSENCE selects the first-batch branch, so accumulated state is
    never silently discarded (r7 review)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(register_path).getFileSystem(conf)
    if fs.exists(HPath(register_path)):
        return spark.read.parquet(register_path)
    if fs.exists(HPath(register_path + "__old")):
        return spark.read.parquet(register_path + "__old")
    return None


def _swap_register(spark, merged: DataFrame, register_path: str) -> None:
    """Atomically publish ``merged`` as the register state: write to
    ``__tmp``, then swap via Hadoop FS renames (atomic on HDFS/ABFS/
    local; on S3 point register_path at a rename-capable store — the
    same contract as store.py's CAS ledger).

    Swap order is the crash-safety contract (ADVICE r7): a stale
    ``__old`` is deleted ONLY while main is live — when main is absent
    the state lives in ``__old`` alone (prior crash between renames),
    and deleting it before tmp->main would leave NEITHER dir, so the
    next batch would take the first-batch branch and silently discard
    every accumulated register. Rename returns are checked: Hadoop FS
    rename reports failure as False, not an exception, and proceeding
    past a failed rename corrupts the swap."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(register_path).getFileSystem(conf)
    main_p, old_p = HPath(register_path), HPath(register_path + "__old")
    tmp = register_path + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if fs.exists(main_p):
        fs.delete(old_p, True)
        if not fs.rename(main_p, old_p):
            raise IOError(f"register swap: rename {register_path} -> __old failed")
    if not fs.rename(HPath(tmp), main_p):
        raise IOError(f"register swap: rename __tmp -> {register_path} failed")
    fs.delete(old_p, True)


def stream_quantile_sketch(
    stream: DataFrame,
    value_col: str,
    id_col: str,
    checkpoint_dir: str,
    register_path: str,
    group_cols=(),
    k: int = 1024,
    salt: str = "qsk",
):
    """Streaming quantile registers: every micro-batch is sketched with
    the deterministic bottom-k
    (``functions.stats.quantile_sketch``) and MERGED into the persisted
    register table — the mergeable-sketch streaming pattern the HLL
    family gets for free, realized for quantiles through the family's
    exact merge law: because merge(sk(A), sk(B)) == sk(A ++ B) whenever
    ids are globally distinct, the final register table equals the
    batch sketch of every row that ever streamed, bit-for-bit (tested,
    and certified under the driver hash by the stream_quantile row).

    State is the register parquet at ``register_path`` — at most k rows
    per group regardless of stream length; each batch reads it, merges
    through :func:`quantile_sketch_merge(dedup=True)` (the ONE home of
    the tie-break ordering; the distinct absorbs foreachBatch
    redelivery — a replayed batch re-contributes identical register
    rows, which collapse instead of displacing genuine ones), writes
    the result to a temp dir and SWAPS it in with Hadoop FS renames
    (rename is atomic on HDFS/ABFS/local; the previous state survives
    as ``__old`` until the swap completes and the read side falls back
    to it, so a crash at any point between the renames loses nothing —
    on S3, whose rename is copy+delete, point register_path at a
    rename-capable store, the same contract as store.py's CAS ledger).
    A register dir that exists but fails to UNION (schema drift, e.g. a
    restart with different group_cols) raises instead of being misread
    as first-batch (r7 review: the broad except silently discarded all
    accumulated state).

    Returns the started StreamingQuery (caller stops it)."""
    from hgraphstorage_spark.functions.stats import quantile_sketch, quantile_sketch_merge

    gs = list(group_cols)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = quantile_sketch(batch_df, value_col, id_col, gs, k, salt)
        # read the current state: primary, else the pre-swap fallback;
        # only ABSENCE selects the first-batch branch — union errors
        # (schema drift) must propagate, not silently drop state
        cur = _read_register(spark, register_path)
        merged = (
            new if cur is None else quantile_sketch_merge(cur, new, gs, k, dedup=True)
        )
        _swap_register(spark, merged, register_path)

    return (
        stream.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_crawl_frontier(
    stream_links: DataFrame,
    checkpoint_dir: str,
    register_path: str,
    url_col: str = "link_url",
    src_col: str = "url",
):
    """Incrementally maintained crawl-frontier DEMAND register — how a
    100 TB crawl actually runs: link extractions arrive as a stream
    (each crawl shard's ``extract_links`` output), every micro-batch's
    per-(target, source) link counts MERGE into a persisted register
    table, and the frontier re-ranks from the register
    (:func:`frontier_agg_from_register` → ``sources.warc.
    frontier_compose``) without ever re-scanning the links seen so far.

    State: per (url, src), one COMPACTED row (batch_id = -1) holding
    the summed count of all committed-and-folded batches, plus
    at most the in-flight batch's own (url, src, batch_id) rows.
    Every publish folds rows with batch_id < current into the compact
    row (r8 advice fix: the unfolded register kept one row per
    (url, src, batch_id) FOREVER, so long-running crawls re-read and
    rewrote O(batches × active edges) state per batch). Folding only
    strictly-older batches is what keeps redelivery exact: structured
    streaming can only redeliver the IN-FLIGHT batch (earlier ones are
    committed to the checkpoint WAL before the next starts), and a
    replayed batch's rows still meet their identical first-attempt
    rows un-compacted, collapsing under the distinct instead of
    double-counting. A genuine re-arrival of the same edge in a later
    batch adds under its own batch_id and folds in later. n_inlinks is
    an additive SUM and n_sources an exact COUNT DISTINCT over the
    register — so the stream equals batch ``crawl_frontier`` over the
    union of all streamed links EXACTLY (driver-certified by the
    stream_crawl_frontier row sharing the batch row's oracle). State
    size is the distinct-edge count — the link graph itself, the state
    an incremental frontier inherently carries — plus one in-flight
    batch. Publishing uses the same crash-safe atomic swap as the
    quantile registers.

    Returns the started StreamingQuery (caller stops it)."""

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = int(batch_id)
        new = (
            batch_df.select(
                F.col(url_col).alias("url"), F.col(src_col).alias("src")
            )
            .groupBy("url", "src")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("batch_id", F.lit(b).cast("long"))
        )
        cur = _read_register(spark, register_path)
        if cur is None:
            merged = new
        else:
            # fold committed batches (and prior compact rows, batch_id
            # -1) into one compact row per edge; keep only rows the
            # in-flight batch could redeliver at batch granularity
            stale = cur.filter(F.col("batch_id") < b)
            fresh = cur.filter(F.col("batch_id") >= b)
            compact = (
                stale.groupBy("url", "src")
                .agg(F.sum("n").cast("long").alias("n"))
                .withColumn("batch_id", F.lit(-1).cast("long"))
            )
            merged = compact.unionByName(fresh.unionByName(new).distinct())
        _swap_register(spark, merged, register_path)

    return (
        stream_links.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_validator_register(
    stream_envelopes: DataFrame,
    checkpoint_dir: str,
    register_path: str,
    url_col: str = "target_uri",
    ts_col: str = "warc_date",
):
    """Incrementally maintained per-URL validator register — the
    streaming leg of the revisit economy: HTTP envelopes arrive as a
    stream (each crawl wave's ``http_envelope`` output) and every
    micro-batch's per-URL latest observation merges into the persisted
    register the NEXT wave's conditional fetches read (If-None-Match /
    If-Modified-Since via ``sources.warc.revisit_plan``).

    State: ONE row per URL, ever. The merge is
    ``sources.warc.validator_state``'s pure lexicographic MAX — a law
    that is idempotent AND associative, so foreachBatch redelivery
    needs no batch-id bookkeeping at all (re-merging the same batch is
    a no-op by algebra, not by dedup), and the register equals the
    batch ``validator_state`` over every envelope ever streamed,
    bit-for-bit. Publishing uses the same crash-safe atomic swap as
    the other registers.

    Returns the started StreamingQuery (caller stops it)."""
    from hgraphstorage_spark.sources.warc import validator_state

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = validator_state(batch_df, url_col=url_col, ts_col=ts_col)
        cur = _read_register(spark, register_path)
        merged = (
            new
            if cur is None
            else validator_state(
                cur.unionByName(new), url_col="url", ts_col="fetch"
            )
        )
        _swap_register(spark, merged, register_path)

    return (
        stream_envelopes.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_sitemap_hints(
    stream_entries: DataFrame,
    checkpoint_dir: str,
    register_path: str,
    loc_col: str = "loc",
):
    """Incrementally maintained freshness-hint register — the sitemap/
    feed leg of the incremental frontier (VERDICT r8 task 5): hint
    entries arrive as a stream (each wave's ``parse_sitemaps`` /
    ``feed_hints`` output) and every micro-batch collapses into the
    persisted per-URL register via ``sources.warc.sitemap_hint_state``
    — latest lastmod, alphabetically-first changefreq, max priority,
    each a pure MAX/MIN, so like the validator register the merge is
    idempotent + associative and foreachBatch redelivery needs no
    batch-id bookkeeping (re-merging a batch is a no-op by algebra).
    Because the law IS ``frontier_compose``'s documented duplicate
    resolution, feeding the register to frontier_compose as
    ``sitemap_entries`` yields bit-for-bit the batch frontier over
    every hint ever streamed (the shared-oracle certificate, the
    demand sibling of :func:`stream_crawl_frontier`). State: one row
    per hinted URL, ever. Publishing uses the same crash-safe atomic
    swap as the other registers.

    Returns the started StreamingQuery (caller stops it)."""
    from hgraphstorage_spark.sources.warc import sitemap_hint_state

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = sitemap_hint_state(batch_df, loc_col=loc_col)
        cur = _read_register(spark, register_path)
        merged = (
            new if cur is None else sitemap_hint_state(cur.unionByName(new))
        )
        _swap_register(spark, merged, register_path)

    return (
        stream_entries.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def frontier_agg_from_register(spark, register_path: str) -> DataFrame:
    """The (url, n_inlinks, n_sources) demand frame from a
    :func:`stream_crawl_frontier` register — feed it to
    ``sources.warc.frontier_compose`` for the gated, hinted, ranked
    frontier. One url-keyed agg over the register (map-side partial)."""
    reg = spark.read.parquet(register_path)
    return reg.groupBy("url").agg(
        F.sum("n").cast("long").alias("n_inlinks"),
        F.countDistinct("src").cast("long").alias("n_sources"),
    )


def dsir_stream_score(
    stream_docs: DataFrame,
    ratios: DataFrame,
    checkpoint_dir: str,
    sink_path: str,
    n_buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "dsir",
    hash_mode: str = "xxhash64",
):
    """Streaming DSIR scoring: apply a FIXED offline-trained
    (bucket, log_ratio) model (``pipeline.sampling.dsir_ratio_table``)
    to an incoming document stream — the online half of the
    train/apply split a production selection pipeline runs (score
    arriving crawl shards against yesterday's importance model, route
    by score downstream).

    Shape: ``foreachBatch`` — every micro-batch is a complete static
    frame (a document is atomic within one row, so per-doc scores need
    NO cross-batch state), and the batch scorer
    (``pipeline.sampling.dsir_score``) runs unchanged JVM-side:
    tokenize → bucket → broadcast-join the <= n_buckets-row model →
    per-doc DECIMAL sum. Stream output therefore equals batch scoring
    of the same rows EXACTLY (tested), unlike watermark-dependent
    operators. Scores append to ``sink_path`` as parquet; delivery is
    at-least-once on failure (foreachBatch redelivery), with batch_id
    recorded so downstream consumers can drop replayed batches.

    Returns the started StreamingQuery (caller stops it)."""
    from hgraphstorage_spark.pipeline.sampling import dsir_score

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        scores = dsir_score(
            batch_df, ratios, n_buckets, text_col, id_col, salt, hash_mode
        )
        scores.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            sink_path
        )

    return (
        stream_docs.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_embed_dedup(
    embs: DataFrame,
    dims: int,
    bits: int = 16,
    vec_col: str = "embedding",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    seed: int = 0,
    plane_mode: str = "xxhash64",
) -> DataFrame:
    """Streaming EMBEDDING near-duplicate suppression: one representative
    vector per ``bits``-bit random-hyperplane signature within the
    watermark — the embedding-space analogue of :func:`stream_near_dedup`
    (same keeper contract: stream keeps the first arrival per signature;
    a batch frame keeps the earliest (ts, row-hash) via a deterministic
    window, so batch output is a pure function of the data and the two
    agree on the signature SET always).

    The signature is ``pipeline.similarity.signature_bits`` — the SAME
    narrow zero-shuffle Arrow kernel the batch LSH ops bucket on, with
    planes derived from xxhash64(plane, dim) so no plane matrix is ever
    stored. Two vectors at angle θ share the full signature
    with probability (1 − θ/π)^bits: near-identical embeddings (re-runs
    of the same content through the same encoder, θ ≈ 0) collapse with
    high probability, genuinely different ones survive. This is
    deliberately signature-EQUALITY dedup, the honest bounded-state
    operator — any-of-k-band LSH recall needs a two-phase shuffle no
    per-key streaming state can express (the ``stream_near_dedup``
    argument); borderline pairs pass through for the batch
    ``embedding_near_dup_lsh`` pass downstream. State: one ``bits``-bit
    key per live signature, evicted past the watermark. All input
    columns survive.

    ``plane_mode="md5"`` signs with the integer-exact fixed-point
    md5-plane bucket (``similarity.quantized_bucket``) instead of the
    xxhash64 float fold — the same dual-mode contract as
    ``embedding_near_dup_lsh``: bit-identical in any engine, so a
    DuckDB oracle replays the signature set."""
    if plane_mode == "md5":
        from hgraphstorage_spark.pipeline.similarity import (
            quantize_fixed_point,
            quantized_bucket,
        )

        with_sig = embs.withColumn(
            "_qv", quantize_fixed_point(F.col(vec_col))
        ).withColumn("_sig", quantized_bucket("_qv", dims=dims, bits=bits, seed=seed))
    else:
        from hgraphstorage_spark.pipeline.similarity import signature_bits

        with_sig = embs.withColumn(
            "_sig", signature_bits(vec_col, dims=dims, bits=bits, seed=seed)
        )
    out_cols = embs.columns
    if with_sig.isStreaming:
        return (
            with_sig.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_sig"])
            .select(*out_cols)
        )
    from pyspark.sql import Window

    others = [F.col(c) for c in out_cols if c != ts_col]
    w = Window.partitionBy("_sig").orderBy(
        F.col(ts_col), *([F.xxhash64(*others)] if others else [])
    )
    return (
        with_sig.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*out_cols)
    )


def stream_url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming crawl URL dedup — the stream twin of
    ``pipeline.dedup.url_dedup`` and the FIRST dedup a live crawl
    ingest runs: one representative row per canonical URL
    (``url_normalized``: scheme/www/fragment/tracker/trailing-slash
    noise collapsed) within the watermark. The stream keeps the first
    arrival per canonical form (state: one normalized-URL key, evicted
    past the watermark — the ``stream_dedup`` bounded-state contract:
    a re-fetch later than the watermark re-emits, documented
    trade-off); a batch frame delegates to ``url_dedup``'s
    deterministic earliest-``ts_col`` keeper, so stream and batch agree
    on the canonical-URL SET always and on the representative whenever
    arrival order follows fetch time. All input columns survive, plus
    ``url_norm``; the normalizer is the same zero-shuffle regex chain
    as batch, so the plan stays stateless until the dedup itself."""
    from hgraphstorage_spark.pipeline.dedup import url_dedup, url_normalized

    if not docs.isStreaming:
        return url_dedup(docs, url_col=url_col, ts_col=ts_col)
    return (
        docs.withColumn("url_norm", url_normalized(F.col(url_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["url_norm"])
    )


def stream_topic_score(
    stream_docs: DataFrame,
    idf_table: DataFrame,
    centroids: DataFrame,
    checkpoint_dir: str,
    sink_path: str,
    d: int = 64,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
):
    """Streaming topic routing: assign arriving documents to the nearest
    trained topic centroid using the FIXED (idf_table, centroids) model
    from ``pipeline.similarity.topic_model`` — the topic twin of
    ``dsir_stream_score`` (route crawl shards by topic against
    yesterday's model, e.g. to balance a training mix online).

    Shape: ``foreachBatch`` — a document's topic is a pure function of
    (text, model), no cross-batch state, so stream output equals batch
    ``topic_assign`` of the same rows EXACTLY (tested). Assignments
    append to ``sink_path`` as parquet with batch_id recorded
    (at-least-once on redelivery, consumers dedup on it).

    Returns the started StreamingQuery (caller stops it)."""
    from hgraphstorage_spark.pipeline.similarity import topic_assign

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        out = topic_assign(
            batch_df, idf_table, centroids, d, scale, text_col, id_col, hash_mode
        )
        out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            sink_path
        )

    return (
        stream_docs.writeStream.foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
