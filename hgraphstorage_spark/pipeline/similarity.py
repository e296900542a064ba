"""Similarity search over an embedding column (ARRAY<FLOAT>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline. One
  broadcast of the query vector + a narrow map + a top-k (TakeOrdered);
  linear scan, no shuffle except the final k-row collect. At 100 TB this
  is the fallback path, still embarrassingly parallel.
- `lsh_bucket_topk`: random-hyperplane LSH bucketing — the scale path.
  Deterministic pseudo-random planes derived from xxhash64(plane, dim) so
  results are reproducible without storing plane matrices. Probes only the
  query's bucket (and optional multi-probe neighbors): at 1000 executors
  the probe touches ~1/2^bits of the data.

Scoring math is built-in (`zip_with`/`aggregate`), JVM-side. The batch
kernels (LSH signatures, the centroid argmax, the GEMM pair prefilters)
are Arrow UDFs over numpy, unpacking list columns only through
`pipeline.kernels`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hgraphstorage_spark.pipeline.kernels import list_matrix
from hgraphstorage_spark.pipeline.state import track


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _pairs_table(va, vb) -> pa.Table:
    """The (vec_a long, vec_b long) result table of the GEMM pair sites."""
    return pa.table({"vec_a": pa.array(va, pa.int64()), "vec_b": pa.array(vb, pa.int64())})


def _group_pairs(id_col: str, threshold: float):
    """``applyInArrow`` body shared by the per-bucket and per-cluster
    prefilters: the (vec_a < vec_b) pairs of one group whose float32
    unit vectors ``vn`` have dot >= ``threshold``. One small BLAS GEMM
    per group instead of |group|²/2 per-pair JVM array folds."""

    def pairs(table):
        A = list_matrix(table["vn"], dtype=np.float32)
        ids = table[id_col].to_numpy()
        with np.errstate(invalid="ignore"):
            ia, ib = np.where(A @ A.T >= np.float32(threshold))
        keep = ids[ia] < ids[ib]
        return _pairs_table(ids[ia][keep], ids[ib][keep])

    return pairs


def _blocked_pair_candidates(
    prepped: DataFrame, threshold: float, blocks: int = 16
) -> DataFrame:
    """All (vec_a < vec_b) pairs with cosine ≥ threshold−5.1e-7, via blocked
    GEMM: vectors hash into `blocks` row-blocks, each of the
    blocks·(blocks+1)/2 block pairs is one cogroup task running a numpy
    matmul (BLAS) over its two sub-matrices. This is the classic
    distributed all-pairs layout: shuffle volume = data × blocks (tunable),
    compute embarrassingly parallel, no driver collect, no O(n²) JVM
    expression evaluation (which is ~50x slower than BLAS here).

    The slack admits float-summation-order differences plus the round-6
    half-ULP of the exact keep rule; callers re-score candidates with the
    exact-order formula.
    Input: (vid, v ARRAY<DOUBLE>, nrm). Output: (vec_a, vec_b).
    """
    spark = prepped.sparkSession
    bp = spark.createDataFrame(
        [(i, j) for i in range(blocks) for j in range(blocks) if i <= j], "bi int, bj int"
    )
    with_b = prepped.select("vid", "v", F.pmod(F.col("vid"), F.lit(blocks)).alias("b"))
    left = (
        with_b.alias("l")
        .join(F.broadcast(bp.alias("p1")), F.col("l.b") == F.col("p1.bi"))
        .select(
            F.col("p1.bi").alias("bi"), F.col("p1.bj").alias("bj"),
            F.col("l.vid").alias("vid"), F.col("l.v").alias("v"),
        )
    )
    right = (
        with_b.alias("r")
        .join(F.broadcast(bp.alias("p2")), F.col("r.b") == F.col("p2.bj"))
        .select(
            F.col("p2.bi").alias("bi"), F.col("p2.bj").alias("bj"),
            F.col("r.vid").alias("vid"), F.col("r.v").alias("v"),
        )
    )

    eps = 5.1e-7

    def block_pairs(key, lt, rt):
        if not (lt.num_rows and rt.num_rows):
            return _pairs_table([], [])
        A, B = list_matrix(lt["v"]), list_matrix(rt["v"])
        with np.errstate(divide="ignore", invalid="ignore"):
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = An @ Bn.T
        ia, ib = np.where(S >= threshold - eps)
        va, vb = lt["vid"].to_numpy()[ia], rt["vid"].to_numpy()[ib]
        if key[0].as_py() == key[1].as_py():
            # symmetric matrix: each unordered pair appears twice — keep the
            # (smaller, larger) orientation once
            keep = va < vb
            return _pairs_table(va[keep], vb[keep])
        # off-diagonal: each unordered pair appears exactly once, but the
        # smaller vid may be on either side — normalize to (min, max)
        return _pairs_table(np.minimum(va, vb), np.maximum(va, vb))

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInArrow(block_pairs, schema="vec_a long, vec_b long")
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of the vector with `query_id`.

    The query vector joins in as a 1-row broadcast (no collect on the
    caller's path); score ties break on vec_id for determinism.
    Returns (vec_id, score DECIMAL(18,6)) — the query itself excluded.
    """
    q = embeddings.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qvec"))
    scored = (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).cast("decimal(18,6)").alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    qid_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "v",
) -> DataFrame:
    """Maximal Marginal Relevance diversified selection (Carbonell &
    Goldstein, SIGIR'98) over per-query candidate pools: iteratively pick

        argmax  lam*rel(c) - (1-lam)*max_{s in selected} cos(c, s)

    k times per query. The redundancy penalty makes the output a
    DIVERSE top-k — the standard rerank between ANN retrieval and
    downstream use (dedup-aware sampling, RAG context packing).

    Input: (qid, vec_id, rel DECIMAL(18,6), v ARRAY<DOUBLE>) — any
    candidate generator fits (exact `cosine_topk`, `lsh_bucket_topk`,
    IVF-PQ); pools are per-query k-sized, so every frame here is
    #queries x pool rows and the 100 TB corpus is touched only by the
    retrieval stage. Each of the k rounds is one broadcast join against
    the 1-row-per-query previous pick plus a per-query min_by argmax
    (struct-ordered: (-mmr, vec_id), so STRING ids tie-break correctly);
    frames are localCheckpoint-bounded so the plan stays k-deep, never
    2^k. All comparisons happen on round-6 DECIMAL values and the
    cosine is the left-fold formula, so a DuckDB oracle unrolls the
    rounds bit-for-bit. Queries with pools smaller than k simply stop
    contributing rows past their pool size.

    Returns (qid_col, mmr_rank 1..k, vec_id, relevance, mmr_score).
    """
    lam_d = float(lam)
    one_m = 1.0 - lam_d  # Python IEEE subtraction; the oracle replays (1.0 - lam)
    dec6 = "decimal(18,6)"
    # red starts NULL (max over the EMPTY selected set — round 1's
    # penalty is the conventional 0 via coalesce), and greatest() skips
    # NULL identically on both engines, so a candidate whose similarity
    # to everything selected is NEGATIVE keeps its negative penalty —
    # i.e. a diversity BONUS, per the cited max-similarity formula (a
    # 0-clamped start would erase it)
    rem = candidates.select(
        F.col(qid_col).alias("qid"),
        F.col(id_col).alias("vec_id"),
        F.col(rel_col).cast(dec6).alias("rel"),
        F.col(vec_col).alias("v"),
        F.lit(None).cast(dec6).alias("red"),
    ).localCheckpoint()
    picks = []
    for r in range(1, k + 1):
        mmr = F.round(
            F.lit(lam_d) * F.col("rel").cast("double")
            - F.lit(one_m)
            * F.coalesce(F.col("red").cast("double"), F.lit(0.0)),
            6,
        ).cast(dec6)
        scored = rem.withColumn("mmr", mmr)
        sel = (
            scored.groupBy("qid")
            .agg(
                F.min_by(
                    F.struct("vec_id", "rel", "mmr", "v"),
                    F.struct((-F.col("mmr")).alias("o1"), F.col("vec_id").alias("o2")),
                ).alias("s")
            )
            .select(
                "qid",
                F.lit(r).alias("mmr_rank"),
                F.col("s.vec_id").alias("vec_id"),
                F.col("s.rel").alias("rel"),
                F.col("s.mmr").alias("mmr"),
                F.col("s.v").alias("v"),
            )
            .localCheckpoint()
        )
        picks.append(sel.drop("v"))
        if r < k:
            rem = (
                rem.join(
                    F.broadcast(
                        sel.select(
                            "qid",
                            F.col("vec_id").alias("_sid"),
                            F.col("v").alias("_sv"),
                        )
                    ),
                    "qid",
                )
                .filter(F.col("vec_id") != F.col("_sid"))
                .withColumn(
                    "red",
                    F.greatest(
                        F.col("red"),
                        F.round(cosine(F.col("v"), F.col("_sv")), 6).cast(dec6),
                    ),
                )
                .drop("_sid", "_sv")
                # NOT checkpointed: rem's lineage from the checkpointed
                # candidates is r pool-sized joins against 1-row
                # checkpointed picks — recompute is trivial, and skipping
                # the eager job halves the per-round job count
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("qid").alias(qid_col),
        "mmr_rank",
        "vec_id",
        F.col("rel").alias("relevance"),
        F.col("mmr").alias("mmr_score"),
    )


def mmr_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query MMR: exact-cosine pool of `pool` candidates
    (TakeOrdered — the `cosine_topk` shape) then `mmr_rerank` down to a
    diverse k. The pool cut orders by the round-6 DECIMAL relevance with
    a vec_id tie-break, so the pool itself is engine-exact."""
    emb = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    q = emb.filter(F.col("vec_id") == query_id).select(F.col("v").alias("_qv"))
    scored = (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            F.round(cosine(F.col("v"), F.col("_qv")), 6)
            .cast("decimal(18,6)")
            .alias("rel"),
        )
    )
    cand = (
        scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(pool)
        .withColumn("query_id", F.lit(query_id).cast("long"))
    )
    return mmr_rerank(cand, k=k, lam=lam)


def embedding_near_dup_exact(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
) -> DataFrame:
    """All-pairs embedding-cosine near-duplicates: (vec_a, vec_b, score)
    with vec_a < vec_b and cosine ≥ threshold — exact results.

    Two phases: (1) blocked-GEMM candidate generation (numpy BLAS per
    block pair — see `_blocked_pair_candidates`; ~50x faster than JVM
    expression evaluation over O(n²) pairs, with 1e-9 threshold slack so
    float-order differences cannot drop a true pair); (2) exact re-score
    of the (tiny) candidate set using the left-fold dot/(norm·norm)
    formula whose association order matches the DuckDB oracle
    bit-for-bit at round-6.

    `blocks` sizes the GEMM grid; by default it adapts: at least enough
    that blocks·(blocks+1)/2 tasks cover every core (a smaller grid
    serializes the one-time Python-worker spin-up through a handful of
    tasks), and at most one block per ~4k vectors so each task is a BLAS
    call big enough to amortize its Arrow+Python overhead (1M vectors →
    ~256 blocks ≈ 33k tasks across the cluster). The row count comes from
    a cheap count job, far cheaper than mis-sizing the grid by 100×.
    """
    prepped = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    prepped = track(prepped)
    if blocks is None:
        # sizing count runs on the persisted projection, so it doubles as
        # the cache-warming job for the 3 downstream uses (blocked GEMM +
        # both sides of the verify join) — one scan of the raw input total
        n = prepped.count()
        par = embeddings.sparkSession.sparkContext.defaultParallelism
        min_blocks = max(1, int((2 * par) ** 0.5))
        blocks = max(min_blocks, min(64, -(-n // 4096)))
    candidates = _blocked_pair_candidates(prepped, threshold, blocks)
    va = prepped.select(F.col("vid").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = prepped.select(F.col("vid").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    # no forced broadcast (VERDICT r4 task 3): candidate pairs scale with
    # duplicate density — a copy-dense corpus blows a mandatory broadcast.
    # AQE picks broadcast when the candidate set is actually small.
    return (
        candidates
        .join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6)
            .cast("decimal(18,6)")
            .alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    dims: int = 64,
    bits: int | None = None,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_mode: str = "xxhash64",
) -> DataFrame:
    """Embedding near-dup at scale: `tables` independent random-hyperplane
    hash tables; vectors sharing a (table, bucket) pair become candidates;
    exact cosine verifies. Linear in n + candidate pairs — the join key
    (table_id, bucket) replaces the O(n²) pair enumeration. Recall grows
    with `tables` (1-(1-p^bits)^tables for collision prob p); missed pairs
    are the documented approximation. Same output shape as the exact op.

    ``bits=None`` adapts the bucket grain to the input: bits ≈
    log2(n / 64), so expected bucket size stays ~64 vectors and the
    candidate count stays LINEAR in n as data grows — fixed bits would
    make buckets (and the per-bucket quadratic join) grow with n, which
    is exactly the failure mode LSH exists to avoid. Raising `tables`
    buys back the recall that finer buckets cost, at linear cost.

    ``plane_mode="md5"`` buckets on `quantized_bucket` (integer-exact
    md5-derived planes over the fixed-point vector) so a DuckDB oracle
    can replay bucketing exactly; pass fixed ``bits`` with it (a static
    oracle can't depend on a runtime count). xxhash64 stays the default.
    """
    prepped = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    track(prepped)
    if bits is None:
        # sizing count doubles as the cache-warming job: one scan total
        n = prepped.count()
        bits = max(4, (max(n, 1) // 64).bit_length())
    else:
        # fixed bits still needs the warm: three plan branches (bucketing
        # + both verify sides) consume `prepped`, and without a
        # materializing action first they can race to recompute the
        # projection (measured ~2.5× on the bench when this was skipped)
        prepped.count()
    if plane_mode == "md5":
        # _qv in its OWN projection: every table's bucket UDF reads the
        # one materialized quantized vector
        bucket_src = prepped.withColumn("_qv", quantize_fixed_point(F.col("v")))
        sig = lambda t: quantized_bucket("_qv", dims, bits, seed=t * 1000)  # noqa: E731
    else:
        bucket_src = prepped
        sig = lambda t: signature_bits("v", dims, bits, seed=t * 1000)  # noqa: E731
    # Narrow the shuffled projection (guide §2.3 / §8: shuffle a
    # lightweight proxy, not the payload): the per-bucket GEMM prefilter
    # needs only the NORMALIZED direction of each vector, so the 8-table
    # explode + applyInArrow shuffle carries a float32 unit vector (4
    # bytes/dim) instead of the raw float64 payload (8 bytes/dim) — the
    # exact-verify branches read the full-precision `v`/`nrm` from the
    # persisted prep, which never crosses this shuffle. Zero-norm vectors
    # become NaN rows (0/0) exactly as under the old per-bucket
    # normalization, and NaN >= t is False either way.
    vn = F.transform(F.col("v"), lambda x: (x / F.col("nrm")).cast("float"))
    buckets = bucket_src.select(
        "vid",
        vn.alias("vn"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("table_id"), sig(t).alias("bucket"))
                    for t in range(tables)
                ]
            )
        ).alias("tb"),
    ).select("vid", "vn", "tb.table_id", "tb.bucket")

    # slack covers (a) the round-6 half-ULP of the exact keep rule
    # (round(s,6) >= thr admits true cosine down to thr - 5e-7) and
    # (b) float32 normalization + GEMM error (<= ~1e-5 relative at 64
    # dims; 2e-4 is a 20x margin). The prefilter may only ever ADMIT
    # extra candidates — the exact float64 re-score below keeps the
    # output identical to the unfiltered formula.
    eps = 2.0e-4

    # per-(table, bucket) BLAS — the exact op's blocked candidate-generation
    # trick applied within a bucket. Bucket size is held ~constant by the
    # adaptive `bits`, so each task is a tiny fixed-cost matmul and total
    # work stays linear in n.
    candidates = (
        buckets.groupBy("table_id", "bucket")
        .applyInArrow(_group_pairs("vid", threshold - eps), schema="vec_a long, vec_b long")
        .distinct()
    )
    va = prepped.select(F.col("vid").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = prepped.select(F.col("vid").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6)
            .cast("decimal(18,6)")
            .alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


PLANE_SCALE = 65536  # fixed-point quantization scale for md5 plane mode
_PLANE_MOD = 2_000_006


def md5_plane_int(plane: int, dim: int) -> int:
    """Deterministic integer hyperplane component in [-1_000_003, 1_000_003],
    derived from md5 over "plane:dim" — computed once driver-side (the
    plane matrix is bits×dims ≈ a few hundred ints) and embedded as
    literals in BOTH the Spark plan and the DuckDB oracle, generated by
    this same function so the two sides cannot drift (the `hash_split`
    oracle pattern)."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % _PLANE_MOD) - (_PLANE_MOD // 2)


def quantize_fixed_point(vec: Column) -> Column:
    """floor(x·65536) per component → ARRAY<BIGINT>. floor is bit-identical
    on every engine (unlike round, whose half-way rule differs between
    Spark HALF_UP and DuckDB half-away-from-zero), so the quantized vector
    — and everything derived from it — is engine-exact."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * PLANE_SCALE).cast("long"))


def quantized_bucket(qv: str, dims: int, bits: int, seed: int = 0) -> Column:
    """Integer-exact random-hyperplane bucket for ``plane_mode="md5"``:
    bit p = sign(Σ_d qv[d]·plane(seed+p, d)) over the fixed-point vector
    column named ``qv`` (its first ``dims`` components).

    All-integer dot products (|term| < 2^41, |sum| < 2^47) are order-free
    and overflow-free — even an engine that sums in doubles gets the exact
    integer (< 2^53). That removes the float-summation-order hazard that
    would make a float-dot bucket bit flip near zero between engines;
    this is what makes the LSH op oracle-checkable.

    One vectorized Arrow UDF (guide §4.2: hand whole batches to native
    code): an exact int64 GEMM of the quantized vectors against the
    (dims x bits) md5 plane matrix, a driver-side constant shipped in the
    closure. Pinned by test_lsh_modes::test_quantized_bucket_stable's
    pure-Python replay. A NULL vector lands in bucket 0."""
    P = np.array(
        [[md5_plane_int(seed + p, d) for p in range(bits)] for d in range(dims)],
        dtype=np.int64,
    )
    weights = np.array([1 << p for p in range(bits)], dtype=np.int64)

    @F.arrow_udf("long")
    def _bucket(qvs):
        S = list_matrix(qvs, dims, np.int64) @ P  # exact int64 dot products
        return pa.array(((S > 0).astype(np.int64) * weights).sum(axis=1))

    return _bucket(F.col(qv))


_PLANE_MATRIX_CACHE: dict = {}


def _xxhash_plane_matrix(dims: int, bits: int, seed: int):
    """(dims x bits) float64 matrix of `_plane_component` values, fetched
    ONCE per (dims, bits, seed) per process by evaluating the plane
    expression over a one-column ``spark.range(bits·dims)`` (row id =
    p·dims + d). This is hash-family constant derivation, not result
    caching: the JVM's own xxhash64 computes it, so there is no second
    implementation to drift. A one-row select of bits·dims literal
    columns instead cost seconds of planning per table."""
    key = (dims, bits, seed)
    m = _PLANE_MATRIX_CACHE.get(key)
    if m is None:
        from pyspark.sql import SparkSession

        plane = F.expr(f"CAST({seed} + id DIV {dims} AS INT)")
        dim = F.expr(f"CAST(id % {dims} AS INT)")
        rows = (
            SparkSession.getActiveSession()
            .range(bits * dims)
            .select("id", _plane_component(plane, dim).alias("c"))
            .collect()
        )
        ids = np.array([r.id for r in rows], dtype=np.int64)
        m = np.empty((dims, bits), dtype=np.float64)
        m[ids % dims, ids // dims] = [r.c for r in rows]
        _PLANE_MATRIX_CACHE[key] = m
    return m


def _plane_component(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    xxhash64(plane, dim) scaled. `plane`/`dim` are int columns (hash
    values are type-sensitive; keep them IntegerType)."""
    h = F.xxhash64(plane, dim)
    return (h % 1_000_003).cast("double") / 1_000_003.0


def signature_bits(vec: str, dims: int, bits: int, seed: int = 0) -> Column:
    """Random-hyperplane signature of the vector column named ``vec``
    (its first ``dims`` components): bit i = sign(dot(vec, plane_i)).
    Different `seed`s give independent plane sets (hash tables).

    One vectorized Arrow UDF (guide §4.2). The per-bit dot products
    accumulate as ``dims`` rank-1 numpy updates — ``acc += V[:, d] ⊗
    P[d, :]`` for d ascending — so every (row, plane) dot is the strict
    float64 left fold from 0.0 in ascending-dim order, reproducible by a
    plain-Python replay (test_lsh_modes). The plane matrix comes from
    `_xxhash_plane_matrix`. A NULL vector signs to 0.
    """
    P = _xxhash_plane_matrix(dims, bits, seed)
    weights = np.array([1 << p for p in range(bits)], dtype=np.int64)

    @F.arrow_udf("long")
    def _sig(vs):
        A = list_matrix(vs, dims)
        acc = np.zeros((A.shape[0], bits), dtype=np.float64)
        for d in range(dims):
            acc += np.multiply.outer(A[:, d], P[d])
        return pa.array(((acc > 0).astype(np.int64) * weights).sum(axis=1))

    return _sig(F.col(vec))


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: partition vectors into `nlist` inverted
    lists by nearest centroid, probe the query's `nprobe` nearest lists.

    Centroids are chosen deterministically (the vectors with the `nlist`
    smallest ids — a real deployment would k-means offline and persist).
    Assignment is one pass over the data against broadcast centroids
    (max_by over a small exploded array); at scale the assigned table is
    written bucketed by `list_id` so a query scans nlist/nprobe fewer
    bytes. Returns (vec_id, score DECIMAL(18,6), list_id).
    """
    from .state import track

    # cents (1 row) feeds the assignment AND the probe selection;
    # assigned (the corpus with vectors and list routing) feeds the
    # query-vector lookup, the probe computation, and the probed-list
    # scan — unpersisted, each reference re-derived the assignment from
    # the raw corpus (seven embeddings scans in the fused plan). Both
    # persist; the materialized assigned IS the "assigned table written
    # bucketed by list_id" the scale note below describes.
    cents = track(
        embeddings.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .groupBy()
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
    )
    # nearest centroid per vector: explode the (small) centroid array and
    # keep the argmax-cosine via max_by
    assigned = (
        embeddings.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_vec"),
            F.explode("cents").alias("c"),
        )
        .select("vec_id", "_vec", F.col("c.cid").alias("cid"), cosine(F.col("_vec"), F.col("c.cvec")).alias("csim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("list_id"),
            F.first("_vec").alias("_vec"),
        )
    )
    assigned = track(assigned)
    q = assigned.filter(F.col("vec_id") == query_id).select(F.col("_vec").alias("_qvec"))
    # the query's nprobe nearest centroid lists
    probe_lists = (
        q.crossJoin(F.broadcast(cents))
        .select(F.explode("cents").alias("c"), F.col("_qvec"))
        .select(F.col("c.cid").alias("list_id"), cosine(F.col("_qvec"), F.col("c.cvec")).alias("csim"))
        .orderBy(F.col("csim").desc(), F.col("list_id").asc())
        .limit(nprobe)
        .select("list_id")
    )
    return (
        assigned.filter(F.col("vec_id") != query_id)
        .join(F.broadcast(probe_lists), "list_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("_vec"), F.col("_qvec")), 6).cast("decimal(18,6)").alias("score"),
            "list_id",
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    bits: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_mode: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    Recall < 1 by design (bucket may miss true neighbors); at scale,
    bucket the table once (write partitioned by `bucket`) and reuse.
    Returns (vec_id, score DECIMAL(18,6), bucket).

    ``plane_mode="md5"`` buckets with the integer-exact fixed-point
    hyperplanes (`quantized_bucket`) so a DuckDB oracle replays the
    bucketing bit-for-bit; xxhash64 planes stay the fast path."""
    if plane_mode == "md5":
        with_sig = (
            embeddings.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("_vec"),
                # own projection: quantized_bucket takes a column name
                quantize_fixed_point(F.col(vec_col)).alias("_qv"),
            )
            .select("vec_id", "_vec", quantized_bucket("_qv", dims, bits).alias("bucket"))
        )
    else:
        with_sig = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_vec"),
            signature_bits(vec_col, dims, bits).alias("bucket"),
        )
    q = with_sig.filter(F.col("vec_id") == query_id).select(
        F.col("_vec").alias("_qvec"), F.col("bucket").alias("_qbucket")
    )
    return (
        with_sig.filter(F.col("vec_id") != query_id)
        .join(F.broadcast(q), F.col("bucket") == F.col("_qbucket"), "inner")
        .select(
            "vec_id",
            F.round(cosine(F.col("_vec"), F.col("_qvec")), 6).cast("decimal(18,6)").alias("score"),
            "bucket",
        )
        .orderBy(F.col("score").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of the embedding vectors, long format
    (label, pos, m DECIMAL(18,6)) — one row per vector dimension. The
    k-means/IVF training building block (a full Lloyd iteration is
    assign-to-nearest + this).

    Long format on purpose: one partial-aggregated shuffle keyed by
    (label, dim) — fine-grained, skew-free at any corpus size — and
    engine-portable comparison without nested-array normalization."""
    pos = emb.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    return pos.groupBy(label_col, "pos").agg(
        F.round(F.avg("v"), 6).cast("decimal(18,6)").alias("m")
    )


def _assign_to_centroids(
    frame: DataFrame, cent_rows: DataFrame, id_col: str, vec_col: str, out_col: str
) -> DataFrame:
    """Broadcast-centroid cosine argmax, ties to the smaller centroid id
    — the ONE assignment rule shared by ``kmeans_iterations`` (training)
    and ``topic_assign`` (the persisted-model apply path), so the
    tie-break can never silently diverge between them.
    ``cent_rows``: (cid, cvec). Returns (vec_id, <out_col>).

    One vectorized Arrow projection (guide §4.2), no shuffle: the k
    centroid vectors (bounded — nlist/n_topics rows) are collected once
    at build, and the per-row cosines accumulate as ascending-dim rank-1
    numpy updates — the strict float64 left fold of `cosine` per (row,
    centroid). The argmax scans centroids cid-ascending and `np.argmax`
    keeps the FIRST maximum, with NaN greatest (Spark's double ordering):
    ties go to the smallest cid, and a zero-norm or NULL vector (NaN
    cosine to every centroid) goes to the smallest cid. Vectors whose
    length differs from the centroids' raise ValueError."""
    rows = sorted(cent_rows.select("cid", "cvec").collect(), key=lambda r: r.cid)
    if not rows:
        return frame.select(F.col(id_col).alias("vec_id")).limit(0).withColumn(
            out_col, F.lit(None).cast("long")
        )
    cids = np.array([r.cid for r in rows], dtype=np.int64)
    C = np.array([[float(x) for x in r.cvec] for r in rows], dtype=np.float64)
    dims = C.shape[1]
    cn_sq = np.zeros(len(rows), dtype=np.float64)
    for d in range(dims):
        cn_sq += C[:, d] * C[:, d]
    cn = np.sqrt(cn_sq)

    @F.arrow_udf("long")
    def _assign(vs):
        A = list_matrix(vs)
        if len(A) == vs.null_count:  # empty or all-NULL batch
            A = np.zeros((len(A), dims))
        if A.shape[1] != dims:
            raise ValueError(f"vector dims {A.shape[1]} != centroid dims {dims}")
        acc = np.zeros((A.shape[0], len(cids)), dtype=np.float64)
        rn_sq = np.zeros(A.shape[0], dtype=np.float64)
        for d in range(dims):
            xd = A[:, d]
            acc += np.multiply.outer(xd, C[:, d])
            rn_sq += xd * xd
        with np.errstate(invalid="ignore", divide="ignore"):
            csim = acc / (np.sqrt(rn_sq)[:, None] * cn[None, :])
        return pa.array(cids[np.argmax(csim, axis=1)])

    return frame.select(F.col(id_col).alias("vec_id"), _assign(F.col(vec_col)).alias(out_col))


def _centroid_update(assigned: DataFrame, vecs: DataFrame, label_col: str) -> DataFrame:
    """(cid, cvec) mean vectors of an assignment — the Lloyd update
    shared by ``kmeans_iterations`` and ``topic_model``. ``assigned``:
    (vec_id, <label_col>); ``vecs``: (vec_id, _v). (list, dim)-keyed
    skew-free aggregation, same shape as ``label_centroids``."""
    return (
        assigned.join(vecs, "vec_id")
        .select(label_col, F.posexplode("_v").alias("pos", "x"))
        .groupBy(label_col, "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
        .select(F.col(label_col).alias("cid"), "cvec")
    )


def kmeans_iterations(
    embeddings: DataFrame,
    nlist: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means over cosine similarity: deterministic init (the
    ``nlist`` smallest-id vectors), then ``iterations`` rounds of
    assign-to-nearest with a centroid update between rounds — the
    offline training step behind ``ivf_topk``'s inverted lists.
    Returns the final assignment (vec_id, list_id).

    Scale shape per round: one pass over the data against the collected
    centroids (one Arrow cosine argmax, no shuffle of the vectors —
    ``_assign_to_centroids``), then a centroid update keyed by
    (list, dim) (``_centroid_update``). A cluster that loses all members
    disappears (standard Lloyd degeneracy; a production run would
    re-seed it).
    """
    cents = (
        embeddings.orderBy(F.col(id_col).asc())
        .limit(nlist)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    assigned = _assign_to_centroids(embeddings, cents, id_col, vec_col, "list_id")
    vecs = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    for _ in range(iterations - 1):
        new_cents = _centroid_update(assigned, vecs, "list_id").localCheckpoint()
        assigned = _assign_to_centroids(embeddings, new_cents, id_col, vec_col, "list_id")
    return assigned


def semantic_dedup(
    embeddings: DataFrame,
    nlist: int = 8,
    iterations: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with cosine k-means
    (``kmeans_iterations``), then inside each cluster mark every vector
    that has a lower-id neighbor at cosine ≥ ``threshold`` as a semantic
    duplicate — one representative (lowest id) survives per duplicate
    group. Returns (vec_id, list_id, keep BOOLEAN), unfiltered so callers
    can audit what would drop; the pipeline step is ``.filter('keep')``.

    Scale shape: clustering bounds pair enumeration to within-cluster
    (Σ|c|² ≈ n²/k instead of n²); per-cluster scoring is one BLAS GEMM
    per Arrow task (same trick as ``embedding_near_dup_lsh``); survivors
    re-score with the exact left-fold formula so the keep set is
    bit-reproducible; the keep rule itself is one join. Grow ``nlist``
    with n to hold per-cluster cost constant. The paper's trade-off
    applies: near-duplicates split across clusters are missed — that is
    the documented approximation, bounded by cluster quality.
    """
    from .state import track

    # both intermediates fan out to multiple plan branches — without a
    # persist Catalyst replays each branch from the raw scan (measured:
    # five embeddings scans in the final plan — assign is consumed by
    # the cluster join AND the keep join, prepped by the cluster join
    # and BOTH sides of the verify join). track() persists them once
    # (the r3 deterministic-release registry, same as the LSH preps):
    # one raw scan for the projection, one inside the final Lloyd pass.
    assign = track(
        kmeans_iterations(
            embeddings, nlist=nlist, iterations=iterations, id_col=id_col, vec_col=vec_col
        )
    )
    prepped = track(
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ).withColumn("nrm", _norm(F.col("v")))
    )
    # Narrow the per-cluster shuffle (guide §2.3/§8, same fix as
    # embedding_near_dup_lsh): the GEMM prefilter needs only the
    # normalized DIRECTION, so the applyInArrow shuffle carries a
    # float32 unit vector (4 B/dim) instead of the raw float64 payload
    # plus an entirely-unused `nrm` column; the exact float64 verify
    # below reads `v`/`nrm` from the persisted prep, which never crosses
    # this shuffle. Zero-norm vectors become NaN rows (0/0) exactly as
    # under the old per-cluster normalization; NaN >= t is False either
    # way.
    vn = F.transform(F.col("v"), lambda x: (x / F.col("nrm")).cast("float"))
    clustered = assign.join(prepped.select("vec_id", vn.alias("vn")), "vec_id")
    # slack covers the round-6 half-ULP of the exact keep rule plus
    # float32 normalization + GEMM error (<= ~1e-5 at 64 dims; 20x
    # margin) — the prefilter may only ADMIT extra candidates, the exact
    # re-score keeps the output identical (same rationale as
    # embedding_near_dup_lsh)
    eps = 2.0e-4
    candidates = clustered.groupBy("list_id").applyInArrow(
        _group_pairs("vec_id", threshold - eps), schema="vec_a long, vec_b long"
    )
    va = prepped.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = prepped.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    dups = (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_b",
            F.round(_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6)
            .cast("decimal(18,6)")
            .alias("score"),
        )
        .filter(F.col("score") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id", "list_id", F.col("_dup").isNull().alias("keep")
    )


def embedding_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension corpus statistics of the embedding column, long
    format (pos, n, mean, std, vmin, vmax) — the feature-scaling /
    quantizer-training building block (scalar-quantization ranges, PCA
    centering, drift monitoring).

    Scale shape: posexplode is narrow; the groupBy(pos) shuffle carries
    at most d rows PER MAP PARTITION after partial aggregation (count/
    sum/min/max all combine map-side), so the exchange is ~d × partitions
    rows regardless of corpus size. mean/std round-canonicalized to
    DECIMAL(18,6) (sum order varies across engines); min/max are exact.
    """
    pos = emb.select(F.posexplode(vec_col).alias("pos", "v"))
    return pos.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).cast("decimal(18,6)").alias("mean"),
        F.round(F.stddev_pop("v"), 6).cast("decimal(18,6)").alias("std"),
        F.min("v").cast("double").alias("vmin"),
        F.max("v").cast("double").alias("vmax"),
    )


def _pq_l2sq(a, b):
    """Squared-L2 as a LEFT FOLD in array order — fixed IEEE summation
    sequence, so every engine replays the same float bits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _pq_subvectors(frame, m: int, vec: str, keys: list[str]):
    """Explode ``frame[vec]`` into ``m`` contiguous subvectors:
    (*keys, j, sub). dsub = floor(d / m); trailing dims beyond m*dsub are
    ignored (standard PQ convention for non-divisible d)."""
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    dsub = F.floor(F.size(vec) / m).cast("int")
    return frame.select(
        *keys, F.explode(subspaces).alias("j"), F.col(vec).alias("_v"), dsub.alias("_d")
    ).select(*keys, "j", F.slice("_v", F.col("j") * F.col("_d") + 1, F.col("_d")).alias("sub"))


def _pq_default_codebook(frame, m: int, ksub: int, vec: str, salt: str):
    """Deterministic sampled-anchor codebook: per subspace, the
    subvectors of the ``ksub`` rows with smallest (md5(vid||salt), vid) —
    the standard k-means init with zero Lloyd rounds, a pure function of
    the data. Returns (j, c, cw)."""
    from pyspark.sql import Window

    from hgraphstorage_spark.pipeline.dedup import md5_long

    w = Window.orderBy("_h", "vid")  # ksub rows: single tiny partition
    anchors = (
        frame.withColumn("_h", md5_long(F.col("vid"), F.lit(salt)))
        .orderBy("_h", "vid")
        .limit(ksub)
        .withColumn("c", F.row_number().over(w) - 1)
    )
    return _pq_subvectors(anchors, m, vec, ["c"]).select(
        "j", "c", F.col("sub").alias("cw")
    )


def _normalize_codebook(codebook: DataFrame) -> DataFrame:
    """Accept a user/trained codebook (j, c, cw) with any numeric array
    element type; canonicalize to the DOUBLE arrays the ADC fold expects.

    Already-canonical codebooks (int/int/array<double> — everything
    :func:`_pq_default_codebook` or a canonicalized parquet round-trip
    produces) pass through untouched: the transform() lambda-cast is an
    interpreted higher-order function Catalyst does not eliminate even
    when it is a no-op, and it showed up as the r5 pq_topk/ivfpq_topk
    bench regression (VERDICT r5 task 7)."""
    jt = codebook.schema["j"].dataType
    ct = codebook.schema["c"].dataType
    cwt = codebook.schema["cw"].dataType
    if (
        isinstance(jt, T.IntegerType)
        and isinstance(ct, T.IntegerType)
        and isinstance(cwt, T.ArrayType)
        and isinstance(cwt.elementType, T.DoubleType)
    ):
        return codebook.select("j", "c", "cw")
    return codebook.select(
        F.col("j").cast("int").alias("j"),
        F.col("c").cast("int").alias("c"),
        F.transform(F.col("cw"), lambda x: x.cast("double")).alias("cw"),
    )


def pq_build(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_salt: str = "pqseed",
    codebook: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """PQ build phase (VERDICT r4 tasks 5+7): returns ``(codebook,
    codes)`` — codebook (j, c, cw ARRAY<DOUBLE>), codes (vid, j, code),
    i.e. ``m`` sub-byte codes per vector, the 32x scan-byte cut.

    Persist ``codes``+``codebook`` (write to parquet / register as an
    engine index) and repeated queries amortize the corpus-wide encode:
    :func:`pq_query` reads ONLY the codes table plus one query row — no
    re-encode on the second query.

    ``codebook`` accepts a TRAINED codebook (j, c, cw) — e.g. from
    :func:`pq_train_codebook` — the first accuracy knob a real ANN
    deployment turns; default is the deterministic sampled-anchor
    codebook (zero training rounds, DuckDB-replayable).

    Plan shape: codebook (m*ksub rows) broadcast-joins the exploded
    subvector stream; encode aggregates min(struct(dist, c)) with
    map-side partials. No shuffle carries a float vector wider than one
    subspace.
    """
    from .state import track

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # the codebook fans out downstream — the encode join here plus the
    # fused pq_topk's query-side ADC table — and unpersisted each
    # reference re-derives the anchor sample from the raw corpus (the
    # ivfpq_build lesson, r12 sweep). m*ksub rows → persist; `codes`
    # stays lazy (single consumer in-session; the deployment path
    # writes it to parquet anyway). A CALLER-SUPPLIED codebook passes
    # through unpersisted (r12 ADVICE): it is the caller's artifact —
    # usually already materialized — and pinning it in this registry
    # would hold storage the caller may manage itself.
    cb = (
        track(_pq_default_codebook(base, m, ksub, "v", seed_salt))
        if codebook is None
        else _normalize_codebook(codebook)
    )
    subs = _pq_subvectors(base, m, "v", ["vid"])
    codes = (
        subs.join(F.broadcast(cb), "j")
        .groupBy("vid", "j")
        .agg(F.min(F.struct(_pq_l2sq(F.col("sub"), F.col("cw")).alias("d"), F.col("c"))).alias("mc"))
        .select("vid", "j", F.col("mc.c").alias("code"))
    )
    return cb, codes


def pq_query(
    emb: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ query phase: asymmetric distance computation against a
    prebuilt ``codes`` table (from :func:`pq_build`, possibly read back
    from parquet / the index registry). The query vector is the ONE row
    of ``emb`` with ``query_id`` (predicate-pushed scan); the corpus is
    touched only through its 8-byte codes — this is what makes repeated
    queries cheap at 100 TB.

    Returns (vec_id, adc_dist DECIMAL(18,6)): k nearest by ADC squared
    L2, query excluded, ties on vec_id; decimal cell rounding keeps the
    ranking engine-portable (same contract as :func:`pq_topk`)."""
    qbase = emb.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    qsubs = _pq_subvectors(qbase, m, "v", ["vid"]).select("j", F.col("sub").alias("qsub"))
    # same canonicalization the build side applies: a float-array
    # codebook read back from parquet must fold in DOUBLE here too, or
    # LUT cells differ in low-order bits from the build-side encode
    codebook = _normalize_codebook(codebook)
    lut = qsubs.join(codebook, "j").select(
        F.col("j").alias("lj"),
        F.col("c").alias("lc"),
        F.round(_pq_l2sq(F.col("qsub"), F.col("cw")), 6).cast("decimal(18,6)").alias("cell"),
    )
    adc = (
        codes.filter(F.col("vid") != query_id)
        .join(F.broadcast(lut), (F.col("j") == F.col("lj")) & (F.col("code") == F.col("lc")))
        .groupBy("vid")
        .agg(F.sum("cell").alias("adc_dist"))
    )
    return (
        adc.select(F.col("vid").alias(id_col), F.col("adc_dist").cast("decimal(18,6)"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_salt: str = "pqseed",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou et al. 2011, the
    FAISS "PQ" scan path): split d dims into ``m`` subspaces, quantize
    each subvector to its nearest of ``ksub`` codewords, search with
    asymmetric distance computation (ADC) — the query stays exact, every
    database vector costs ``m`` one-byte table lookups.

    Why it matters at 100 TB: SQ8 cuts scan bytes 4x; PQ with m=8,
    ksub<=256 stores 8 BYTES per 64-dim float32 vector — a 32x cut, the
    difference between scanning embeddings from disk and scanning them
    from page cache.

    One-shot composition of :func:`pq_build` + :func:`pq_query` — a
    deployment that issues many queries builds once, persists the codes
    table, and calls :func:`pq_query` per query (no re-encode).

    Codebooks default to DETERMINISTIC sampled anchors (zero Lloyd
    rounds — the whole operator is a pure function of the data, and the
    DuckDB oracle replays it bit-for-bit); pass ``codebook`` (e.g. from
    :func:`pq_train_codebook`) for trained cells — the scan shape is
    identical. Distances fold left-to-right per subvector (fixed IEEE
    order); ADC cell distances round to 6 decimals and sum as DECIMAL —
    exact, order-independent addition, so the ranking is
    engine-portable.

    Plan shape: anchors = one k-row TakeOrdered; codebook (m*ksub rows)
    broadcast-joins the exploded subvector stream; encode aggregates
    min(struct(dist, c)) with map-side partials; ADC is a second
    broadcast join + exact decimal sum; final top-k is
    TakeOrderedAndProject. No shuffle ever carries a float vector wider
    than one subspace.

    Returns (vec_id, adc_dist DECIMAL(18,6)): the k nearest by ADC
    squared-L2, query excluded, ties on vec_id.
    """
    cb, codes = pq_build(emb, m, ksub, id_col, vec_col, seed_salt, codebook)
    return pq_query(emb, cb, codes, query_id, k, m, id_col, vec_col)


def pq_train_codebook(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_salt: str = "pqseed",
) -> DataFrame:
    """Per-subspace Lloyd k-means codebook training — the offline step
    that turns :func:`pq_topk`'s sampled anchors into trained cells.
    Init = the deterministic sampled-anchor codebook (so iterations=0
    reproduces the default exactly), then per round: assign every
    subvector to its nearest codeword (broadcast codebook, map-side
    partial argmin) and recenter each codeword to the element-wise mean
    of its members (keyed by (j, c, dim) — the same fine-grained
    skew-free aggregation as ``label_centroids``). A codeword that loses
    all members disappears (standard Lloyd degeneracy; surviving codes
    keep their ids, which is all ADC needs). Returns (j, c, cw) — feed
    into ``pq_build``/``pq_topk`` via their ``codebook`` argument.

    Scale shape per round: one pass over the exploded subvectors against
    a broadcast m*ksub-row codebook; the update shuffle carries
    (j, c, pos) keys — m*ksub*dsub rows per map partition after partial
    aggregation, independent of corpus size."""
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    subs = _pq_subvectors(base, m, "v", ["vid"])
    cb = _pq_default_codebook(base, m, ksub, "v", seed_salt)
    for _ in range(iterations):
        assigned = (
            subs.join(F.broadcast(cb), "j")
            .groupBy("vid", "j")
            .agg(F.min(F.struct(_pq_l2sq(F.col("sub"), F.col("cw")).alias("d"), F.col("c"))).alias("mc"))
            .select("vid", "j", F.col("mc.c").alias("c"))
        )
        cb = (
            subs.join(assigned, ["vid", "j"])
            .select("j", "c", F.posexplode("sub").alias("pos", "x"))
            .groupBy("j", "c", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("j", "c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
                ).alias("cw")
            )
        )
    return cb


def _anchor_centroids(base: DataFrame, nlist: int, coarse_salt: str) -> DataFrame:
    """(cidx, cvec): the nlist md5-smallest vectors of a (vid, v) frame —
    the deterministic zero-round coarse init SHARED by
    :func:`ivf_train_centroids` and :func:`ivfpq_build`, so the
    documented 'iterations=0 reproduces the default routing exactly'
    identity is one code path, not two copies kept in sync."""
    from pyspark.sql import Window

    from hgraphstorage_spark.pipeline.dedup import md5_long

    w = Window.orderBy("_h", "vid")
    return (
        base.withColumn("_h", md5_long(F.col("vid"), F.lit(coarse_salt)))
        .orderBy("_h", "vid")
        .limit(nlist)
        .withColumn("cidx", F.row_number().over(w) - 1)
        .select("cidx", F.col("v").alias("cvec"))
    )


def ivf_train_centroids(
    emb: DataFrame,
    nlist: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_salt: str = "ivfseed",
    mean_mode: str = "double",
) -> DataFrame:
    """Lloyd k-means (squared-L2) coarse-centroid training for
    :func:`ivfpq_topk`'s ``centroids`` argument. Init = the nlist
    md5-smallest vectors (iterations=0 reproduces the default routing
    exactly); per round, assign against broadcast centroids and recenter
    to the element-wise member mean keyed by (cidx, dim). Returns
    (cidx, cvec).

    ``mean_mode="decimal6"`` recenters with the order-independent
    round-to-6-decimals-then-DECIMAL-sum mean (sum exact, one cast to
    double, one IEEE division) instead of a float ``avg`` whose partial
    summation order is engine/partitioning-dependent — the standard
    oracle-mode canonicalization, so a DuckDB replay of the Lloyd round
    reproduces the trained centroids BIT-exactly."""
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    mean_expr = (
        (
            F.sum(F.round(F.col("x"), 6).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mx")
        if mean_mode == "decimal6"
        else F.avg("x").alias("mx")
    )
    cents = _anchor_centroids(base, nlist, coarse_salt)
    for _ in range(iterations):
        asg = (
            base.crossJoin(F.broadcast(cents))
            .select("vid", "v", _pq_l2sq(F.col("v"), F.col("cvec")).alias("d"), "cidx")
            .groupBy("vid")
            .agg(F.min(F.struct("d", "cidx")).alias("mc"), F.first("v").alias("v"))
            .select("vid", F.col("mc.cidx").alias("cidx"), "v")
        )
        cents = (
            asg.select("cidx", F.posexplode("v").alias("pos", "x"))
            .groupBy("cidx", "pos")
            .agg(mean_expr)
            .groupBy("cidx")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
                ).alias("cvec")
            )
        )
    return cents


def ivfpq_build(
    emb: DataFrame,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_salt: str = "ivfseed",
    pq_salt: str = "pqseed",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IVF-PQ build phase: returns ``(centroids, codebook, codes)`` —
    centroids (cidx, cvec) route vectors to inverted lists, the PQ
    codebook (j, c, cw) quantizes RESIDUALS to the list centroid, codes
    (vid, list_id, j, code) is the persisted index state (8 B/vector +
    a 4-byte list id).

    ``centroids`` (e.g. :func:`ivf_train_centroids`) and ``codebook``
    (e.g. :func:`pq_train_codebook` over residuals) accept trained
    inputs; defaults are the deterministic md5-sampled anchors. Persist
    the three frames and :func:`ivfpq_query` never re-encodes the
    corpus."""
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    if centroids is None:
        cents = _anchor_centroids(base, nlist, coarse_salt)
    else:
        cents = centroids.select(
            F.col("cidx").cast("int").alias("cidx"),
            F.transform(F.col("cvec"), lambda x: x.cast("double")).alias("cvec"),
        )
    asg = (
        base.crossJoin(F.broadcast(cents))
        .select("vid", _pq_l2sq(F.col("v"), F.col("cvec")).alias("d"), "cidx")
        .groupBy("vid")
        .agg(F.min(F.struct("d", "cidx")).alias("mc"))
        .select("vid", F.col("mc.cidx").alias("list_id"))
    )
    withres = (
        base.join(asg, "vid")
        .join(
            F.broadcast(cents.select(F.col("cidx").alias("list_id"), "cvec")), "list_id"
        )
        .select(
            "vid", "list_id", F.zip_with("v", "cvec", lambda x, y: x - y).alias("r")
        )
    )
    cb = (
        _pq_default_codebook(withres, m, ksub, "r", pq_salt)
        if codebook is None
        else _normalize_codebook(codebook)
    )
    subs = _pq_subvectors(withres, m, "r", ["vid", "list_id"])
    codes = (
        subs.join(F.broadcast(cb), "j")
        .groupBy("vid", "list_id", "j")
        .agg(F.min(F.struct(_pq_l2sq(F.col("sub"), F.col("cw")).alias("d"), F.col("c"))).alias("mc"))
        .select("vid", "list_id", "j", F.col("mc.c").alias("code"))
    )
    # the build chain fans out hard downstream — the fused ivfpq_topk's
    # query side references cents (probe selection), cb (ADC table), and
    # codes (list scan), and unpersisted each reference re-derived the
    # ENTIRE build from the raw corpus (21 embeddings scans measured in
    # the fused plan). The deployment path makes the same point by
    # writing the three frames to parquet; the in-session equivalent is
    # one track()-persist each: cents/cb are broadcast-sized, codes is
    # the narrow (vid, list_id, j, code) index — m small ints per
    # vector, the 8 B/vector state the docstring promises.
    from .state import track

    return track(cents), track(cb), track(codes)


def ivfpq_query(
    emb: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ query phase against prebuilt index frames (from
    :func:`ivfpq_build`, possibly read back from parquet): probe the
    ``nprobe`` nearest lists, build one residual ADC table per probed
    list, scan only those lists' codes. The corpus enters the plan ONLY
    through ``codes`` — the probed-list inner join is the row pruning,
    the 8-byte codes are the byte pruning."""
    q = emb.filter(F.col(id_col) == query_id).select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv")
    )
    # same canonicalization the build side applies (float frames read
    # back from parquet must fold in DOUBLE on both sides)
    codebook = _normalize_codebook(codebook)
    centroids = centroids.select(
        F.col("cidx").cast("int").alias("cidx"),
        F.transform(F.col("cvec"), lambda x: x.cast("double")).alias("cvec"),
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select("cidx", "cvec", _pq_l2sq(F.col("qv"), F.col("cvec")).alias("d"), "qv")
        .orderBy("d", "cidx")
        .limit(nprobe)
    )
    qres = probes.select(
        F.col("cidx").alias("list_id"),
        F.zip_with("qv", "cvec", lambda x, y: x - y).alias("rq"),
    )
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    lut = (
        qres.select(
            "list_id",
            F.explode(subspaces).alias("j"),
            "rq",
            F.floor(F.size("rq") / m).cast("int").alias("_d"),
        )
        .select(
            "list_id", "j",
            F.slice("rq", F.col("j") * F.col("_d") + 1, F.col("_d")).alias("qsub"),
        )
        .join(F.broadcast(codebook), "j")
        .select(
            F.col("list_id").alias("ll"),
            F.col("j").alias("lj"),
            F.col("c").alias("lc"),
            F.round(_pq_l2sq(F.col("qsub"), F.col("cw")), 6).cast("decimal(18,6)").alias("cell"),
        )
    )
    adc = (
        codes.filter(F.col("vid") != query_id)
        .join(
            F.broadcast(lut),
            (F.col("list_id") == F.col("ll"))
            & (F.col("j") == F.col("lj"))
            & (F.col("code") == F.col("lc")),
        )
        .groupBy("vid", "list_id")
        .agg(F.sum("cell").alias("adc_dist"))
    )
    return (
        adc.select(
            F.col("vid").alias(id_col), "list_id", F.col("adc_dist").cast("decimal(18,6)")
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivfpq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_salt: str = "ivfseed",
    pq_salt: str = "pqseed",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN (Jégou et al. 2011, the FAISS billion-scale
    default): a coarse quantizer routes every vector to one of ``nlist``
    inverted lists, vectors are PQ-encoded on their RESIDUAL to the list
    centroid, and a query probes only its ``nprobe`` nearest lists with
    an ADC table per probed list.

    Why the composition matters at 100 TB: IVF alone cuts the scanned
    ROWS nlist/nprobe-fold; PQ alone cuts the scanned BYTES 32-fold;
    together a query touches (nprobe/nlist) x (8 bytes / 256 bytes) of
    the corpus — 2-3 orders of magnitude less I/O than a flat scan.
    Residual encoding (not raw-vector PQ) keeps the codebook's dynamic
    range centered per list — the accuracy trick the paper established.

    One-shot composition of :func:`ivfpq_build` + :func:`ivfpq_query`;
    a deployment builds once, persists (centroids, codebook, codes), and
    issues queries against the stored index. ``centroids``/``codebook``
    accept trained frames (:func:`ivf_train_centroids`,
    :func:`pq_train_codebook`); the defaults stay the deterministic
    md5-sampled anchors, every L2 folds left-to-right, ADC cells round
    to 6 decimals and sum as DECIMAL, so the default operator replays in
    SQL exactly.

    Returns (vec_id, list_id, adc_dist DECIMAL(18,6)): top-k among the
    probed lists, query excluded, ties on vec_id.
    """
    cents, cb, codes = ivfpq_build(
        emb, nlist, m, ksub, id_col, vec_col, coarse_salt, pq_salt, centroids, codebook
    )
    return ivfpq_query(emb, cents, cb, codes, query_id, k, nprobe, m, id_col, vec_col)


def sq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized approximate top-k cosine search (the FAISS "SQ8"
    idea): per-dimension uniform quantization of every vector to
    ``bits``-bit codes, search on the RECONSTRUCTED vectors.

    Why it matters at 100 TB: float32 embeddings dominate storage and
    scan bytes; 8-bit codes cut both 4x with ~1e-2 cosine error, and the
    quantizer is trained by one tiny per-dimension min/max aggregate
    (``embedding_stats`` shape: the exchange is d rows per partition).
    The ranges re-enter the plan as a broadcast 1-row array pair — no
    collect, the whole thing stays declarative.

    code_j = round((v_j - mn_j) / (mx_j - mn_j) * (2^bits - 1)) and
    recon_j = mn_j + code_j * (mx_j - mn_j) / (2^bits - 1) are pure
    per-element IEEE arithmetic — bit-identical in any engine, so the
    operator is oracle-checkable exactly (score rounded to 6 decimals
    like every similarity op here). Constant dimensions map to code 0 and
    reconstruct to mn. Ties break on vec_id.

    Returns (vec_id, score DECIMAL(18,6)) of the top-k neighbors of
    ``query_id`` by reconstructed cosine, query excluded.
    """
    from .state import track

    levels = float((1 << bits) - 1)
    # `ranges` (one row of per-dimension min/max arrays) enters the plan
    # under `prepped`, which fans out to the query row and the scored
    # side — unpersisted, the whole posexplode range aggregate re-runs
    # per branch (an extra corpus scan; r12 sweep). One-row frame →
    # persist. `prepped` itself stays lazy ON PURPOSE: the query branch
    # prunes to one row via vec_id pushdown at the scan, which a
    # corpus-wide persisted reconstruction would forfeit (the bm25
    # persist-vs-pushdown rule).
    ranges = track(
        emb.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").cast("double").alias("mn"), F.max("v").cast("double").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_mns"),
            F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_mxs"),
        )
        .select(
            F.transform("_mns", lambda s: s["mn"]).alias("mns"),
            F.transform("_mxs", lambda s: s["mx"]).alias("mxs"),
        )
    )

    def recon(vec):
        # zip (v, mn, mx) -> reconstructed value; arrays_zip keeps order
        z = F.arrays_zip(vec.cast("array<double>"), F.col("mns"), F.col("mxs"))
        return F.transform(
            z,
            lambda t: F.when(
                t["mxs"] > t["mns"],
                t["mns"]
                + F.round((t["0"] - t["mns"]) / (t["mxs"] - t["mns"]) * F.lit(levels))
                * (t["mxs"] - t["mns"])
                / F.lit(levels),
            ).otherwise(t["mns"]),
        )

    prepped = emb.crossJoin(F.broadcast(ranges)).select(
        F.col(id_col).alias("vec_id"), recon(F.col(vec_col)).alias("rv")
    )
    q = prepped.filter(F.col("vec_id") == query_id).select(F.col("rv").alias("qv"))
    scored = (
        prepped.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("rv"), F.col("qv")), 6).cast("decimal(18,6)").alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id").asc()).limit(k)


def pca_fit(emb: DataFrame, k: int = 8, vec_col: str = "embedding"):
    """Distributed PCA fit over the embedding column: returns
    (mean (d,), components (k, d), explained_variance (k,)) as numpy
    arrays.

    The only distributed work is one pass of per-partition moment
    partials — count, sum vector, and d x d Gram matrix — via
    mapInArrow (numpy Gram matrix per Arrow batch, BLAS-backed).
    Partials are tiny (d + d^2 doubles per partition: ~33 KB at d=64),
    so the driver-side reduce handles thousands of partitions for
    kilobytes each — the standard treeAggregate shape, not a data
    collect. Eigendecomposition of the d x d covariance runs on the
    driver (d is small by construction; this is how every distributed
    PCA, including Spark MLlib's, splits the work).

    Deterministic up to float-summation order across partitions;
    eigenvector sign is fixed by making each component's
    largest-magnitude entry positive.
    """
    vec = emb.select(F.col(vec_col).alias("v"))

    def partials(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            A = list_matrix(batch.column("v"))
            yield pa.RecordBatch.from_pydict(
                {"n": [A.shape[0]], "s": [A.sum(axis=0)], "g": [(A.T @ A).ravel()]}
            )

    rows = vec.mapInArrow(partials, schema="n long, s array<double>, g array<double>").collect()
    n = sum(r["n"] for r in rows)
    if n == 0:
        raise ValueError("pca_fit: empty input")
    d = len(rows[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # sign convention: largest-|entry| of each component is positive
    flip = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return mean, comps, evals[order]


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit=None,
) -> DataFrame:
    """Project embeddings onto their top-k principal components:
    (vec_id, proj ARRAY<DOUBLE>[k]).

    The fitted mean/components re-enter the plan as LITERAL arrays, so
    the projection itself is pure JVM-side whole-stage-codegen arithmetic
    — a narrow map over the corpus with zero shuffle, which is the shape
    that matters when the projection (not the d x d fit) touches all
    100 TB. k * d literal terms (512 at the defaults) is well inside
    codegen limits."""
    if fit is None:
        fit = pca_fit(emb, k, vec_col)
    mean, comps, _ = fit
    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col(vec_col), mean_lit, lambda x, m: x.cast("double") - m
    )
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("_c"),
                    F.array(*[F.lit(float(x)) for x in comp]),
                    lambda x, c: x * c,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for comp in comps
        ]
    )
    return (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias(vec_col))
        .withColumn("_c", centered)
        .select("vec_id", proj.alias("proj"))
    )


def embedding_outliers(
    emb: DataFrame,
    bottom_frac: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space hygiene gate: cosine of every vector to the corpus
    MEAN vector, flagging the least-typical ``bottom_frac`` — the cheap
    first-pass screen for mis-embedded/garbage rows before they poison
    ANN indexes or k-means seeds.

    The mean vector comes from the same d-rows-per-partition aggregate
    as ``embedding_stats`` and re-enters as a broadcast 1-row array,
    ROUNDED to 6 decimals first — that canonicalization is what makes
    the per-row cosine (pure element-order IEEE arithmetic) identical in
    any engine despite float-sum reduction-order differences in the mean
    itself. The threshold is the exact ``bottom_frac`` percentile of the
    rounded scores (percentile_cont semantics). Flag rule:
    score <= threshold.

    Returns (vec_id, score DECIMAL(18,6), outlier BOOLEAN)."""
    mean_vec = (
        emb.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_ms"))
        .select(F.transform("_ms", lambda s: s["m"]).alias("mv"))
    )
    from .state import track

    # (vec_id, score) fans out three ways — the percentile aggregate,
    # the final projection, and the flag compare — and each branch would
    # otherwise replay the corpus scan + the mean-vector aggregate
    # (measured: four embeddings scans in the final plan). track()
    # persists the two-column score frame once; the corpus is scanned
    # once for the mean and once for the scores, never again.
    scored = track(
        emb.crossJoin(F.broadcast(mean_vec)).select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine(F.col(vec_col), F.col("mv")), 6).cast("decimal(18,6)").alias("score"),
        )
    )
    thr = scored.agg(
        F.expr(f"percentile(score, {bottom_frac})").cast("decimal(18,6)").alias("thr")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "vec_id", "score", (F.col("score") <= F.col("thr")).alias("outlier")
    )


def ann_recall_report(
    embeddings: DataFrame,
    query_ids,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN recall pre-flight for the IVF index — the vector counterpart
    of ``dedup.lsh_recall_report``: for each probe query, recall@k of
    :func:`ivf_topk` against the exact :func:`cosine_topk` ground truth.
    This is the nlist/nprobe tuning check a deployment runs BEFORE
    trusting the index on the full corpus: probing more lists buys
    recall linearly in scan bytes, and this report is the curve's
    measured point.

    Returns one row per query: (query_id, k, n_hits, recall
    DECIMAL(18,6)). The per-query exact scan is the deliberate,
    sample-bounded cost (a handful of probe queries, never the corpus —
    the same honesty contract as ``lsh_recall_report``); both rankings
    tie-break on vec_id so the report is a pure function of the data."""
    query_ids = list(query_ids)
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    parts = []
    for qid in query_ids:
        exact = cosine_topk(embeddings, qid, k, id_col, vec_col).select("vec_id")
        approx = ivf_topk(embeddings, qid, k, nlist, nprobe, id_col, vec_col).select(
            "vec_id"
        )
        hits = exact.join(approx, "vec_id", "left_semi").agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        parts.append(
            hits.select(
                F.lit(qid).cast("long").alias("query_id"),
                F.lit(k).alias("k"),
                "n_hits",
                F.round(F.col("n_hits") / k, 6).cast("decimal(18,6)").alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def topic_clusters(
    docs: DataFrame,
    n_topics: int = 8,
    iterations: int = 2,
    d: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Document topic clustering: hashed TF-IDF vectors
    (:func:`hgraphstorage_spark.pipeline.text.tfidf_vectors`) grouped by
    cosine k-means (:func:`kmeans_iterations`) — the lightweight topic
    segmentation a curation pipeline runs to balance a training mix or
    spot over-represented content, without an embedding model.

    Returns (doc_id, topic) for every doc with at least one token.

    Scale shape: the vector build never shuffles tokens (see
    tfidf_vectors); each Lloyd round is one pass against BROADCAST
    centroids plus a (topic, dim)-keyed skew-free update. The vector
    frame is persisted once (init + every round's assignment and update
    all read it). Integer-quantized weights make centroid means exact
    integer sums — order-independent, so a DuckDB oracle replays the
    rounds bit-for-bit (the kmeans row's contract, on text features)."""
    from hgraphstorage_spark.pipeline.state import track
    from hgraphstorage_spark.pipeline.text import tfidf_vectors

    vecs = track(
        tfidf_vectors(
            docs, d=d, text_col=text_col, id_col=id_col, hash_mode=hash_mode
        )
    )
    assigned = kmeans_iterations(
        vecs, nlist=n_topics, iterations=iterations, id_col="doc_id", vec_col="v"
    )
    return assigned.select(F.col("vec_id").alias(id_col), F.col("list_id").alias("topic"))


def topic_top_terms(
    docs: DataFrame,
    assignments: DataFrame,
    top_k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The human-readable face of :func:`topic_clusters`: per topic, the
    ``top_k`` most frequent tokens with counts — what each cluster is
    about. Returns (topic, token, n, rank).

    One (topic, token)-keyed count with map-side partials, then the
    top-k per topic is a WindowGroupLimit-rewritten rank over the counts
    frame (topic-partitioned — never a single-partition window). Ties
    rank alphabetically for determinism."""
    from hgraphstorage_spark.pipeline.text import WS_RE

    toks = (
        docs.join(assignments.select(F.col(id_col), "topic"), id_col)
        .select(
            "topic",
            F.explode_outer(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), WS_RE),
                    lambda t: F.length(t) > 0,
                )
            ).alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    counts = toks.groupBy("topic", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("topic").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("topic", "token", F.col("n").cast("long").alias("n"), F.col("_rn").cast("int").alias("rank"))
    )


def topic_model(
    docs: DataFrame,
    n_topics: int = 8,
    iterations: int = 2,
    d: int = 64,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The persistable train half of the topic-clustering split: returns
    ``(idf_table, centroids)`` — the d-row idf table
    (:func:`hgraphstorage_spark.pipeline.text.tfidf_idf_table`) and the
    (topic, cvec) centroid frame, the mean vectors of the final Lloyd
    assignment. Save both as parquet; :func:`topic_assign` (and the
    streaming ``stream_topic_score``) routes ANY new frame against them
    without re-reading the training corpus — the dsir_ratio_table /
    pq_build pattern for topics."""
    from hgraphstorage_spark.pipeline.state import track
    from hgraphstorage_spark.pipeline.text import _tf_frame, tfidf_apply, tfidf_idf_table

    # ONE tokenize+count pass: the persisted tf frame feeds both the idf
    # table and the vectorization (the naive composition tokenized and
    # counted the training corpus twice)
    tf = _tf_frame(docs, d, text_col, id_col, hash_mode)
    idf = track(tfidf_idf_table(docs, d, text_col, id_col, hash_mode, tf_frame=tf))
    vecs = track(
        tfidf_apply(docs, idf, d, scale, text_col, id_col, hash_mode, tf_frame=tf)
    )
    assigned = kmeans_iterations(
        vecs, nlist=n_topics, iterations=iterations, id_col="doc_id", vec_col="v"
    )
    cents = _centroid_update(
        assigned, vecs.select(F.col("doc_id").alias("vec_id"), F.col("v").alias("_v")), "list_id"
    ).select(F.col("cid").alias("topic"), "cvec")
    return idf, cents


def topic_assign(
    docs: DataFrame,
    idf_table: DataFrame,
    centroids: DataFrame,
    d: int = 64,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Route documents to the nearest trained topic centroid (cosine,
    ties to the smaller topic id) using the FIXED model from
    :func:`topic_model` — no corpus statistics are recomputed, so a
    streaming micro-batch scores identically to a batch run (tested).
    Returns (doc_id, topic) for every doc with at least one token.

    A doc whose every token hashes to a bucket unseen in training has a
    zero vector: its cosine to every centroid is NaN, NaN sorts
    greatest, and ties go to the smallest topic id — so it routes to the
    smallest topic id (``_assign_to_centroids``' rule).

    Scale shape: one narrow vectorize pass against the broadcast idf
    array, one Arrow cosine argmax against the collected centroids —
    nothing data-sized shuffles."""
    from hgraphstorage_spark.pipeline.text import tfidf_apply

    vecs = tfidf_apply(docs, idf_table, d, scale, text_col, id_col, hash_mode)
    cent_rows = centroids.select(F.col("topic").alias("cid"), "cvec")
    return _assign_to_centroids(vecs, cent_rows, "doc_id", "v", "topic").select(
        F.col("vec_id").alias(id_col), "topic"
    )
