"""Mode-equivalence guards for the oracle-checkable md5 LSH modes.

The driver window runs `minhash_lsh_pairs` / `embedding_near_dup_lsh` in
deterministic md5 hash mode (DuckDB can replay it — see the oracle
generators in `__spark_entry__.py`); xxhash64 stays the fast-path default.
These tests pin the relationship between the modes so neither can drift:

- the md5_long primitive itself matches DuckDB's hex-cast replay;
- minhash: both modes produce the IDENTICAL verified pair set on the test
  corpus (both hash families reach full recall at this size, and the
  exact-Jaccard verify is mode-independent);
- embed LSH: md5-mode output is a sound subset of the exact all-pairs op
  (identical scores — verification is exact in every mode) with recall in
  line with hyperplane-LSH theory (~0.52 at bits=5, tables=8, t=0.35).
"""


from __future__ import annotations

import pytest

import duckdb
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_md5_long_matches_duckdb_hex_cast(spark):
    from hgraphstorage_spark.pipeline.dedup import md5_long

    vals = [("hello", "world"), ("a", "b"), ("", "x"), ("123", "456")]
    df = spark.createDataFrame(vals, "c1 string, c2 string").select(
        md5_long(F.col("c1"), F.col("c2")).alias("h")
    )
    got = [r.h for r in df.collect()]
    want = [
        duckdb.sql(
            f"SELECT ('0x' || substr(md5('{a}' || ':' || '{b}'), 1, 15))::BIGINT"
        ).fetchone()[0]
        for a, b in vals
    ]
    assert got == want


def test_minhash_modes_agree(spark):
    from hgraphstorage_spark.pipeline import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    xx = {
        (r.doc_a, r.doc_b, str(r.jaccard))
        for r in minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    md5 = {
        (r.doc_a, r.doc_b, str(r.jaccard))
        for r in minhash_lsh_pairs(docs, threshold=0.6, hash_mode="md5").collect()
    }
    assert xx == md5
    assert len(md5) > 0


def test_embed_lsh_md5_mode_sound_and_recalls(spark):
    from hgraphstorage_spark.pipeline.similarity import (
        embedding_near_dup_exact,
        embedding_near_dup_lsh,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.vec_a, r.vec_b, str(r.score))
        for r in embedding_near_dup_exact(emb, threshold=0.35).collect()
    }
    md5 = {
        (r.vec_a, r.vec_b, str(r.score))
        for r in embedding_near_dup_lsh(
            emb, threshold=0.35, bits=5, tables=8, plane_mode="md5"
        ).collect()
    }
    # sound: every reported pair is a true near-dup with the exact score
    assert md5 <= exact
    # recall floor: theory gives ~0.52 here; 0.35 flags a broken hash family
    assert len(md5) >= 0.35 * len(exact)


def test_quantized_bucket_stable(spark):
    """The fixed-point bucket is a pure deterministic function — pin a few
    values so a silent change to the plane derivation (which would break
    oracle parity) fails loudly here first."""
    from hgraphstorage_spark.pipeline.similarity import (
        md5_plane_int,
        quantize_fixed_point,
        quantized_bucket,
    )

    assert md5_plane_int(0, 0) == md5_plane_int(0, 0)
    assert -1_000_003 <= md5_plane_int(7, 13) <= 1_000_003
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .limit(8)
        .withColumn("_qv", quantize_fixed_point(F.col("embedding")))
    )
    out1 = [r.b for r in emb.select(quantized_bucket("_qv", 64, 5, seed=0).alias("b")).collect()]
    out2 = [r.b for r in emb.select(quantized_bucket("_qv", 64, 5, seed=0).alias("b")).collect()]
    assert out1 == out2
    assert all(0 <= b < 32 for b in out1)
    # semantic pin for the r13 unrolled form: replay the bucket in pure
    # Python from the SAME plane ints and quantized vectors (integer dot
    # products are order-free and exact, so any engine — or any refactor
    # of the generated SQL — must reproduce these exact buckets)
    qvs = [r.q for r in emb.select(F.col("_qv").alias("q")).collect()]
    want = []
    for q in qvs:
        b = 0
        for p in range(5):
            s = sum(q[d] * md5_plane_int(p, d) for d in range(64))
            if s > 0:
                b += 1 << p
        want.append(b)
    assert out1 == want


def test_signature_unrolled_equals_fold(spark):
    """The Arrow signature path equals a plain-Python fold: plane
    components evaluated JVM-side by `_plane_component(p, d)` over a
    (plane, dim) grid, then per (row, plane) the ascending-dim float64
    left fold from 0.0 and the sign rule. Python floats are IEEE doubles,
    so the bits must match exactly."""
    from hgraphstorage_spark.pipeline.similarity import _plane_component, signature_bits

    dims, bits = 64, 5
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    vecs = {r.vec_id: r.v for r in emb.collect()}
    assert vecs
    for seed in (0, 3000):
        grid = spark.range(seed, seed + bits).select(F.col("id").cast("int").alias("p")).crossJoin(
            spark.range(dims).select(F.col("id").cast("int").alias("d"))
        )
        plane = {
            (r.p - seed, r.d): r.c
            for r in grid.select("p", "d", _plane_component(F.col("p"), F.col("d")).alias("c")).collect()
        }
        want = {}
        for vid, v in vecs.items():
            sig = 0
            for p in range(bits):
                acc = 0.0
                for d in range(dims):
                    acc = acc + v[d] * plane[(p, d)]
                if acc > 0:
                    sig |= 1 << p
            want[vid] = sig
        got = emb.select("vec_id", signature_bits("v", dims=dims, bits=bits, seed=seed).alias("s"))
        assert {r.vec_id: r.s for r in got.collect()} == want, seed


def test_xxhash_plane_matrix_pinned(spark):
    """Pin a few entries of the xxhash64 plane matrix for one (dims,
    bits, seed): a change to how the matrix is fetched (row order, int
    casts, the hash inputs) moves every xxhash64-mode LSH bucket."""
    from hgraphstorage_spark.pipeline.similarity import _PLANE_MATRIX_CACHE, _xxhash_plane_matrix

    _PLANE_MATRIX_CACHE.pop((64, 12, 3000), None)
    m = _xxhash_plane_matrix(64, 12, 3000)
    assert m.shape == (64, 12)
    assert m[0, 0] == 0.7689256932229204
    assert m[5, 7] == 0.6126131621605135
    assert m[17, 3] == -0.4697985906042282
    assert m[63, 11] == -0.3394999815000555


# -- large-N evidence (VERDICT r3 task 5): the driver-checked md5 mode must
# provably represent the xxhash64 fast path at statistical scale, not just
# small-N exact equality --------------------------------------------------


def _variant_corpus(spark, copies: int = 4):
    """Deterministic ~20k-doc corpus: each sf0.1 document fans out into
    `copies` variants with small tail perturbations — real near-dup
    families (within-family Jaccard >= ~0.8 for long docs), ids stable."""
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    v = spark.range(copies).select(F.col("id").alias("_v"))
    return docs.crossJoin(v).select(
        (F.col("doc_id") * copies + F.col("_v")).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" "),
            # variant-specific tail: _v extra filler words
            F.array_join(F.transform(F.sequence(F.lit(1), F.col("_v") + 1),
                                     lambda i: F.concat(F.lit("tail"), i.cast("string"))), " "),
        ).alias("text"),
    )


@pytest.mark.slow
def test_minhash_modes_statistical_agreement_20k_docs(spark):
    """At 20k documents the two hash families must find statistically the
    SAME verified pair set: the exact-Jaccard verify is mode-independent,
    so any divergence is pure candidate-recall difference. Overlap >= 0.9
    (Jaccard of pair sets) pins that the md5 oracle mode represents the
    production path; both modes must find a nontrivial pair population."""
    from hgraphstorage_spark.pipeline import minhash_lsh_pairs

    corpus = _variant_corpus(spark, copies=4)
    xx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(corpus, threshold=0.6).collect()}
    md5 = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, threshold=0.6, hash_mode="md5").collect()
    }
    assert len(xx) >= 1000 and len(md5) >= 1000
    overlap = len(xx & md5) / len(xx | md5)
    assert overlap >= 0.9, (len(xx), len(md5), overlap)


def _plan_shape(df) -> list[str]:
    """Canonical op sequence: the plan nodes that determine distributed
    cost (scans, exchanges, joins, aggregates), in order."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    keep = (
        "Exchange",
        "SortMergeJoin",
        "BroadcastHashJoin",
        "HashAggregate",
        "ObjectHashAggregate",
        "FileScan",
        "Window",
    )
    out = []
    for line in plan.splitlines():
        m = re.search(r"([A-Za-z]+)", line.strip(" +-*(0-9)"))
        if m and any(k in line for k in keep):
            out.append(next(k for k in keep if k in line))
    return out


def test_minhash_modes_identical_plan_shape(spark):
    """Mode only changes the hash EXPRESSIONS, never the distributed plan:
    same exchanges, same join strategies, same aggregate structure."""
    from hgraphstorage_spark.pipeline import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    shape_xx = _plan_shape(minhash_lsh_pairs(docs, threshold=0.6))
    shape_md5 = _plan_shape(minhash_lsh_pairs(docs, threshold=0.6, hash_mode="md5"))
    assert shape_xx == shape_md5


@pytest.mark.slow
def test_embed_lsh_modes_statistical_agreement(spark):
    """Embedding LSH at 10k vectors: both plane families are sound
    (exact re-score), so compare recall mode-vs-mode — pair counts within
    2x of each other and a shared core, per hyperplane-LSH theory (the
    two families are independent random bases; expected per-pair recall
    is identical)."""
    from hgraphstorage_spark.pipeline.similarity import embedding_near_dup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    v = spark.range(5).select(F.col("id").alias("_v"))
    big = emb.crossJoin(v).select(
        (F.col("vec_id") * 5 + F.col("_v")).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * (F.lit(1.0) + F.col("_v") * F.lit(0.0005))
        ).alias("embedding"),
    )
    xx = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_lsh(big, threshold=0.35, bits=6, tables=8).collect()
    }
    md5 = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_lsh(
            big, threshold=0.35, bits=6, tables=8, plane_mode="md5"
        ).collect()
    }
    assert len(xx) >= 100 and len(md5) >= 100
    ratio = len(xx) / len(md5)
    assert 0.5 <= ratio <= 2.0, (len(xx), len(md5))
    assert len(xx & md5) > 0


@pytest.mark.slow
def test_simhash_pairs_modes_agree_20k_docs(spark):
    """Large-N evidence for the banded SimHash pair op at ~20k docs.
    Unlike MinHash (whose exact-Jaccard verify is mode-independent),
    SimHash's fingerprint IS the metric, so near-threshold pairs
    legitimately differ between hash families — the invariants that must
    hold are: (1) every planted EXACT-duplicate pair (identical text ⇒
    identical shingle set ⇒ hamming 0 in any family) is found by BOTH
    modes, and (2) the near-dup pair populations are the same order of
    magnitude."""
    from hgraphstorage_spark.pipeline.dedup import simhash_near_dup_pairs
    from hgraphstorage_spark.pipeline.state import release_tracked

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    # two IDENTICAL copies per doc (ids 2k, 2k+1) + the variant families
    twins = docs.crossJoin(spark.range(2).select(F.col("id").alias("_v"))).select(
        (F.col("doc_id") * 2 + F.col("_v")).alias("doc_id"), "text"
    )
    planted = {
        (2 * r["doc_id"], 2 * r["doc_id"] + 1)
        for r in docs.select("doc_id").collect()
        if r["doc_id"] is not None
    }
    variants = _variant_corpus(spark, copies=4)
    try:
        for corpus, expect_planted in ((twins, True), (variants, False)):
            xx = {
                (r.doc_a, r.doc_b)
                for r in simhash_near_dup_pairs(corpus, max_distance=3).collect()
            }
            md5 = {
                (r.doc_a, r.doc_b)
                for r in simhash_near_dup_pairs(
                    corpus, max_distance=3, hash_mode="md5"
                ).collect()
            }
            if expect_planted:
                assert planted <= xx and planted <= md5
            else:
                assert len(xx) >= 1000 and len(md5) >= 1000
                assert 0.5 <= len(xx) / len(md5) <= 2.0, (len(xx), len(md5))
    finally:
        release_tracked()
