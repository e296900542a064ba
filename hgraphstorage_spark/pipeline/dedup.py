"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes:
- exact dedup = one hash-aggregate shuffle on the group key (map-side
  partial aggregation applies);
- MinHash-LSH: shingle → k minhashes → b bands; candidate generation is a
  self-join on (band_id, band_hash) — the join key is uniformly
  distributed by construction so no skew salting is needed; cost is
  linear in docs + output pairs, never O(n²);
- n-gram Jaccard is the exact (quadratic-within-block) verifier — use
  only blocked (or on LSH candidates);
- all hashing is xxhash64 (JVM built-in, codegen'd); only the MinHash
  k-permutation min is an Arrow UDF (over `pipeline.kernels`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hgraphstorage_spark.pipeline.state import track
from hgraphstorage_spark.pipeline.text import WS_RE, _parallel


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical text value."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups: one row per text having >1 occurrence, with the
    representative id and the duplicate count."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select("keep_id", "n_dups")
    )


def _words(text_col) -> F.Column:
    """The shared shingle tokenization (normalize + whitespace split)."""
    return F.split(F.lower(F.trim(text_col)), WS_RE)


def _shingle_col(words_col: F.Column, n: int) -> F.Column:
    """Distinct word n-grams (array<string>) from a words array that MUST
    be a materialized column of its own projection, not an inline
    ``split`` expression: Column trees are duplicated at construction and
    Catalyst does no CSE inside higher-order-function lambdas, so an
    inline split re-tokenizes the document once per shingle — O(words²)
    per doc (measured 4x the whole scan on cross_source_overlap before
    the split was hoisted). The words attribute is referenced by both
    ``size`` and the lambda, which keeps CollapseProject from re-inlining
    it (multi-use non-cheap alias).

    Word-level shingles (the standard for document near-dup, cf. the
    n-gram dedup literature) are ~word_len× fewer than character shingles
    and build in O(words) via slice+concat — character substr would be
    O(chars²) per document. Documents with < n words yield one shingle.
    """
    n_sh = F.greatest(F.size(words_col) - (n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n_sh)
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words_col, i, n)))
    )


def shingle_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sh ARRAY<BIGINT>) — distinct word-n-gram shingles as 64-bit
    hashes; the shared input of minhash / simhash / jaccard-verify.

    Hash each word once, then combine n word-hashes per shingle with one
    more xxhash64 — O(words) integer work, no n-word string concatenation.
    Jaccard over these hash sets equals Jaccard over the string shingles
    up to 64-bit collisions (negligible). `try_element_at` pads the final
    shingle of sub-n-word documents with nulls (deterministic).

    The word-hash array is materialized in its OWN projection: Catalyst
    does no common-subexpression elimination inside higher-order-function
    lambdas, so referencing the `transform(words, xxhash64)` expression
    from the shingle lambda would recompute the whole word array per
    element — O(words²) per doc. As a multi-use non-cheap alias it
    survives CollapseProject and is evaluated once.

    ``hash_mode="md5"`` swaps both hash layers for the engine-portable
    ``md5_long`` family (word hash = md5 hex string, shingle hash = 60-bit
    md5 fold of the ':'-joined word hashes) so a DuckDB oracle can replay
    the banding exactly; xxhash64 stays the fast path.
    """
    if hash_mode == "md5":
        word_hash = lambda w: F.md5(w)  # noqa: E731
        combine = lambda wh, i: md5_long(  # noqa: E731
            *[F.try_element_at(wh, i + j) for j in range(n)]
        )
    else:
        word_hash = lambda w: F.xxhash64(w)  # noqa: E731
        combine = lambda wh, i: F.xxhash64(  # noqa: E731
            *[F.try_element_at(wh, i + j) for j in range(n)]
        )
    word_hashes = _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.split(F.lower(F.trim(F.col(text_col))), WS_RE), word_hash).alias("_wh"),
    )
    wh = F.col("_wh")
    n_sh = F.greatest(F.size(wh) - (n - 1), F.lit(1))
    return word_hashes.select(
        "doc_id",
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n_sh), lambda i: combine(wh, i))
        ).alias("sh"),
    )


def shingle_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """(id, shingle) long format — the input to jaccard co-grouping.
    explode_outer dodges InferFiltersFromGenerate (see
    ``cross_source_overlap``); the shingle array is never empty."""
    return (
        _parallel(docs)
        .select(F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("_w"))
        .select("doc_id", F.explode_outer(_shingle_col(F.col("_w"), n)).alias("shingle"))
    )


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def md5_long(*cols) -> F.Column:
    """60-bit non-negative hash: first 15 hex chars of md5 over the
    ':'-joined string renderings of the inputs, as BIGINT.

    This is the engine-portable hash used by ``hash_mode="md5"``: DuckDB
    computes the identical value as
    ``('0x' || substr(md5(a || ':' || b), 1, 15))::BIGINT`` — which makes
    LSH banding oracle-checkable (the xxhash64 fast path has no SQL
    equivalent outside Spark). ``concat_ws`` skips NULLs identically on
    both engines, matching ``try_element_at`` padding."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", *[c.cast("string") for c in cols])), 1, 15), 16, 10
    ).cast("long")


def _with_signature(sh_df: DataFrame, k: int, hash_mode: str = "xxhash64") -> DataFrame:
    """Append `sig ARRAY<BIGINT>[k]` (k-permutation MinHash) to a
    (doc_id, sh, …) frame — pure narrow integer work, zero shuffle.

    Classic 2-universal construction: two base hashes per shingle reduced
    mod a 31-bit prime, then hash_i = (h1 + i·h2) mod P — overflow-free
    (i·h2 < 2^37).

    The base hashes (xxhash64 / md5-derived) stay JVM-side; the
    k-permutation min is one vectorized Arrow UDF over the per-shingle
    (a, b) arrays. A higher-order-function fold here is CodegenFallback —
    O(k·shingles) interpreted lambda dispatches per doc (k=64). Every
    permutation value is exact integer arithmetic (a + i·b < 2^37, then
    numpy int64 `%` on non-negative operands == pmod). An empty or NULL
    shingle array gives k NULL elements (the min of nothing).
    """
    import numpy as np

    from hgraphstorage_spark.pipeline.kernels import matrix_list, ragged

    P = MINHASH_P
    if hash_mode == "md5":
        # b from the UPPER bits of the same 60-bit shingle hash (a uses
        # bits 0-30; h>>29 uses 29-59 — independent enough for the
        # 2-universal family) — pure integer math, no second md5: a
        # per-shingle md5 here measured +2 s on the sf0.1 bench, and
        # DuckDB replays `(h >> 29) % P` trivially
        second = lambda h: F.pmod(F.shiftright(h, 29), F.lit(P))  # noqa: E731
    else:
        second = lambda h: F.pmod(F.xxhash64(h, F.lit(1)), F.lit(P))  # noqa: E731

    @F.arrow_udf("array<bigint>")
    def _sig(a_arr, b_arr):
        a, lens = ragged(a_arr)
        b, _ = ragged(b_arr)
        nonempty = lens > 0
        mins = np.zeros((len(lens), k), dtype=np.int64)
        if nonempty.any():
            starts = (np.cumsum(lens) - lens)[nonempty]
            for i in range(k):
                mins[nonempty, i] = np.minimum.reduceat((a + i * b) % P, starts)
        return matrix_list(mins, ~nonempty)

    sh = F.col("sh")
    return sh_df.withColumn(
        "sig", _sig(F.transform(sh, lambda h: F.pmod(h, F.lit(P))), F.transform(sh, second))
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document — narrow projections only (shingle
    hashing + k permutations in whole-stage codegen; the explode+groupBy
    shuffle of the naive formulation is gone entirely).
    Returns (doc_id, sig ARRAY<BIGINT> length k).
    """
    return _with_signature(
        shingle_hashes(docs, text_col, id_col, n, hash_mode), k, hash_mode
    ).select("doc_id", "sig")


def _banded(base: DataFrame, rows_per_band: int, bands: int, hash_mode: str) -> DataFrame:
    """(doc_id, band_id, band_hash) from a signature frame. Band hash =
    fold over the band's signature slice; a single nested HOF keeps the
    expression tree O(1) in ``bands``. md5 mode hashes the ':'-joined
    slice instead (== DuckDB md5(array_to_string(list_slice(...), ':')))."""
    if hash_mode == "md5":
        band_fold = lambda sl: F.md5(  # noqa: E731
            F.concat_ws(":", F.transform(sl, lambda x: x.cast("string")))
        )
    else:
        band_fold = lambda sl: F.aggregate(  # noqa: E731
            sl, F.lit(0).cast("long"), lambda acc, x: F.xxhash64(acc, x)
        )
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            band_fold(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)).alias(
                "band_hash"
            ),
        ),
    )
    return base.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact-Jaccard verify.

    1. signatures (k minhashes) → b bands of k/b rows each;
    2. band hash join: docs sharing any band are candidates (expected
       recall at Jaccard s: 1-(1-s^(k/b))^b);
    3. verify candidates with exact shingle-set Jaccard; keep ≥ threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``hash_mode="md5"`` uses the `md5_long` hash family end-to-end (word,
    shingle, permutation, and band hashing), making the whole operator a
    deterministic function DuckDB can replay — the driver's oracle runs
    that mode. xxhash64 stays the (default) fast path; same plan shape.
    """
    rows_per_band = k // bands
    # ONE pass hashes text into shingle sets; signatures derive narrowly.
    # Persisted because three plan branches consume it (banding + both
    # verify sides) — at scale this is the "signature table" a real
    # pipeline would checkpoint; it is ~8(k + |shingles|) bytes/doc, far
    # smaller than the text it replaces.
    base = track(
        _with_signature(shingle_hashes(docs, text_col, id_col, n, hash_mode), k, hash_mode)
    )
    banded = _banded(base, rows_per_band, bands, hash_mode)
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            "inner",
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verify on candidates only: join the hashed shingle sets
    # back in and compare with integer array_intersect per row, no explode.
    # NO broadcast hint: on mostly-unique corpora the candidate set is tiny
    # and AQE will broadcast it at runtime, but on a copy-dense corpus (the
    # workload dedup exists for) candidates scale with duplicate density —
    # ~1e9 pairs at 100 TB would blow the 8 GB broadcast ceiling and the
    # driver before it. AQE picks the strategy from the measured size.
    sh = base.select("doc_id", "sh")
    verified = (
        candidates
        .join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / (
                    F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def incremental_near_dup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Refresh-crawl dedup: which NEW documents near-duplicate anything in
    the SEEN corpus — the incremental form of ``minhash_lsh_pairs`` (a
    fresh crawl against last month's corpus must not re-pair the seen
    side with itself, which at 100 TB dwarfs the new batch).

    Same signature/banding machinery, but the band join is ASYMMETRIC:
    new bands probe seen bands only, so the candidate count scales with
    |new| x collision rate, never |seen|^2. In production the seen
    side's signature table is the persisted artifact of the original
    dedup run (8(k+|shingles|) bytes/doc) — the text never re-shingles.
    Verification is exact Jaccard on the hashed shingle sets, as in the
    symmetric op.

    Returns (doc_id, seen_id, jaccard): one row per flagged (new, seen)
    pair at >= threshold; the caller drops flagged docs with a left_anti
    join on doc_id."""
    rows_per_band = k // bands
    base_new = track(
        _with_signature(shingle_hashes(new_docs, text_col, id_col, n, hash_mode), k, hash_mode)
    )
    base_seen = track(
        _with_signature(shingle_hashes(seen_docs, text_col, id_col, n, hash_mode), k, hash_mode)
    )
    bn = _banded(base_new, rows_per_band, bands, hash_mode).alias("a")
    bs = _banded(base_seen, rows_per_band, bands, hash_mode).alias("b")
    candidates = (
        bn.join(
            bs,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("seen_id"))
        .distinct()
    )
    sh_new = base_new.select(F.col("doc_id"), F.col("sh").alias("sh_a"))
    sh_seen = base_seen.select(F.col("doc_id").alias("seen_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # No broadcast hint on candidates (see minhash_lsh_pairs): the flagged
    # set scales with |new| x duplicate density — AQE decides at runtime.
    return (
        candidates
        .join(sh_new, "doc_id")
        .join(sh_seen, "seen_id")
        .select(
            "doc_id",
            "seen_id",
            F.round(
                inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter), 6
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _cap_doc_freq(sh: DataFrame, keys: list, max_doc_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq``
    from an exploded (doc_id, [block,] shingle) index — the Broder-era
    hot-shingle mitigation (VERDICT r4 task 4): one shingle shared by k
    docs creates a k² candidate group, and a shingle that common is
    boilerplate carrying no similarity signal. One count-agg (map-side
    partial) + a semi-join on the SAME key the self-join shuffles on.

    Callers keep per-doc set sizes from the UNCAPPED index, so capping
    only shrinks intersection counts: every capped score <= its uncapped
    score, hence capped output pairs ⊆ uncapped output pairs at any
    threshold (the conservative direction — full precision, bounded
    candidate fan-out)."""
    hot = (
        sh.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_doc_freq)
        .select(*keys)
    )
    return sh.join(hot, keys, "left_semi")


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold.
    Returns (doc_a, doc_b, jaccard DECIMAL(18,6)), doc_a < doc_b.

    Plan selection (VERDICT r6 task 6 — no public API emits the
    unbounded quadratic candidate join):

    - ``max_doc_freq=None`` (default) → the LOSSLESS prefix-filter plan
      (:func:`jaccard_prefix_pairs`, SSJoin/PPJoin): identical pairs and
      scores to the naive all-shared-shingles join (property-tested
      equivalence), but candidates fire only on rarest-first prefix
      tokens, so a hot boilerplate shingle can no longer create a k²
      candidate group.
    - ``max_doc_freq=k`` → the bounded-fan-out capped inverted index
      (:func:`_cap_doc_freq`): shingles in more than k docs leave the
      candidate index, so scores only shrink — capped pairs ⊆ uncapped
      pairs. Use when approximate-but-cheaper beats exact.

    The naive uncapped join survives as the test-only oracle shape
    :func:`_ngram_jaccard_pairs_naive` that the prefix-filter
    equivalence tests falsify against."""
    if max_doc_freq is None:
        return jaccard_prefix_pairs(
            docs, text_col, id_col, n=n, threshold=threshold, block_col=block_col
        )
    return _ngram_jaccard_pairs_naive(
        docs, text_col, id_col, n, threshold, block_col, max_doc_freq
    )


def _ngram_jaccard_pairs_naive(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """The all-shared-shingles inverted-index join — quadratic within a
    hot-shingle group when uncapped, which is why the PUBLIC entry point
    only reaches it with a ``max_doc_freq`` cap; uncapped it is the
    test-only oracle shape the prefix-filter plan is verified against
    (and the measured ``diagnostics`` row in bench.py)."""
    from hgraphstorage_spark.pipeline.state import track

    # explode hashed shingles: the co-group join shuffles 8-byte keys, not
    # n-word strings. explode_OUTER dodges InferFiltersFromGenerate (see
    # cross_source_overlap: plain explode synthesizes `size(sh) > 0` and
    # pushes it below shingle_hashes' repartition with the whole shingle
    # expression INLINED, re-shingling the corpus in the narrow scan
    # stage); value-identical because `sh` is never empty by
    # construction (shingle_hashes pads to >= 1 element).
    sh = shingle_hashes(docs, text_col, id_col, n).select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    )
    if block_col is not None:
        blocks = docs.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("_blk"))
        sh = sh.join(blocks, "doc_id")
        keys = ["_blk", "shingle"]
    else:
        keys = ["shingle"]
    # `sh` fans out FIVE ways — the sizes agg, the cap's doc-frequency
    # agg, the cap's semi-join probe side, and (through `idx`) both
    # sides of the candidate self-join; unpersisted, each branch replays
    # the corpus tokenize + shingle explode from parquet (r12
    # duplicate-compute sweep: the capped path behind dedup_clusters /
    # dedup_keep_best / cluster_split measured 24 s at sf0.1, ~5x the
    # one-pass cost). Narrow (doc_id, 8-byte shingle [, block]) and
    # every consumer reads it at full width → persist.
    sh = track(sh)
    # sizes come from the UNCAPPED shingle sets (the cap shrinks only the
    # numerator, keeping capped ⊆ uncapped)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    idx = sh if max_doc_freq is None else _cap_doc_freq(sh, keys, max_doc_freq)
    a = idx.select(F.col("doc_id").alias("doc_a"), *keys)
    b = idx.select(F.col("doc_id").alias("doc_b"), *keys)
    inter = (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def jaccard_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING
    (Chaudhuri et al. ICDE'06 SSJoin / Xiao et al. WWW'08 PPJoin) — the
    LOSSLESS scale path for exact similarity join. Same output contract
    as :func:`ngram_jaccard_pairs` with no cap (identical pairs, identical
    scores; property-tested), but the candidate join only fires on tokens
    in each document's rarest-first PREFIX instead of on every shared
    shingle, so one hot boilerplate shingle no longer creates a k²
    candidate group: a token shared by k docs contributes candidates only
    from the (few) docs rare enough to carry it inside their prefix.

    Prefix-filter lemma: under any global token order, if
    J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, and the globally-smallest common
    token sits within the first |A| − ⌈t·|A|⌉ + 1 tokens of A AND the
    first |B| − ⌈t·|B|⌉ + 1 of B — so joining prefixes on a shared token
    misses nothing. The global order here is (document frequency ASC,
    shingle) — rarest first maximizes pruning — and a length filter
    (t·max(|A|,|B|) ≤ min) drops size-incompatible candidates before the
    verify. t·sz products are rounded to 9 decimals before ⌈·⌉ /
    comparison so IEEE representation noise (0.1·30 = 3.0000…04) never
    over-shrinks a prefix; both engines evaluate the identical doubles.

    Shape at scale: shared :func:`shingle_hashes` explode (8-byte hashed
    shingles), persisted before its fan-out (df-count agg + rank join +
    verify — the simhash inferred-isnotnull trap); one shingle-keyed
    count agg (map-side partial); one doc-keyed window for the per-doc
    rank (each doc's shingle list sorts within one task — bounded by doc
    length, never by corpus); prefix self-join on the 8-byte shingle key
    (AQE-decided); exact verify via array_intersect on the two docs'
    shingle arrays. No corpus-sized window, nothing collected.

    ``hash_mode="md5"`` makes every stage — hashing, df order, prefix
    cut, candidate join, verify — replayable in DuckDB.
    Returns (doc_a, doc_b, jaccard DECIMAL(18,6)), doc_a < doc_b."""
    from pyspark.sql import Window

    from hgraphstorage_spark.pipeline.state import track

    arrays = track(
        shingle_hashes(
            docs.select(
                F.col(id_col), F.col(text_col), *([block_col] if block_col else [])
            ),
            text_col,
            id_col,
            n,
            hash_mode,
        )
    )
    sh = arrays.select("doc_id", F.explode_outer("sh").alias("shingle"))
    if block_col is not None:
        blocks = docs.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("_blk"))
        sh = sh.join(blocks, "doc_id")
        keys = ["_blk", "shingle"]
    else:
        keys = ["shingle"]
    dfreq = sh.groupBy(*keys).agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("doc_id").orderBy("_df", "shingle")
    ranked = (
        sh.join(dfreq, keys)
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    prefix_len = F.col("_sz") - F.ceil(F.round(F.lit(threshold) * F.col("_sz"), 9)) + 1
    prefix = ranked.filter(F.col("_rk") <= prefix_len).select("doc_id", *keys, "_sz")
    a = prefix.select(F.col("doc_id").alias("doc_a"), *keys, F.col("_sz").alias("_sza"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), *keys, F.col("_sz").alias("_szb"))
    cand = (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.round(
                F.lit(threshold) * F.greatest("_sza", "_szb"), 9
            ) <= F.least("_sza", "_szb")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("_sha"))
    sb = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    out = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double")
                / (F.size("_sha") + F.size("_shb") - inter),
                6,
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def lsh_recall_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    sample_fraction: float = 0.1,
    salt: str = "lshcal",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Measure banded-LSH recall on a deterministic hash-sample BEFORE
    the corpus-scale run — the parameter-validation step a 100 TB dedup
    owes its operator: exact (quadratic, sample-bounded) Jaccard pairs
    are ground truth; ``minhash_lsh_pairs`` with the candidate (k,
    bands) runs on the same sample; their ratio is the measured recall,
    reported beside the theoretical S-curve value at the threshold
    (1 - (1 - t^(k/b))^b). Verified LSH pairs are a subset of the true
    pairs (the verify step is exact), so precision is 1 by
    construction and recall is the one open number.

    One row: (n_sample_docs, true_pairs, found_pairs, recall,
    theoretical_recall, sample_ok). When the sample holds ZERO true
    pairs the measurement is vacuous — ``recall`` is NULL and
    ``sample_ok`` false (VERDICT r4 task 9: an undersized sample must
    not read as perfect recall; grow ``sample_fraction`` until
    ``sample_ok``). Deterministic — sampling is the md5-bucket family
    of ``hash_sample``, both pair sets are pure functions of the
    data."""
    from hgraphstorage_spark.pipeline.sampling import _bound_hex, _bucket

    sample = (
        docs
        if sample_fraction >= 1.0
        else docs.filter(_bucket(id_col, salt) <= F.lit(_bound_hex(sample_fraction)))
    )
    truth = ngram_jaccard_pairs(sample, text_col, id_col, n=n, threshold=threshold)
    found = minhash_lsh_pairs(
        sample, text_col, id_col, n=n, k=k, bands=bands, threshold=threshold, hash_mode=hash_mode
    ).select("doc_a", "doc_b")
    joined = truth.join(found, ["doc_a", "doc_b"], "left_semi")
    r = k // bands
    theo = 1.0 - (1.0 - threshold ** r) ** bands
    counts = sample.select(F.count(F.lit(1)).alias("n_sample_docs")).crossJoin(
        truth.select(F.count(F.lit(1)).alias("true_pairs"))
    ).crossJoin(joined.select(F.count(F.lit(1)).alias("found_pairs")))
    return counts.select(
        "n_sample_docs",
        "true_pairs",
        "found_pairs",
        F.round(
            F.when(F.col("true_pairs") > 0, F.col("found_pairs") / F.col("true_pairs"))
            .otherwise(F.lit(None).cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("recall"),
        F.round(F.lit(theo), 6).cast("decimal(18,6)").alias("theoretical_recall"),
        (F.col("true_pairs") > 0).alias("sample_ok"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle-set containment:
    ``containment(A in B) = |A ∩ B| / |A|`` — the signal Jaccard
    structurally misses. A short document quoted whole inside a long one
    has containment 1.0 but Jaccard |A|/|B| ≈ 0; quote/boilerplate
    inclusion and page-within-site duplication are containment problems
    (Broder's original resemblance/containment pair, SEQUENCES 1997).

    Returns (doc_a, doc_b, containment_a, containment_b, jaccard) for
    pairs where max(containment) >= threshold, doc_a < doc_b —
    containment_a is how much of A lies inside B.

    Same inverted-index shape as ``ngram_jaccard_pairs``: explode hashed
    shingles (8-byte keys), count shared shingles per co-occurring pair
    (map-side partial agg; pairs are bounded by real shingle
    collisions), join per-doc set sizes back. Quadratic only within a
    shared-shingle group — block with ``block_col``, run on LSH
    candidates at crawl scale, and/or cap hot shingles with
    ``max_doc_freq`` (see :func:`_cap_doc_freq`: a shingle shared by
    more than that many docs leaves the candidate index before the
    self-join; sizes stay uncapped, so scores only shrink and capped
    pairs ⊆ uncapped pairs).
    """
    from hgraphstorage_spark.pipeline.state import track

    # explode_OUTER + persist: the same two fixes as the capped
    # _ngram_jaccard_pairs_naive path (r12) — plain explode re-inlined
    # the shingle expression below the repartition via
    # InferFiltersFromGenerate, and `sh` fans out to the sizes agg, the
    # cap aggs, and both self-join sides. Value-identical: `sh` arrays
    # are never empty by construction.
    sh = shingle_hashes(docs, text_col, id_col, n).select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    )
    if block_col is not None:
        blocks = docs.select(F.col(id_col).alias("doc_id"), F.col(block_col).alias("_blk"))
        sh = sh.join(blocks, "doc_id")
        keys = ["_blk", "shingle"]
    else:
        keys = ["shingle"]
    sh = track(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    idx = sh if max_doc_freq is None else _cap_doc_freq(sh, keys, max_doc_freq)
    a = idx.select(F.col("doc_id").alias("doc_a"), *keys)
    b = idx.select(F.col("doc_id").alias("doc_b"), *keys)
    inter = (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter").cast("double") / F.col("sz_a"), 6)
            .cast("decimal(18,6)")
            .alias("containment_a"),
            F.round(F.col("inter").cast("double") / F.col("sz_b"), 6)
            .cast("decimal(18,6)")
            .alias("containment_b"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
    )
    return out.filter(
        F.greatest("containment_a", "containment_b") >= F.lit(threshold).cast("decimal(18,6)")
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over word n-grams: per bit, sum +1/-1 weighted by
    shingle-hash bit; sign of the sum gives the fingerprint bit. A single
    narrow projection — per bit i the +1 majority is `2·|{h: bit_i(h)=1}| >
    |shingles|`, computed with array `filter`/`size`, so there is no
    explode and no shuffle at all. Returns (doc_id, simhash BIGINT).
    Near-dup detection = small Hamming distance (see tests).

    ``hash_mode="md5"`` feeds 60-bit ``md5_long`` shingle hashes (bits
    60-63 then stay 0) so a DuckDB oracle replays the fingerprint
    bit-for-bit; xxhash64 stays the fast path."""
    sh = shingle_hashes(docs, text_col, id_col, n, hash_mode)
    return sh.select("doc_id", simhash_word(F.col("sh")).alias("simhash"))


def simhash_word(sh_col: F.Column) -> F.Column:
    """The 64-bit SimHash majority fold over a shingle-hash array column —
    a single fold over the 64 bit positions (runtime sequence, not 64
    unrolled when-branches — keeps optimizer+codegen wall flat in the
    word width); `call_function` because the Python shiftright/shiftleft
    wrappers only take int literals, while the SQL functions take any
    expression. Bits are disjoint so bitwise OR assembles the word.
    Shared by batch ``simhash`` and ``streaming.stream_near_dedup``."""
    one = F.lit(1).cast("long")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(63)),
        F.lit(0).cast("long"),
        lambda acc, i: F.when(
            2
            * F.size(
                F.filter(
                    sh_col,
                    lambda x: F.call_function("shiftright", x, i).bitwiseAND(one) == 1,
                )
            )
            > F.size(sh_col),
            acc.bitwiseOR(F.call_function("shiftleft", one, i)),
        ).otherwise(acc),
    )


def shingle_combine(wh_col: F.Column, n: int) -> F.Column:
    """Distinct shingle hashes (xxhash64 family) from a MATERIALIZED
    word-hash array column — the column form of ``shingle_hashes``'s
    fast path, for callers that must keep their other columns (e.g.
    streaming frames). Same materialization contract as ``_shingle_col``:
    pass an attribute, not an inline expression."""
    n_sh = F.greatest(F.size(wh_col) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.xxhash64(*[F.try_element_at(wh_col, i + j) for j in range(n)]),
        )
    )


def hamming64(col_a, col_b) -> F.Column:
    """Hamming distance between two 64-bit words (bit_count of xor)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", rounds: int = 3
) -> DataFrame:
    """Group near-duplicate pairs into clusters and pick one canonical
    document per cluster — the standard last stage of a near-dedup
    pipeline (pairs from `minhash_lsh_pairs` / `ngram_jaccard_pairs` /
    `embedding_near_dup_*`). HashMin label spread over the pair graph for
    a fixed number of rounds (the alternating-star trick in
    analytics.connected_components_alt covers adversarially-deep graphs;
    dup clusters are shallow, so plain HashMin converges in 2-3 rounds).
    Returns (doc_id, cluster, keep) for every document; keep is True for
    the cluster representative (min doc_id).

    Shape at scale: per round one join keyed by doc_id plus a min-agg —
    both partial-aggregated, keys are document ids (uniform). State is
    localCheckpointed per round to truncate lineage. Deterministic, so
    SQL-oracle-able by unrolling rounds."""
    from hgraphstorage_spark.pipeline.state import track

    # `und` joins against the state EVERY round: unpersisted, each of
    # the `rounds` iterations (and both unionAll references of `pairs`
    # inside it) replays the ENTIRE upstream pair derivation — for the
    # capped n-gram Jaccard recipe that measured 3 x 24 s of replayed
    # pair stage inside a 63 s build at sf0.1 (r12 duplicate-compute
    # sweep). The pair list is the sub-linear output of the dedup (two
    # 8-byte ids per near-dup pair) and every round consumes it at full
    # width → persist once, before the first round references it.
    und = track(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).unionAll(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
    )
    state = docs.select(F.col(id_col).alias("doc_id"), F.col(id_col).alias("cluster"))
    for _ in range(rounds):
        nbr_min = (
            und.join(
                state.select(F.col("doc_id").alias("b"), F.col("cluster").alias("nc")), "b"
            )
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("nc").alias("nmin"))
        )
        state = (
            state.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster"), F.coalesce("nmin", F.col("cluster"))).alias("cluster"),
            )
            .localCheckpoint()
        )
    return state.withColumn("keep", F.col("doc_id") == F.col("cluster"))


def cross_source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Curation governance: how much duplicated content each PAIR of
    sources shares — the matrix a pipeline owner reads before deciding
    mixing weights (two crawls of the same sites should not both get
    full weight).

    Measured at the n-gram level (distinct word n-grams per source, the
    `decontaminate` normalization): for each unordered source pair
    (a < b), the number of shared distinct n-grams and the Jaccard of
    the two sources' n-gram sets. One shuffle keyed by n-gram hash
    (uniform), per-source set sizes from the same aggregate, pair fan-in
    bounded by sources-per-gram (tiny); no text ever shuffles twice.
    Returns (source_a, source_b, shared_ngrams, jaccard DECIMAL(18,6)).
    """
    # ONE heavy shuffle: gram-keyed collect_set dedups (src, gram) pairs
    # map-side, so the explode never needs its own distinct pass. The
    # per-source set sizes and the pair counts come out of a SINGLE
    # second aggregation — each gram emits its source pairs plus one
    # (src, NULL) singleton per member, so the gram-level frame (and the
    # whole shingle scan behind it) is computed exactly once; Spark finds
    # no ReusedExchange across separate branches here, so two consumers
    # would scan the corpus twice.
    # explode_OUTER on purpose: plain explode makes InferFiltersFromGenerate
    # synthesize `size(_sh) > 0` and push it below the repartition with the
    # whole shingle expression INLINED — the entire corpus re-shingles
    # single-threaded in the scan stage (measured: over half the runtime).
    # The shingle array is never empty (>= 1 by construction), so outer
    # explode is value-identical and the inferred filter disappears.
    sh = (
        _parallel(docs)
        .select(F.col(source_col).alias("src"), _words(F.col(text_col)).alias("_w"))
        .select("src", _shingle_col(F.col("_w"), n).alias("_sh"))
        .select("src", F.explode_outer("_sh").alias("g"))
    )
    per_gram = sh.groupBy("g").agg(F.sort_array(F.collect_set("src")).alias("srcs"))
    pair_structs = F.flatten(
        F.transform(
            "srcs",
            lambda a, i: F.transform(
                F.slice("srcs", i + 2, F.size("srcs")),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    singleton_structs = F.transform(
        "srcs", lambda s: F.struct(s.alias("a"), F.lit(None).cast("string").alias("b"))
    )
    counts = (
        per_gram.select(F.explode(F.concat(pair_structs, singleton_structs)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        # <= sources^2 rows, but three consumers below (pairs + both size
        # sides): truncate the corpus-scanning lineage so it runs once
        .localCheckpoint(eager=False)
    )
    pairs = counts.filter(F.col("b").isNotNull()).select(
        F.col("a").alias("source_a"),
        F.col("b").alias("source_b"),
        F.col("cnt").alias("shared_ngrams"),
    )
    sizes = counts.filter(F.col("b").isNull()).select(
        F.col("a").alias("src"), F.col("cnt").alias("n_grams")
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_ngrams",
            F.round(
                F.col("shared_ngrams").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_ngrams")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("jaccard"),
        )
    )


def fuzzy_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 12,
    prefix_len: int = 12,
    len_band: int = 16,
    max_pairs_per_doc: int | None = None,
    emit: str = "pairs",
    cluster_rounds: int = 8,
) -> DataFrame:
    """Record-linkage-style fuzzy duplicate pairs: blocked Levenshtein
    over the normalized (lowercased, trimmed) text.

    Blocking contract (the deterministic recall boundary, stated rather
    than hidden): two documents are compared iff they share the first
    ``prefix_len`` normalized characters AND their lengths differ by at
    most ``len_band`` — each row is probed into its ``len//len_band``
    bucket and the next one, so same-prefix pairs within one band width
    always meet in some bucket; same-prefix pairs further apart in
    length than ``len_band`` are (documented) misses, as are pairs that
    diverge inside the prefix. This is standard prefix + sorted-length
    blocking from the entity-resolution literature.

    Scale shape: the block key (prefix, bucket) is a plain equi-join key
    — one shuffle, no cartesian; per-block work is quadratic only within
    a block, and blocks are bounded by real prefix collisions (skewed
    corpora should raise ``prefix_len``). A length-difference residual
    predicate (necessary for dist <= max_dist) prunes dense blocks for
    free, each pair is scored exactly once via the greatest-bucket
    meeting rule (no candidate re-shuffle), and the edit-distance kernel
    is the BOUNDED threshold form — O(len * max_dist) per pair, not
    O(len^2). Kept pairs' distances equal the unbounded form, and both
    engines define levenshtein identically (unit-cost
    insert/delete/substitute), so the oracle replays the operator with
    plain full levenshtein — no hash-mode split needed.

    The raw pair output is quadratic in near-identical copies per
    blocking family. Two in-operator mitigations (VERDICT r3 task 4):

    - ``max_pairs_per_doc=k`` keeps, for each ``doc_a``, only its k
      candidates NEAREST BY LENGTH (ties to the smallest ``doc_b``)
      BEFORE the edit-distance kernel runs — both kernel work and output
      become O(n·k) instead of O(copies²). The cap ranks an id+length
      frame (8-byte keys), never reshuffles texts; dedup still works
      because transitive near-identical copies chain through the cluster
      stage. Deterministic, so still oracle-able.
    - ``emit="clusters"`` routes the (possibly capped) pairs through
      ``dedup_clusters`` and returns (doc_id, cluster, keep) — one row
      per DOCUMENT, never quadratic, which is what a dedup pipeline
      consumes anyway. Under the cap a copy family's pair graph is a
      banded chain (each doc keeps its k length-nearest), so HashMin
      needs ~family_size/k rounds, not the 2-3 a clique needs —
      ``cluster_rounds`` defaults to 8 (pair-graph diameter <= 8, i.e.
      families up to ~8*k copies) and is the knob for deeper chains.

    Returns (doc_a, doc_b, dist) with doc_a < doc_b and dist <= max_dist
    (``emit="pairs"``), or (doc_id, cluster, keep) (``emit="clusters"``).
    """
    if emit not in ("pairs", "clusters"):
        raise ValueError(f"emit must be 'pairs' or 'clusters', got {emit!r}")
    norm = F.lower(F.trim(F.col(text_col)))
    base = (
        _parallel(docs)
        .select(F.col(id_col).alias("doc_id"), norm.alias("t"))
        .withColumn("pfx", F.substring("t", 1, prefix_len))
        .withColumn("lb", F.floor(F.length("t") / len_band))
    )
    probes = base.withColumn("pb", F.explode(F.array(F.col("lb"), F.col("lb") + 1)))
    a, b = probes.alias("a"), probes.alias("b")
    block_cond = (
        (F.col("a.pfx") == F.col("b.pfx"))
        & (F.col("a.pb") == F.col("b.pb"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # necessary condition for dist <= max_dist: free residual
        # predicate that kills most of a dense block before the
        # edit-distance kernel runs
        & (F.abs(F.length("a.t") - F.length("b.t")) <= max_dist)
        # each pair meets once or twice across the probe buckets (twice
        # iff both docs share a length bucket); keeping only the meeting
        # at greatest(lb_a, lb_b) makes it exactly once WITHOUT a
        # distinct — the previous distinct() re-shuffled every candidate
        # WITH both full texts attached (~GBs on a copy-dense corpus)
        & (F.col("a.pb") == F.greatest(F.col("a.lb"), F.col("b.lb")))
    )
    if max_pairs_per_doc is None:
        cand = a.join(b, block_cond).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.t").alias("ta"),
            F.col("b.t").alias("tb"),
        )
    else:
        # cap BEFORE the kernel, on an id+length frame: the block join and
        # the rank window shuffle 8-byte columns only; texts join back in
        # for just the surviving O(n*k) pairs
        from pyspark.sql import Window

        slim = probes.select("doc_id", "pfx", "lb", "pb", F.length("t").alias("ln"))
        sa, sb = slim.alias("a"), slim.alias("b")
        slim_cond = (
            (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.pb") == F.col("b.pb"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
            & (F.col("a.pb") == F.greatest(F.col("a.lb"), F.col("b.lb")))
        )
        capped = (
            sa.join(sb, slim_cond)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.abs(F.col("a.ln") - F.col("b.ln")).alias("_ld"),
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("doc_a").orderBy("_ld", "doc_b")
                ),
            )
            .filter(F.col("_rn") <= max_pairs_per_doc)
            .select("doc_a", "doc_b")
        )
        texts = base.select("doc_id", "t")
        cand = capped.join(
            texts.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")), "doc_a"
        ).join(
            texts.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")), "doc_b"
        )
    # BOUNDED levenshtein: the threshold form computes only the |2d+1|
    # diagonal band and early-exits, O(len*d) instead of O(len^2) per
    # pair — measured 18x on a block-dense corpus (16x perturbed copies
    # sharing prefixes). Returns -1 above the threshold; kept pairs'
    # distances are identical to the unbounded form, so the oracle (which
    # computes full levenshtein and filters) is unchanged.
    pairs = (
        cand.withColumn(
            "dist", F.levenshtein("ta", "tb", max_dist).cast("long")
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("doc_a", "doc_b", "dist")
    )
    if emit == "clusters":
        return dedup_clusters(docs, pairs, id_col=id_col, rounds=cluster_rounds)
    return pairs


def exact_substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", §4.1): remove every token span of
    length >= n that occurs more than once ANYWHERE in the corpus
    (cross-document or within-document), keeping the non-duplicated
    remainder of each document.

    The paper builds a corpus-wide suffix array on one big machine; the
    Spark-first equivalent works on the n-token gram stream (a span of
    length >= n duplicates iff every length-n window inside it
    duplicates, so flagging duplicated n-gram starts and taking the
    interval union of their [s, s+n-1] spans marks exactly the maximal
    duplicated regions the suffix-array walk would):

    1. narrow: tokens -> position-indexed n-gram hashes (64-bit, hashed
       BEFORE the shuffle so shuffled rows are (id, pos, long), never
       strings);
    2. one hash-aggregate shuffle on gram hash -> occurrence counts
       (map-side partial combine applies; keys are uniform by
       construction, no skew);
    3. join the duplicated-hash set back (AQE picks broadcast when the
       dup set is small, as it is on mostly-unique corpora) and
       collect per-document start positions — output is linear in
       duplicated occurrences, never O(n^2);
    4. per-document interval union + gap slicing as one narrow
       ``F.aggregate`` pass (same machinery as
       ``text.repetition_stats_exact``): zero Python, linear in tokens.

    Matching (and the kept text) is over the lowercased
    whitespace-tokenized stream — reassembly joins kept tokens with
    single spaces, the token-level analogue of the paper's byte-level
    cut. With ``hash_mode="md5"`` the gram hash is the engine-portable
    ``md5_long``, making the whole operator DuckDB-oracle-checkable;
    xxhash64 stays the fast path.

    Returns (doc_id, n_tokens, dup_tokens, kept_text): dup_tokens is the
    exact union length of duplicated spans, kept_text the surviving
    token stream ('' when the whole document is duplicated)."""
    from .state import track

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    # the tokenized corpus is consumed by the gram stream AND the final
    # reassembly join, and the gram stream itself feeds both the
    # dup-count aggregate and the starts join — unpersisted, the
    # regex-tokenize ran three times and the per-position hash chain
    # twice (the dominant CPU of the whole operator). Both frames
    # persist via the r3 track() registry: one tokenize pass, one hash
    # pass, regardless of fan-out.
    base = track(
        _parallel(docs)
        .select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .withColumn("n_tokens", F.size("_toks"))
    )

    if hash_mode == "md5":
        ghash = lambda g: md5_long(g)  # noqa: E731
    else:
        ghash = F.xxhash64
    gram_hashes = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
            lambda i: ghash(F.concat_ws(" ", F.slice("_toks", i, n))),
        ),
    ).otherwise(F.array().cast("array<long>"))

    grams = track(
        base.select(
            "doc_id", F.posexplode(gram_hashes).alias("_p0", "h")
        ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "h")
    )
    dup_hashes = grams.groupBy("h").agg(F.count(F.lit(1)).alias("_c")).filter(
        F.col("_c") >= 2
    ).select("h")
    starts = (
        grams.join(dup_hashes, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )

    df = base.join(starts, "doc_id", "left").withColumn(
        "_starts", F.coalesce("_starts", F.array().cast("array<int>"))
    )

    # One fold over the sorted starts: running covered-interval union
    # (cov = union length) plus the complement gaps as (pos, len) slices.
    gap = lambda b, e: F.struct(b.alias("pos"), (e - b + 1).alias("len"))  # noqa: E731
    init = F.struct(
        F.lit(0).alias("end"),
        F.lit(0).alias("cov"),
        F.array().cast("array<struct<pos:int,len:int>>").alias("gaps"),
    )

    def merge(acc, s):
        e2 = s + F.lit(n - 1)
        return F.struct(
            F.greatest(acc["end"], e2).alias("end"),
            (acc["cov"] + F.greatest(F.lit(0), e2 - F.greatest(acc["end"], s - 1))).alias("cov"),
            F.when(
                s > acc["end"] + 1,
                F.concat(acc["gaps"], F.array(gap(acc["end"] + 1, s - 1))),
            ).otherwise(acc["gaps"]).alias("gaps"),
        )

    def finish(acc):
        return F.struct(
            acc["cov"].alias("cov"),
            F.when(
                acc["end"] < F.col("n_tokens"),
                F.concat(acc["gaps"], F.array(gap(acc["end"] + 1, F.col("n_tokens")))),
            ).otherwise(acc["gaps"]).alias("gaps"),
        )

    df = df.withColumn("_u", F.aggregate("_starts", init, merge, finish))
    kept = F.concat_ws(
        " ",
        F.flatten(
            F.transform(F.col("_u")["gaps"], lambda g: F.slice("_toks", g["pos"], g["len"]))
        ),
    )
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("_u")["cov"].cast("long").alias("dup_tokens"),
        kept.alias("kept_text"),
    )


def dedup_keep_best(
    clusters: DataFrame,
    docs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper policy over near-dup clusters: within each
    cluster keep the HIGHEST-``quality_col`` document (ties to the
    smallest id) — the curation policy real pipelines want instead of
    :func:`dedup_clusters`' min-id representative (keep the cleanest
    copy of a page, drop the OCR-noisy one). ``clusters`` is
    ``dedup_clusters`` output (doc_id, cluster, ...); ``docs`` supplies
    the quality signal.

    Returns (doc_id, cluster, quality, keep). Shape at scale: one
    cluster-keyed argmax via min_by(id, struct(-quality, id)) — a
    declarative agg with map-side partials, no window — plus two
    id-keyed joins; every key is uniform. The ordinal negates only the
    (numeric) quality score, never the id, so string doc_ids tie-break
    correctly (ADVICE r5: the old -id tie-break went NULL on string
    ids and silently marked no keeper)."""
    from hgraphstorage_spark.pipeline.state import track

    q = docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("quality"))
    # `st` feeds both the per-cluster argmax and the final keep join;
    # unpersisted, each consumer replays the whole upstream CLUSTER
    # derivation (iterative near-dup rounds) plus this join (r12
    # duplicate-compute sweep). Narrow (id, cluster, quality), consumed
    # at full width twice → persist.
    st = track(
        clusters.select(F.col(id_col).alias("doc_id"), "cluster").join(q, "doc_id")
    )
    # min of (null-flag, -quality, id): highest quality, ties to the
    # smallest id — a total order (id is unique), so min_by is
    # deterministic. The leading null-flag sends NULL-quality rows LAST
    # (struct comparison otherwise sorts a NULL field FIRST under min,
    # which would crown the unscored copy — the r6 review catch),
    # matching the oracle's ORDER BY quality DESC NULLS LAST.
    best = st.groupBy("cluster").agg(
        F.min_by(
            "doc_id",
            F.struct(
                F.col("quality").isNull().cast("int").alias("nullq"),
                (-F.col("quality")).alias("nq"),
                F.col("doc_id").alias("id"),
            ),
        ).alias("_kid")
    )
    return (
        st.join(best, "cluster")
        .withColumn("keep", F.col("doc_id") == F.col("_kid"))
        .drop("_kid")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    bands: int = 4,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    max_band_freq: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate PAIRS (Manku/Jain/Sarma, WWW'07 — Google's
    web-crawl near-dup detector): band the 64-bit fingerprint into
    ``bands`` disjoint bit ranges; by pigeonhole, any two fingerprints
    within Hamming distance ``bands - 1`` (default 3) agree EXACTLY on
    at least one band, so band equality is a lossless candidate filter
    for ``hamming <= bands - 1`` — unlike probabilistic MinHash-LSH
    recall, this blocking scheme misses nothing at the default radius.
    Candidates verify with one xor-popcount.

    Returns (doc_a, doc_b, hamming BIGINT), doc_a < doc_b, hamming <=
    ``max_distance``. Set ``max_distance > bands - 1`` only with more
    bands (the pigeonhole guarantee is per-band-count).

    Scale shape: fingerprinting is a narrow zero-shuffle projection
    (``simhash``); the candidate self-join keys on (band, 16-bit value)
    — an 8-byte shuffle key, AQE-decided strategy; the verify is one
    integer xor per candidate, no re-tokenization. Degenerate corpora
    (many empty/boilerplate docs collapsing to one fingerprint) create
    hot band values — ``max_band_freq`` drops band values appearing in
    more than that many docs BEFORE the self-join (capped pairs ⊆
    uncapped pairs, same contract as ``max_doc_freq``); real near-dup
    groups above the cap surface through ``dedup_exact`` on the
    fingerprint instead. ``hash_mode="md5"`` keeps the whole pipeline
    DuckDB-replayable."""
    return hamming_near_dup_pairs(
        simhash(docs, text_col, id_col, n, hash_mode),
        fp_col="simhash",
        max_distance=max_distance,
        bands=bands,
        max_band_freq=max_band_freq,
    )


def hamming_near_dup_pairs(
    fps: DataFrame,
    fp_col: str = "fingerprint",
    id_col: str = "doc_id",
    max_distance: int = 3,
    bands: int = 4,
    max_band_freq: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """The generic banded-Hamming pair core over ANY 64-bit fingerprint
    column — SimHash words (:func:`simhash_near_dup_pairs`), image
    dHash / audio energy hashes
    (:func:`~hgraphstorage_spark.pipeline.multimodal.media_near_dup_pairs`),
    or caller-supplied signatures. Same Manku pigeonhole guarantee:
    band equality is lossless for ``hamming <= bands - 1``.
    ``block_col`` restricts pairs to equal block values (e.g. media
    kind, so an image dHash never pairs with a numerically-close audio
    hash from a different signature family).

    Returns (doc_a, doc_b, hamming BIGINT), doc_a < doc_b under
    ``id_col``'s values.

    Scale shape: candidate self-join keys on (block, band, 16-bit
    value) — an 8-byte shuffle key, AQE-decided strategy; verify is
    one integer xor per candidate. ``max_band_freq`` bounds hot-band
    fan-out (capped ⊆ uncapped, the ``max_doc_freq`` contract)."""
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    from pyspark import StorageLevel
    from hgraphstorage_spark.pipeline.state import track

    w = 64 // bands
    mask = (1 << w) - 1
    # persisted (unless the caller already did), not just for reuse
    # across the three consumers: without the lineage cut, the joins'
    # inferred isnotnull(fingerprint) constraint is pushed below any
    # upstream repartition and re-evaluates the FULL fingerprint
    # expression per row on the narrow pre-shuffle plan — for simhash
    # that is the interpreted 64-bit fold on the single-partition scan,
    # a >100x slowdown (same trap as InferFiltersFromGenerate in
    # shingle_docs). Persisted, each fingerprint computes once, in
    # parallel.
    if fps.storageLevel == StorageLevel.NONE:
        fps = track(fps)
    blk = [block_col] if block_col else []
    keys = blk + ["band", "bval"]
    banded = fps.select(
        F.col(id_col).alias("doc_id"),
        *blk,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.call_function(
                    "shiftrightunsigned", F.col(fp_col), b * F.lit(w)
                ).bitwiseAND(F.lit(mask)),
            )
        ).alias("band", "bval"),
    )
    if max_band_freq is not None:
        banded = _cap_doc_freq(banded, keys, max_band_freq)
    a = banded.select(F.col("doc_id").alias("doc_a"), *keys)
    b = banded.select(F.col("doc_id").alias("doc_b"), *keys)
    cands = (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fps.select(F.col(id_col).alias("doc_a"), F.col(fp_col).alias("_sa"))
    fb = fps.select(F.col(id_col).alias("doc_b"), F.col(fp_col).alias("_sb"))
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming64(F.col("_sa"), F.col("_sb")).cast("long"))
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )


def url_normalized(col) -> F.Column:
    """Canonical URL form for crawl dedup — the FIRST dedup a web corpus
    runs (two fetches of one page differ only in scheme/www/tracking
    noise): lowercase, scheme and leading www. dropped, fragment
    dropped, utm_*/fbclid/gclid tracking parameters dropped, dangling
    ?/& separators and trailing slashes trimmed. Pure narrow regex
    chain (whole-stage codegen, zero shuffle); ASCII classes so any
    regex engine agrees."""
    u = F.lower(F.trim(col))
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"#.*$", "")
    # tracker must sit right after its ?/& separator (so x=utm_a or
    # ?xfbclid never match), and the separator is consumed WITH the
    # parameter. A '?'-anchored tracker leaves a \x01 marker in the
    # consumed separator's place, so the &→? promotion below fires ONLY
    # where a real '?' was removed — a bare path ampersand in a URL that
    # never had a query ('example.com/a&b') is left alone (ADVICE r5:
    # the old unconditional ^([^?]*)& promotion collided it with
    # 'example.com/a?b'). Java regex replaceAll scans the ORIGINAL
    # string left-to-right, so the marker can't create new matches.
    u = F.regexp_replace(u, r"\?(utm_[a-z]+|fbclid|gclid)=[^&#]*", "\x01")
    u = F.regexp_replace(u, r"&(utm_[a-z]+|fbclid|gclid)=[^&#]*", "")
    u = F.regexp_replace(u, "\x01&", "?")
    u = F.regexp_replace(u, "\x01", "")
    u = F.regexp_replace(u, r"[?&]+$", "")
    return F.regexp_replace(u, r"/+$", "")


def url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str | None = None,
    canonical_col: str | None = None,
    same_site_only: bool = True,
) -> DataFrame:
    """Exact dedup on the normalized URL: one row per canonical URL,
    keeping the earliest ``ts_col`` (re-crawls keep the first fetch;
    ties and the no-timestamp case break on a deterministic row hash —
    never dropDuplicates' arbitrary partition-order row). All input
    columns survive, plus ``url_norm``.

    ``canonical_col`` (e.g. ``extract_page_meta``'s ``canonical_url``)
    makes the SITE'S OWN dedup hint the preferred grouping key: rows
    whose canonical link is present group by its normalized form —
    collapsing mobile/AMP/print variants the URL normalizer can't see —
    and rows without one fall back to their own normalized URL.
    ``url_norm`` reports whichever key grouped the row.
    ``same_site_only`` (default True) honors the canonical only when its
    normalized host and the page URL's host are the same SITE — equal,
    or one a dot-boundary suffix of the other (``m.ex.com`` ->
    ``ex.com`` and ``ex.com`` -> ``amp.ex.com`` both qualify; that is
    the mobile/AMP/print-variant use case) — while a canonical pointing
    at an UNRELATED host (the cross-host canonical farm, the syndicated
    copy canonicalizing to the original) falls back to the page's own
    URL instead of collapsing distinct-content rows with no audit
    signal (ADVICE r7). Pass ``same_site_only=False`` to trust
    cross-site canonicals already validated upstream.

    Shape: one url_norm-keyed window (the standard keeper envelope —
    same pattern as ``streaming.stream_near_dedup``'s batch branch);
    URL keys are near-uniform, no skew mitigation needed."""
    from pyspark.sql import Window

    if canonical_col is None:
        key = url_normalized(F.col(url_col))
    else:
        own = url_normalized(F.col(url_col))
        canon = url_normalized(F.col(canonical_col))
        if same_site_only:
            host = lambda c: F.regexp_extract(c, r"^([^/?]+)", 1)  # noqa: E731
            hc, hp = host(canon), host(own)
            same_site = (
                (hc == hp)
                | hp.endswith(F.concat(F.lit("."), hc))
                | hc.endswith(F.concat(F.lit("."), hp))
            )
            canon = F.when(same_site, canon)
        key = F.coalesce(canon, own)
    with_norm = docs.withColumn("url_norm", key)
    others = [F.col(c) for c in docs.columns if c != ts_col]
    order = ([F.col(ts_col)] if ts_col else []) + (
        [F.xxhash64(*others)] if others else []
    )
    w = Window.partitionBy("url_norm").orderBy(*order)
    return (
        with_norm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def domain_stats(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain crawl accounting: docs per registrable host (the
    authority component of the normalized URL) — the input to per-domain
    caps (``sampling.per_group_cap`` on ``domain``) and the first place
    crawl skew shows up (one SEO farm = one hot domain). Returns
    (domain, n_docs, n_urls) sorted nowhere (caller orders).

    One hash-agg shuffle on the domain key, map-side partial."""
    norm = url_normalized(F.col(url_col))
    dom = F.regexp_extract(norm, r"^([^/?]+)", 1)
    return (
        docs.select(F.col(id_col), dom.alias("domain"), norm.alias("_u"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_u").alias("n_urls"),
        )
    )


def novelty_scores(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-document n-gram NOVELTY — the redundancy/contribution signal
    behind SlimPajama-style corpus trimming: the fraction of a doc's
    distinct word n-grams whose FIRST occurrence (min doc id over the
    corpus — id as the arrival proxy) is this document. A doc that only
    repeats earlier shingles scores 0; the first copy of boilerplate
    scores high and its echoes score low. Returns
    (doc_id, n_grams, n_novel, novelty DECIMAL(18,6)); docs whose text
    yields no shingles pass through with zeros.

    Shape at scale: the shared :func:`shingle_hashes` explode (8-byte
    hashed shingles, never n-word strings) with a ``_parallel`` spread
    so single-file scans never shingle on one core, one shingle-keyed
    min-agg (map-side partial), one shingle-keyed join back, one
    doc-keyed agg, one id-keyed passthrough join — no windows, nothing
    collected. Novelty = exact integer ratio, engine-portable.

    The shingle frame is persisted (``state.track``) before its double
    consumption — the min-agg AND the join both read it, and without
    the lineage cut the shingle fold would run twice (and the joins'
    inferred isnotnull constraints would push it below the repartition
    onto the narrow scan — the measured simhash trap). explode_OUTER,
    not explode: plain explode lets InferFiltersFromGenerate push a
    `size(sh) > 0` filter — with the ENTIRE shingle fold inlined —
    below ``shingle_hashes``' internal ``_parallel`` repartition onto
    the single-partition scan (measured 14.5 s of a 13 s total at
    sf0.1; 0.9 s with outer). The array is never empty by
    construction, so outer is value-identical."""
    from hgraphstorage_spark.pipeline.state import track

    sh = track(
        shingle_hashes(docs.select(F.col(id_col), F.col(text_col)), text_col, id_col, n, hash_mode)
        .select("doc_id", F.explode_outer("sh").alias("shingle"))
        .distinct()
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("_first")).cast("long")).alias("n_novel"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.coalesce(
                F.round(F.col("n_novel") / F.col("n_grams"), 6), F.lit(0.0)
            )
            .cast("decimal(18,6)")
            .alias("novelty"),
        )
    )


def domain_quality(
    docs: DataFrame,
    passes_col: str = "passes",
    url_col: str = "url",
    min_docs: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-domain quality roll-up — the blocklist derivation step a
    crawl pipeline runs after per-doc quality filtering (one SEO farm =
    one domain full of failing pages; block the HOST, not just the
    pages): docs and quality-pass counts per registrable host of the
    normalized URL, ``blocked`` when a domain with at least
    ``min_docs`` documents passes at a rate below ``threshold``.
    Returns (domain, n_docs, n_pass, pass_rate DECIMAL(18,6), blocked).

    One domain-keyed count agg (map-side partial); pass_rate is an
    exact integer ratio rounded at 6 — engine-portable."""
    dom = F.regexp_extract(url_normalized(F.col(url_col)), r"^([^/?]+)", 1)
    agg = (
        docs.select(dom.alias("domain"), F.col(passes_col).cast("boolean").alias("_p"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_p").cast("long")).alias("n_pass"),
        )
    )
    rate = F.round(F.col("n_pass") / F.col("n_docs"), 6).cast("decimal(18,6)")
    return agg.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pass").cast("long").alias("n_pass"),
        rate.alias("pass_rate"),
        ((F.col("n_docs") >= min_docs) & (rate < threshold)).alias("blocked"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-level diff between two corpus snapshots — the recurring
    question between crawl dumps / pipeline versions: which doc_ids were
    added, removed, or changed (same id, different text fingerprint),
    and which are identical. One full outer join on the id plus md5 text
    fingerprints; NULL text fingerprints as the empty-string hash so a
    NULL->'' edit reads as unchanged only if both sides agree.

    Returns (doc_id, status in {added, removed, changed, same},
    old_fp, new_fp). Shape at scale: the join shuffles (id, 32-byte
    fingerprint) projections, never text; status is a narrow CASE.
    The graph-layer sibling is ``engine.snapshot_diff`` (version-chain
    diff of nodes/edges); this one speaks the documents-table dialect.
    """
    o = old.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("old_fp"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("new_fp"),
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"), "old_fp", "new_fp")
