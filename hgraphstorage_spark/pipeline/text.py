"""Text-analysis operators over a documents table.

Operators are built-in-function compositions (JVM-side, whole-stage
codegen); the TF bucket count is one Arrow UDF over `pipeline.kernels`.
Deterministic by construction so a SQL oracle can reproduce them
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The tokenization whitespace class, spelled out explicitly. This is
# exactly Java-regex ``\s`` ([ \t\n\x0B\f\r]) — but RE2-based engines
# (DuckDB, Go) EXCLUDE \x0B from ``\s``, so writing ``\s`` on both sides
# silently diverges on vertical tabs. Every tokenizer here and every SQL
# oracle uses this same explicit class (oracles as '[ \t\n\x0b\f\r]+').
WS_RE = r"[ \t\n\x0B\f\r]+"


def _parallel(df: DataFrame) -> DataFrame:
    """Spread a small-file input across the cluster before CPU-heavy narrow
    stages. A single parquet file arrives as one partition — shingling 100k
    docs on one core wastes the other 31 (or the other 31,999). Uses file
    metadata (no ``df.rdd`` conversion, which would freeze the plan and
    bypass AQE); repartitions only when the scan has fewer files than
    cores — a multi-file scan already splits by maxPartitionBytes.

    ``inputFiles() == []`` means a non-file plan (in-memory, derived) —
    UNKNOWN parallelism, not "one file": such plans inherit their parents'
    partitioning, so forcing a repartition there would add a full shuffle
    to inputs that are usually already spread. Only a known small file
    count (0 < n < target) triggers the spread."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df

# Marker substrings per language for the n-gram/stopword heuristic.
# Counting occurrences of " <marker> " in lowercased text; ASCII-safe and
# expressible identically in ANSI SQL (the oracle mirrors this table).
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " que ", " los "],
}


def _n_tokens(col) -> F.Column:
    """Whitespace token count; empty/blank text = 0 tokens.

    Documented boundary: this is the WHITESPACE tier — unsegmented
    CJK text counts as ~1 token per run, so token-count-based quality
    bounds and budgets under-count zh/ja/ko. The gates where that
    inverts a decision (the blocklist tier) apply :func:`cjk_isolate`
    first; accounting surfaces keep the whitespace definition because
    every oracle, budget, and historical driver hash is defined on it
    — wrap the input in ``cjk_isolate`` yourself when counting a CJK
    corpus."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(F.size(F.split(trimmed, WS_RE)))


# CJK codepoint class for the character-level tokenization fallback —
# unsegmented Han / kana / Hangul text has no whitespace boundaries, so
# whitespace tokenizers see one giant token and token-bound gates go
# inert (VERDICT r8 gap 3). Character-level is the standard fallback
# (each Han character ~ a word piece; C4/mC4 and most blocklist tiers
# do exactly this for zh/ja). The ranges are spelled as LITERAL
# codepoints, not \u escapes, so the same class string works in Java
# regex (Spark) and RE2 (DuckDB oracles): Han (U+4E00-9FFF), CJK ext A
# (U+3400-4DBF), Hiragana (U+3040-309F), Katakana (U+30A0-30FF),
# Hangul syllables (U+AC00-D7AF).
CJK_RANGES: tuple[tuple[int, int], ...] = (
    (0x4E00, 0x9FFF),
    (0x3400, 0x4DBF),
    (0x3040, 0x309F),
    (0x30A0, 0x30FF),
    (0xAC00, 0xD7AF),
)
CJK_CLASS = "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in CJK_RANGES)
CJK_ISOLATE_RE = f"([{CJK_CLASS}])"


def cjk_isolate(col) -> F.Column:
    """Space-isolate every CJK codepoint so a downstream whitespace
    split yields one token per character — the segmentation fallback
    for scripts without word boundaries. Latin-script text passes
    through unchanged (the class never matches), so applying this
    unconditionally is safe for mixed corpora. DuckDB replay:
    ``regexp_replace(t, '(<class>)', ' \\1 ', 'g')``."""
    return F.regexp_replace(col, CJK_ISOLATE_RE, " $1 ")


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token/char counts. Narrow map — scales linearly."""
    return docs.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        _n_tokens(F.col(text_col)).alias("n_tokens"),
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]"


def bpe_ish_token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-style pre-tokenization count: letter runs, single digits, and
    single punctuation marks each count as one token (the GPT-2-style
    pre-tokenizer shape, ASCII-simplified so Java regex and RE2 agree).
    Whitespace never tokenizes."""
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


def quality_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    non-alphanumeric ratio. All exact-arithmetic so oracles match:
    ratios are rounded DECIMAL(18,6)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = _n_tokens(text)
    # non [a-zA-Z0-9 whitespace] characters (ASCII heuristic — deterministic
    # in both Spark and the SQL oracle)
    n_punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9 \t\n\x0B\f\r]", ""))
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens > 0, F.round(n_chars.cast("double") / n_tokens, 6).cast("decimal(18,6)"))
        .otherwise(F.lit(None).cast("decimal(18,6)"))
        .alias("chars_per_token"),
        F.when(n_chars > 0, F.round(n_punct.cast("double") / n_chars, 6).cast("decimal(18,6)"))
        .otherwise(F.lit(None).cast("decimal(18,6)"))
        .alias("punct_ratio"),
    )


def _marker_count(text_col, marker: str) -> F.Column:
    """Occurrences of `marker` in the text = (len - len(replace))/len(marker)."""
    lowered = F.lower(text_col)
    return (F.length(lowered) - F.length(F.replace(lowered, F.lit(marker), F.lit("")))) / len(marker)


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: count per-language marker words; highest
    count wins (ties broken by fixed language order, 'und' = no markers).
    CJK shortcut: any char > U+2E7F → 'zh'."""
    text = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = {
        lang: sum([_marker_count(text, m) for m in markers[1:]], _marker_count(text, markers[0]))
        for lang, markers in LANG_MARKERS.items()
    }
    has_cjk = F.col(text_col).rlike(r"[⺀-鿿]")
    best = F.lit("und")
    best_score = F.lit(0.0)
    for lang in ("en", "de", "fr", "es"):  # fixed priority order for ties
        s = scores[lang]
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return docs.select(
        F.col(id_col),
        F.when(has_cjk, F.lit("zh")).otherwise(best).alias("lang_guess"),
    )


def _token_histogram(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok, n) — per-document token frequencies. One explode + one
    partial-aggregated shuffle keyed by (doc, token); document length is
    bounded, so the key space is fine-grained and skew-free at any corpus
    size."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("tok")
    ).filter(F.length("tok") > 0)
    return toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("n"))


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (idf = ln(N / df), raw term counts as tf). Returns
    (doc_id, term, tfidf DECIMAL(18,6) rounded, rank).

    Shape at scale: token histogram (one shuffle on (doc, token)), a small
    document-frequency aggregate shuffled on token, a broadcast-friendly
    join back, and a per-document window — everything partitions on
    high-cardinality keys. Ties rank by term text, so the output is fully
    deterministic and SQL-reproducible."""
    from pyspark.sql import Window

    hist = _token_histogram(docs, text_col, id_col)
    n_docs = docs.select(F.col(id_col)).distinct().count()
    df_ = hist.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = hist.join(df_, "tok").select(
        F.col(id_col),
        F.col("tok").alias("term"),
        (F.col("n") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf_raw"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf_raw").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.round("tfidf_raw", 6).cast("decimal(18,6)").alias("tfidf"),
            "rank",
        )
    )


def flagged_terms(
    docs: DataFrame,
    terms: "Sequence[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ratio: float = 0.0,
    cjk_split: bool = True,
) -> DataFrame:
    """Word-blocklist gate — the C4 "bad words" / Dolma tagger tier
    every production corpus runs before training: per document, how
    many tokens (lowercased, edge punctuation stripped — the
    extraction tier's token normalization, one home) fall in the
    caller's ``terms`` list, the flagged fraction, and a ``passes``
    flag at ``max_ratio`` (the C4 default 0.0 drops a document on ANY
    flagged token; looser pipelines gate at a small fraction so one
    quoted word can't kill a long document).

    Tokenization is whitespace PLUS the CJK character fallback
    (``cjk_split``, default on): unsegmented Han/kana/Hangul text has
    no whitespace boundaries, so without the fallback the gate was
    inert on exactly the documents lang_id routes as zh/ja/ko
    (VERDICT r8 gap 3) — each CJK codepoint becomes its own token, so
    single-character blocklist entries gate and multi-character
    phrases need the list entries split the same way. Latin text
    tokenizes identically either way.

    The term LIST is the caller's policy input — this engine ships the
    mechanism, not a speech policy. Matching is exact-token (no
    substring hits: 'class' never flags 'ass'), case-insensitive.

    Returns all input columns plus (n_tokens, n_flagged,
    flagged_ratio DECIMAL(18,6), passes). Zero-shuffle projection —
    scan-speed at 100 TB, same shape as quality_stats; the term array
    is a broadcast literal (policy lists are hundreds of words, not
    millions — for a million-entry list join a lookup table instead)."""
    from hgraphstorage_spark.pipeline.extraction import TOKEN_NORM_RE

    term_arr = F.array(*[F.lit(t.lower()) for t in terms])
    text = F.col(text_col)
    if cjk_split:
        text = cjk_isolate(text)
    toks = F.filter(F.split(F.lower(text), WS_RE), lambda x: x != F.lit(""))
    flagged = F.filter(
        toks,
        lambda x: F.array_contains(term_arr, F.regexp_replace(x, TOKEN_NORM_RE, "")),
    )
    n_tokens = F.size(toks)
    n_flagged = F.size(flagged)
    # the GATE runs on the unrounded ratio: with the C4 default
    # max_ratio=0.0, one flagged token in a 2M-token document has
    # ratio ~5e-7, which would round to 0.000000 and sneak past a
    # gate on the reported DECIMAL — the rounded column is for the
    # report only, never the decision (round-8 advice fix, pinned)
    raw_ratio = n_flagged.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    ratio = F.round(raw_ratio, 6).cast("decimal(18,6)")
    return docs.select(
        "*",
        n_tokens.cast("long").alias("n_tokens"),
        n_flagged.cast("long").alias("n_flagged"),
        ratio.alias("flagged_ratio"),
        (raw_ratio <= F.lit(float(max_ratio))).alias("passes"),
    )


def compile_phrase_pattern(phrases: "Sequence[str]", cjk_split: bool = True) -> str:
    """Compile a phrase blocklist into the ONE boundary-exact RE2-safe
    alternation :func:`flagged_phrases` evaluates — exported so a SQL
    oracle can embed the identical pattern. Each phrase is normalized
    exactly like the text column (lowercase, CJK codepoints isolated —
    ``str.isalpha()`` is python's ``\\p{L}`` — non-alphanumerics to
    boundaries), tokens joined with the DOUBLED space that matches the
    doubled-boundary text encoding."""
    import re as _re

    def norm_phrase(p: str) -> str:
        chars: list[str] = []
        for ch in p.lower():
            if cjk_split and any(lo <= ord(ch) <= hi for lo, hi in CJK_RANGES):
                chars.append(f" {ch} ")
            elif ch.isalpha() or "0" <= ch <= "9":
                chars.append(ch)
            else:
                chars.append(" ")
        return "  ".join(_re.escape(t) for t in "".join(chars).split())

    normed = sorted({n for n in (norm_phrase(p) for p in phrases) if n})
    if not normed:
        raise ValueError("flagged_phrases needs at least one non-empty phrase")
    return "(?: " + ("(?:" + "|".join(normed) + ")") + " )"


def flagged_phrases(
    docs: DataFrame,
    phrases: "Sequence[str]",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
    cjk_split: bool = True,
) -> DataFrame:
    """Multi-word blocklist gate — the companion to
    :func:`flagged_terms` for PHRASE entries (real C4/Dolma policy
    lists are full of multi-word entries a single-token gate cannot
    see): per document, how many non-overlapping occurrences of any
    listed phrase appear at word boundaries, and a ``passes`` flag at
    ``max_hits`` (default 0 — any hit drops).

    Matching semantics: text and phrases are normalized identically —
    lowercased, CJK codepoints isolated (``cjk_split``), every
    non-alphanumeric run collapsed to a single space — so 'Bad-Word!'
    matches the phrase 'bad word'. Boundary exactness without
    lookarounds (RE2 has none) uses the repo's double-space trick (the
    BPE rewrite machinery's lesson): boundaries are doubled so
    adjacent phrase occurrences cannot consume each other's delimiter
    — 'bad word bad word' counts 2. Different listed phrases sharing
    tokens count leftmost-first non-overlapping (a token joins at most
    one hit — documented, and irrelevant to the binary gate).

    The phrase LIST is the caller's policy input; it compiles to ONE
    combined alternation evaluated in a single pass (a policy list is
    hundreds of entries — for millions, join a phrase table instead).
    Zero-shuffle projection; the same pattern replays in RE2 for the
    oracle. Returns all input columns plus (n_phrase_hits, passes)."""
    pat = compile_phrase_pattern(phrases, cjk_split=cjk_split)
    text = F.lower(F.col(text_col))
    if cjk_split:
        text = cjk_isolate(text)
    # non-alnum runs -> single space, then double every boundary and pad
    cleaned = F.regexp_replace(text, r"[^\p{L}0-9]+", " ")
    padded = F.concat(
        F.lit(" "), F.regexp_replace(F.trim(cleaned), " ", "  "), F.lit(" ")
    )
    hits = F.regexp_count(padded, F.lit(pat))
    return docs.select(
        "*",
        hits.cast("long").alias("n_phrase_hits"),
        (hits <= F.lit(int(max_hits))).alias("passes"),
    )


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_top_term_ratio: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style composite quality rules (Rae et al. 2021 §A1.1, the
    public heuristics): token-count bounds, mean token length bounds, and
    a repetition bound — the most frequent token may account for at most
    ``max_top_term_ratio`` of the document. Returns per-document metrics
    plus a ``passes`` flag (keep the frame unfiltered so callers can audit
    rejections; ``.filter('passes')`` is the pipeline step).

    Metrics derive from one token histogram, so the whole operator is two
    aggregations — no UDFs, no windows."""
    hist = _token_histogram(docs, text_col, id_col)
    metrics = hist.groupBy(id_col).agg(
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("top_n"),
        F.round(
            (F.sum(F.col("n") * F.length("tok")) / F.sum("n")).cast("double"), 6
        ).cast("decimal(18,6)").alias("mean_tok_len"),
    )
    top_ratio = F.round((F.col("top_n") / F.col("n_tokens")).cast("double"), 6).cast("decimal(18,6)")
    with_ratio = docs.select(F.col(id_col)).join(metrics, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_tok_len",
        top_ratio.alias("top_term_ratio"),
    )
    passes = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("mean_tok_len") >= min_mean_tok_len)
        & (F.col("mean_tok_len") <= max_mean_tok_len)
        & (F.col("top_term_ratio") <= max_top_term_ratio)
    )
    return with_ratio.withColumn("passes", F.coalesce(passes, F.lit(False)))


def quality_filter_narrow(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_top_term_ratio: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``quality_filter`` computed in ONE narrow projection — identical
    output (same metrics, same rounding, pinned by tests), zero shuffle:
    tokens array → total-length fold (mean length) → sorted-array max run
    (the most frequent token's count, via the same one-pass run-length
    aggregate ``repetition_stats`` uses). Two consequences at scale:

    - the filter runs at parquet-scan speed on 100 TB (the histogram
      variant pays one (doc, token)-keyed shuffle);
    - it is STREAMING-SAFE: per-row projections compose with readStream
      (arbitrary groupBy mid-stream is not allowed), so the same quality
      gate runs in a Structured Streaming ingest unchanged.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    df = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        # greatest(size, 0): size(NULL array) is -1 under non-ANSI Spark,
        # so a NULL-text doc would report n_tokens = -1 where the
        # histogram variant's left-join/coalesce yields 0 (r12 ADVICE;
        # `passes` was already false either way — this aligns the
        # reported count; the test corpora carry no NULL text, verified,
        # so no declared output changes)
        .select(id_col, "_toks", F.greatest(F.size("_toks"), F.lit(0)).alias("_n"))
        .withColumn("_total_len", F.aggregate("_toks", F.lit(0), lambda acc, x: acc + F.length(x)))
        .withColumn("_stats", _ngram_run_stats(F.array_sort("_toks")))
    )
    mean = F.when(
        F.col("_n") > 0,
        F.round((F.col("_total_len") / F.col("_n")).cast("double"), 6).cast("decimal(18,6)"),
    )
    top_ratio = F.when(
        F.col("_n") > 0,
        F.round((F.col("_stats.maxrun") / F.col("_n")).cast("double"), 6).cast("decimal(18,6)"),
    )
    out = df.select(
        id_col,
        F.col("_n").cast("long").alias("n_tokens"),
        mean.alias("mean_tok_len"),
        top_ratio.alias("top_term_ratio"),
    )
    passes = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("mean_tok_len") >= min_mean_tok_len)
        & (F.col("mean_tok_len") <= max_mean_tok_len)
        & (F.col("top_term_ratio") <= max_top_term_ratio)
    )
    return out.withColumn("passes", F.coalesce(passes, F.lit(False)))


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of lowercased, whitespace-normalized text.
    (The rolling-hash variant for shingling lives in dedup.py.)"""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_RE, " ")
    return docs.select(F.col(id_col), F.md5(normalized).alias("fp"))


def vocabulary(
    docs: DataFrame, top_k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary for tokenizer training: top-k tokens by total
    count with document frequency. Returns (token, n_total, doc_freq, rank),
    rank ties broken by token text (deterministic).

    Shape at scale: one explode, then a single shuffle keyed by token with
    map-side partial aggregation (count + count_distinct via one
    two-level agg: first (token, doc) pairs — the explode output is
    pre-grouped per doc, so partials collapse hard — then token). The
    final top-k is a row_number+filter window that Spark rewrites into
    a TakeOrderedAndProject (limit pushed below the window — the
    literal node the plan audit asserts) over the token-count table,
    which is vocabulary-sized, not corpus-sized."""
    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("token"),
    ).filter(F.length("token") > 0)
    per_doc = toks.groupBy("token", "_doc").agg(F.count(F.lit(1)).alias("n"))
    hist = per_doc.groupBy("token").agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("doc_freq")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_total").desc(), F.col("token"))
    # filter on the RAW row_number, cast afterward: a cast inside the
    # filtered column defeats the limit-pushdown pattern match, turning
    # the TakeOrderedAndProject partial top-k back into a full global
    # single-partition window
    return (
        hist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("token", "n_total", "doc_freq", F.col("_rn").cast("int").alias("rank"))
    )


def zipf_fit(
    docs: DataFrame, top_k: int = 1000, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Zipf-law fit over the token frequency distribution: OLS of
    ln(count) against ln(rank) for the top_k tokens — the classic corpus
    health check (natural language sits near slope −1; templated or
    synthetic corpora drift off, and a drop in |slope| after a pipeline
    change is a red flag worth a look).

    Shape at scale: the token histogram is one map-side-combined shuffle
    (the `vocabulary` shape, TakeOrderedAndProject top-k), and the fit
    runs over the k-row frame. Determinism: each OLS term (x, y, xy, x²,
    y²) rounds to 12 dp and sums as exact DECIMAL — order-independent
    under any partitioning — then the closed-form slope/intercept/R²
    arithmetic is identical IEEE doubles, so a SQL oracle replays the
    fit bit-for-bit. Returns one row (n_tokens, slope, intercept, r2)
    with DECIMAL(18,6) stats.
    """
    hist = vocabulary(docs, top_k=top_k, text_col=text_col, id_col=id_col)
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n_total").cast("double"))

    def term(c) -> F.Column:
        return F.round(c, 12).cast("decimal(28,12)")

    sums = hist.select(
        term(x).alias("tx"),
        term(y).alias("ty"),
        term(x * y).alias("txy"),
        term(x * x).alias("tx2"),
        term(y * y).alias("ty2"),
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("tx").alias("sx"),
        F.sum("ty").alias("sy"),
        F.sum("txy").alias("sxy"),
        F.sum("tx2").alias("sx2"),
        F.sum("ty2").alias("sy2"),
    )
    kd = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sx2, sy2 = (
        F.col("sxy").cast("double"),
        F.col("sx2").cast("double"),
        F.col("sy2").cast("double"),
    )
    cov = kd * sxy - sx * sy
    varx = kd * sx2 - sx * sx
    vary = kd * sy2 - sy * sy
    slope = cov / varx
    intercept = (sy - slope * sx) / kd
    r2 = cov * cov / (varx * vary)

    def dec6(c) -> F.Column:
        return F.round(c, 6).cast("decimal(18,6)")

    # k >= 2 makes varx > 0 (ranks are distinct so x spreads), but vary
    # can be exactly 0 when every top-k count is equal (tiny or fully
    # deduplicated corpora) — r2 is undefined there, not a crash
    return sums.select(
        F.col("k").alias("n_tokens"),
        F.when(F.col("k") >= 2, dec6(slope)).alias("slope"),
        F.when(F.col("k") >= 2, dec6(intercept)).alias("intercept"),
        F.when((F.col("k") >= 2) & (vary > 0), dec6(r2)).alias("r2"),
    )


def chunk_dedup(
    docs: DataFrame, chunk_words: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Line-level exact dedup (C4/RefinedWeb-style), adapted to the
    newline-free corpus: split each document into consecutive
    ``chunk_words``-word chunks, keep only the globally-first occurrence of
    every distinct chunk (ordered by (doc_id, position)), and reassemble
    each document from its surviving chunks. Returns
    (doc_id, n_chunks, n_kept, text_dedup).

    Shape at scale: chunking is a narrow projection (split + slice — no
    explode until the chunk table); the only wide ops are one window over
    chunk text (high-cardinality key, skew-free: identical chunks are
    exactly the duplicates being removed) and the per-document regroup.
    First-occurrence semantics need a global total order — (doc_id, pos)
    is that order, with no driver-side coordination."""
    cw = chunk_words
    words = F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    n_chunks = ((F.size(words) + F.lit(cw - 1)) / F.lit(cw)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * cw + 1, cw), " "),
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("pos", "chunk")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    marked = exploded.withColumn("rn", F.row_number().over(w))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("rn") == 1, F.struct("pos", "chunk"))
                        )
                    ),
                    lambda x: x["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def script_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unicode-script histogram per document: the character-class signal
    that ROUTES documents before language ID (at crawl scale, script
    detection splits the corpus into per-script pipelines; n-gram lang-id
    like ``language_id`` then only has to separate languages within a
    script). Fractions of Latin / Cyrillic / Han (CJK) / Arabic and of
    digits and whitespace, over total characters.

    Pure narrow projection, zero shuffle: each class count is
    length(text) - length(regexp_replace(text, class, '')) — Java's
    \\p{Is<Script>} classes JVM-side; the oracle replays with RE2's
    \\p{<Script>} spelling, which matches the same codepoints.

    Returns (doc_id, n_chars, latin_frac, cyrillic_frac, han_frac,
    arabic_frac, digit_frac, space_frac) with fractions rounded to 6
    decimals (DECIMAL(18,6)); empty documents report zero fractions."""

    def frac(pattern: str):
        cnt = F.length(text) - F.length(F.regexp_replace(text, pattern, ""))
        return (
            F.round(cnt.cast("double") / F.greatest(F.length(text), F.lit(1)), 6)
            .cast("decimal(18,6)")
        )

    text = F.col(text_col)
    return _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.length(text).cast("long").alias("n_chars"),
        frac(r"[\p{IsLatin}]").alias("latin_frac"),
        frac(r"[\p{IsCyrillic}]").alias("cyrillic_frac"),
        frac(r"[\p{IsHan}]").alias("han_frac"),
        frac(r"[\p{IsArabic}]").alias("arabic_frac"),
        frac(r"[0-9]").alias("digit_frac"),
        frac(r"[ \t\n\x0B\f\r]").alias("space_frac"),
    )


def boilerplate_dedup(
    docs: DataFrame,
    unit: str = "line",
    chunk_words: int = 10,
    min_count: int = 3,
    min_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate removal (the RefinedWeb / MassiveText
    line-dedup rule): drop EVERY occurrence of any unit whose exact form
    appears >= ``min_count`` times across the corpus, then reassemble.
    Distinct from ``chunk_dedup``'s first-occurrence-keeps semantics —
    navigation chrome, cookie banners and license headers should vanish
    from ALL documents, including the first one crawled.

    ``unit="line"`` splits on newlines (the paper semantics);
    ``unit="chunk"`` falls back to consecutive ``chunk_words``-word
    chunks for newline-free corpora; ``unit="sentence"`` uses the
    RE2-safe sentence segmentation (`_sentence_array` — the RefinedWeb
    sentence-dedup granularity); ``unit="paragraph"`` splits on
    blank-line runs (newline, optional spaces/tabs, newline — the
    granularity between line and document). Units shorter than
    ``min_chars`` after trimming are exempt (blank separators survive).

    Shape at scale: unit counting shuffles 8-byte xxhash64 keys only
    (map-side partial agg); the boilerplate set joins back by hash with
    the strategy left to AQE (the set is tiny on clean corpora,
    corpus-scale on crawl dumps — exactly the minhash broadcast lesson);
    one per-document regroup reassembles. Output equals the
    string-keyed contract up to 64-bit collisions, so the oracle
    replays it keyed on the unit strings themselves.

    Returns (doc_id, n_units, n_kept, text_dedup). NULL text passes
    through as one empty (ineligible) unit — every input doc_id appears
    in the output, with text_dedup = '' for NULL/empty inputs.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    if unit == "line":
        units = F.split(text, "\n")
        joiner = "\n"
    elif unit == "chunk":
        cw = chunk_words
        words = F.split(F.lower(F.trim(text)), WS_RE)
        n_units = ((F.size(words) + F.lit(cw - 1)) / F.lit(cw)).cast("int")
        units = F.transform(
            F.sequence(F.lit(0), n_units - 1),
            lambda i: F.array_join(F.slice(words, i * cw + 1, cw), " "),
        )
        joiner = " "
    elif unit == "sentence":
        # a doc whose text yields no sentences (empty/NULL/punctuation-
        # only) must still appear in the output — posexplode of an empty
        # array emits nothing, so give it one empty ineligible unit
        arr = _sentence_array(text)
        units = F.when(F.size(arr) > 0, arr).otherwise(F.array(F.lit("")))
        joiner = " "
    elif unit == "paragraph":
        # consume the whole blank RUN ([ \t\n]* may swallow interior
        # newlines), so "A\n\n\nB" and "A\n\nB" both yield units A, B —
        # gap width can't change a paragraph's identity
        units = F.split(text, r"\n[ \t\n]*\n")
        joiner = "\n\n"
    else:
        raise ValueError(
            f"unit must be 'line', 'chunk', 'sentence' or 'paragraph', got {unit!r}"
        )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(units).alias("pos", "u")
    ).withColumn("eligible", F.length(F.trim(F.col("u"))) >= min_chars)
    exploded = exploded.withColumn("h", F.xxhash64("u"))
    boiler = (
        exploded.filter("eligible")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("h", F.lit(True).alias("_boiler"))
    )
    marked = exploded.join(boiler, "h", "left").withColumn(
        "keep", ~(F.col("eligible") & F.coalesce("_boiler", F.lit(False)))
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "u")))
                ),
                lambda x: x["u"],
            ),
            joiner,
        ).alias("text_dedup"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-unigram language-model score per document (the CCNet-style
    quality signal, with the external LM replaced by the corpus's own
    unigram distribution): mean over tokens of ln P(token), P estimated
    from corpus counts. Atypical/garbage documents score low. Returns
    (doc_id, mean_logprob DECIMAL(18,6), rounded for engine-exact
    reproducibility).

    Shape at scale: one token explode feeding two aggregates — the vocab
    count (token-keyed shuffle, partial-aggregated) and the per-doc mean
    (doc-keyed). The vocab and its scalar total are broadcast back onto
    the token stream, so the corpus-sized side is never shuffled twice."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = toks.join(F.broadcast(vocab), "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.round(F.avg(F.log(F.col("c") / F.col("n"))), 6)
        .cast("decimal(18,6)")
        .alias("mean_logprob")
    )


def normalize_text(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical text normalization — the first step of every dedup /
    fingerprint pipeline (C4/CCNet normalize before hashing): lowercase,
    strip non-alphanumeric characters to spaces, collapse whitespace
    runs, trim. Returns (doc_id, text_norm, n_chars_norm, norm_md5) —
    the md5 doubles as an exact-dedup key over the normalized form.

    Narrow map only (regex + hash per row, whole-stage codegen, no
    shuffle); ASCII character classes so Java regex and RE2/DuckDB agree
    byte-for-byte."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 \t\n\x0B\f\r]", " "),
            WS_RE,
            " ",
        )
    )
    return docs.select(
        F.col(id_col),
        norm.alias("text_norm"),
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )


def bigram_logprob(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-bigram language-model score per document: mean over bigram
    positions of ln P(w_i | w_{i-1}), probabilities MLE-estimated from
    the corpus itself (P = c(w1,w2) / c1(w1) with c1 counted over
    context positions, so every observed bigram has P <= 1 and the
    score is finite). The order-sensitive complement to
    ``unigram_logprob``: repetitive or shuffled text scores low even
    when its unigram mix looks normal. Docs with < 2 tokens produce no
    row. Returns (doc_id, n_bigrams, mean_logprob DECIMAL(18,6)).

    Shape at scale: tokenization is narrow (word arrays built per row,
    pairs exploded in place); the bigram and context tables are
    vocab-sized aggregates broadcast back onto the pair stream; the
    per-doc mean is a doc-keyed aggregate with map-side combine over
    co-located pairs — same two-broadcast shape as ``unigram_logprob``.
    """
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    docs_w = docs.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    idx = F.when(F.size("w") >= 2, F.sequence(F.lit(2), F.size("w"))).otherwise(
        F.array().cast("array<int>")
    )
    pairs = docs_w.select("doc_id", F.col("w"), F.explode(idx).alias("i")).select(
        "doc_id",
        F.element_at(F.col("w"), F.col("i") - 1).alias("w1"),
        F.element_at(F.col("w"), F.col("i")).alias("w2"),
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = pairs.join(F.broadcast(big), ["w1", "w2"]).join(F.broadcast(ctx), "w1")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(F.log(F.col("c2") / F.col("c1"))), 6)
        .cast("decimal(18,6)")
        .alias("mean_logprob"),
    )


def sliding_chunks(
    docs: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    for RAG indexing / LM eval (``pack_sequences`` is the disjoint
    concat-and-chunk counterpart; this keeps ``window - stride`` tokens
    of overlap so no span is split across a boundary without context).

    Chunks start at token 1, 1+stride, 1+2*stride, ... while the start
    is in range; the final chunks may be shorter than ``window``. Empty
    docs produce no rows. Returns (doc_id, chunk_idx, n_tokens,
    chunk_md5) — md5 of the space-joined window, which downstream
    chunk-level dedup keys on.

    Narrow map only: the word array is built once per row and the chunk
    index explodes in place; no shuffle at any size.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    docs_w = docs.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    n = F.size("w")
    idx = F.when(n >= 1, F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))).otherwise(
        F.array().cast("array<int>")
    )
    chunk = F.slice(F.col("w"), F.col("chunk_idx") * stride + 1, window)
    return (
        docs_w.select("doc_id", F.col("w"), F.explode(idx).alias("chunk_idx"))
        .select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), chunk.alias("c"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").alias("n_tokens"),
            F.md5(F.array_join(F.col("c"), " ")).alias("chunk_md5"),
        )
    )


# ASCII-only patterns, valid in both Java regex and RE2, so scans are
# engine-portable. Real deployments extend this dict.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\. ]{7,}[0-9]",
    "number_run": r"[0-9]{4,}",
}


def pattern_scan(
    df: DataFrame, col: str, patterns: dict[str, str] | None = None
) -> DataFrame:
    """Append one ``n_<name>`` match-count column per pattern — the scan
    half of a PII / contamination sweep (count first, redact what the
    counts justify). Narrow map, whole-stage codegen, no Python."""
    patterns = patterns or PII_PATTERNS
    out = df
    for name, pat in patterns.items():
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0)))
        )
    return out


def redact(
    df: DataFrame,
    col: str,
    patterns: dict[str, str] | None = None,
    placeholder: str = "[REDACTED]",
    out_col: str | None = None,
) -> DataFrame:
    """Replace every pattern match with ``placeholder`` (applied in dict
    order, so overlapping patterns resolve deterministically). Writes
    ``out_col`` (default: overwrite ``col``). Narrow map."""
    patterns = patterns or PII_PATTERNS
    expr = F.col(col)
    for pat in patterns.values():
        expr = F.regexp_replace(expr, pat, placeholder)
    return df.withColumn(out_col or col, expr)


def _ngram_run_stats(sorted_col):
    """One-pass run-length scan over a SORTED n-gram array: returns a
    struct(maxrun, dup_occ) where maxrun is the count of the most frequent
    n-gram and dup_occ the number of occurrences belonging to n-grams seen
    more than once. ``F.aggregate`` keeps the whole scan inside one
    projection — per-document work, zero shuffle, linear in tokens."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("dup"),
        F.lit(0).alias("maxrun"),
    )

    def merge(acc, x):
        same = x.eqNullSafe(acc["prev"])
        closing = ~same & (acc["run"] > 1)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(closing, acc["dup"] + acc["run"]).otherwise(acc["dup"]).alias("dup"),
            F.when(~same, F.greatest(acc["maxrun"], acc["run"])).otherwise(acc["maxrun"]).alias("maxrun"),
        )

    def finish(acc):
        return F.struct(
            F.greatest(acc["maxrun"], acc["run"]).alias("maxrun"),
            F.when(acc["run"] > 1, acc["dup"] + acc["run"]).otherwise(acc["dup"]).alias("dup"),
        )

    col = F.col(sorted_col) if isinstance(sorted_col, str) else sorted_col
    return F.aggregate(col, init, merge, finish)


def _top_run_covered(sorted_gi, n: int):
    """Covered-token union length of the most frequent n-gram, in ONE fold
    over the (gram, start) struct array sorted by (gram, start): equal
    grams form a contiguous run with ascending starts, so the union of
    their [s, s+n-1] spans grows by ``min(gap, n)`` per extension — no
    per-element argmax, no membership flags, no array accumulation.

    (The previous formulation computed the argmax gram first and then
    flagged positions with ``g == top``; CollapseProject inlines the
    single-use argmax into the per-element lambda, re-running the
    O(T log T) argmax for every gram — measured 3x the whole operator's
    runtime. A fold keeps the work linear and the expression tree flat.)

    Ties resolve to the lexicographically smallest gram (strict ``>``
    keeps the earliest max run in sorted order)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("prevpos"),
        F.lit(0).alias("runcov"),
        F.lit(0).alias("best"),
        F.lit(0).alias("bestcov"),
    )

    def merge(acc, x):
        same = x["g"].eqNullSafe(acc["prev"])
        run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        runcov2 = F.when(
            same, acc["runcov"] + F.least(x["i"] - acc["prevpos"], F.lit(n))
        ).otherwise(F.lit(n))
        better = run2 > acc["best"]
        return F.struct(
            x["g"].alias("prev"),
            run2.alias("run"),
            x["i"].alias("prevpos"),
            runcov2.alias("runcov"),
            F.when(better, run2).otherwise(acc["best"]).alias("best"),
            F.when(better, runcov2).otherwise(acc["bestcov"]).alias("bestcov"),
        )

    return F.aggregate(sorted_gi, init, merge, lambda acc: acc["bestcov"])


def _covered_tokens(flags_col, n: int):
    """Union length of the token spans ``[i, i+n-1]`` whose gram-start
    flag is true. Flags arrive in start order, so the union is a running
    (end, covered) interval fold — one ``F.aggregate`` pass, linear in
    tokens, no shuffle."""
    col = F.col(flags_col) if isinstance(flags_col, str) else flags_col
    # transform's two-arg lambda receives (element, index) — empty-safe,
    # unlike zipping with sequence() (sequence(0, -1) yields [0, -1])
    pairs = F.transform(col, lambda f, i: F.struct(f.alias("f"), i.alias("i")))
    init = F.struct(F.lit(-1).alias("end"), F.lit(0).alias("cov"))

    def merge(acc, s):
        new_end = s["i"] + F.lit(n - 1)
        inc = new_end - F.greatest(acc["end"], s["i"] - 1)
        return F.struct(
            F.when(s["f"], new_end).otherwise(acc["end"]).alias("end"),
            F.when(s["f"], acc["cov"] + inc).otherwise(acc["cov"]).alias("cov"),
        )

    return F.aggregate(pairs, init, merge, lambda acc: acc["cov"])


def repetition_stats_exact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher repetition signals with the paper's EXACT covered-token
    fractions (Rae et al. 2021, Table A1): overlapping spans are deduped
    via interval union, so a degenerate "a a a ..." document scores
    exactly 1.0 — paper-calibrated thresholds (e.g. dup3 ≤ 0.18) apply as
    published, unlike the cheaper occurrence-counting ``repetition_stats``.

    ``top{n}_covered_frac``: fraction of token positions covered by any
    occurrence of the single most frequent top_n-gram (ties resolve to
    the lexicographically smallest). ``dup{n}_covered_frac``: fraction
    covered by any dup_n-gram occurring more than once.

    Execution shape matches ``repetition_stats``: tokens → position-
    indexed gram array → sorted copy → run-length argmax / duplicate set
    → per-position membership flags → one-pass interval union. All
    narrow higher-order functions in whole-stage codegen — zero shuffle,
    zero Python, scan-speed on a 100 TB corpus. Each array gets its own
    projection level (no CSE inside HOF lambdas)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    df = _parallel(docs).select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens")
    )

    def grams(n):
        return F.when(
            F.col("n_tokens") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # top_n: one fold over the (gram, start) array sorted by gram — the
    # most frequent gram's occurrences form a contiguous ascending run
    df = df.withColumn("_tg", grams(top_n))
    df = df.withColumn(
        "_tgi",
        F.array_sort(
            F.transform(
                "_tg", lambda g, i: F.struct(g.alias("g"), (i + F.lit(1)).alias("i"))
            )
        ),
    )
    df = df.withColumn("_tcov", _top_run_covered(F.col("_tgi"), top_n))
    # dup_n: flag positions whose gram occurs >= 2 times (neighbors in the
    # sorted copy; F.get is NULL-safe at both ends, unlike element_at)
    df = df.withColumn("_dg", grams(dup_n))
    df = df.withColumn("_ds", F.array_sort("_dg"))
    df = df.withColumn(
        "_dset",
        F.array_distinct(
            F.filter(
                "_ds",
                lambda x, i: x.eqNullSafe(F.get(F.col("_ds"), i - 1))
                | x.eqNullSafe(F.get(F.col("_ds"), i + 1)),
            )
        ),
    )
    df = df.withColumn("_dflags", F.transform("_dg", lambda g: F.array_contains(F.col("_dset"), g)))
    df = df.withColumn("_dcov", _covered_tokens("_dflags", dup_n))

    def frac(c) -> F.Column:
        return F.when(
            F.col("n_tokens") > 0, c.cast("double") / F.col("n_tokens")
        ).otherwise(F.lit(0.0))

    return df.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        frac(F.col("_tcov")).alias(f"top{top_n}_covered_frac"),
        frac(F.col("_dcov")).alias(f"dup{dup_n}_covered_frac"),
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1): per document, the fraction of
    tokens covered by the single most frequent ``top_n``-gram
    (``top{n}_frac``) and by all duplicated ``dup_n``-grams
    (``dup{n}_frac``). High values flag boilerplate / degenerate text a
    training pipeline should drop.

    NOTE — occurrence-counting approximation: fractions are computed as
    ``n * occurrences / n_tokens`` over *overlapping* n-grams, so a
    degenerate document ("a a a ...") can score above 1.0. This cheaper
    signal is monotone in the paper's exact covered-token fraction;
    thresholds calibrated against the paper's definition belong on
    ``repetition_stats_exact`` (above), which dedupes overlapping spans.

    Tokenization uses the explicit ``WS_RE`` whitespace class, identical
    on both engines (see the constant's note on RE2 ``\\s`` vs ``\\x0B``).

    Entirely narrow: tokens -> n-gram array -> array_sort -> one-pass
    run-length aggregate, all inside whole-stage codegen with NO shuffle
    and no Python — the filter runs at scan speed on a 100 TB corpus.
    Each array is its own projection level (Catalyst does no subexpression
    elimination inside higher-order-function lambdas)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    df = _parallel(docs).select(F.col(id_col), toks.alias("_toks")).select(
        id_col, "_toks", F.size("_toks").alias("n_tokens")
    )
    for n, name in ((top_n, "_top"), (dup_n, "_dup")):
        grams = F.when(
            F.col("n_tokens") >= n,
            F.transform(
                # one-arg lambda: a second parameter would make pyspark
                # pass the array index into it (transform's (x, i) form)
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        df = df.withColumn(f"{name}_grams", grams)
        df = df.withColumn(f"{name}_sorted", F.array_sort(F.col(f"{name}_grams")))
        df = df.withColumn(f"{name}_stats", _ngram_run_stats(f"{name}_sorted"))
    def frac(numer) -> F.Column:
        return F.when(
            F.col("n_tokens") > 0, numer.cast("double") / F.col("n_tokens")
        ).otherwise(F.lit(0.0))

    return df.select(
        id_col,
        # long, matching the BIGINT the oracle (and any downstream sum) uses
        F.col("n_tokens").cast("long").alias("n_tokens"),
        frac(F.lit(top_n) * F.col("_top_stats.maxrun")).alias(f"top{top_n}_frac"),
        frac(F.lit(dup_n) * F.col("_dup_stats.dup")).alias(f"dup{dup_n}_frac"),
    )


def char_entropy(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic cheap randomness/boilerplate signal: degenerate repetition
    scores near 0, natural text ~4, uniform noise ~log2(alphabet).

    H = log2(n) - (sum over chars c of k_c*log2(k_c)) / n, computed as a
    run-length fold over the SORTED character array — all narrow
    higher-order functions in whole-stage codegen, zero shuffle, linear
    in characters (the ``repetition_stats`` execution shape). Characters
    are UTF-16 code units on the Spark side (split("")), matching code
    points for all BMP text; the synthetic corpus is ASCII. Returns
    (doc_id, n_chars, entropy DECIMAL(18,6)); empty text scores 0.
    """
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: F.length(c) > 0)
    df = _parallel(docs).select(F.col(id_col), F.array_sort(chars).alias("_cs"))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("n"),
    )

    def merge(acc, x):
        same = x.eqNullSafe(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1.0).otherwise(F.lit(1.0)).alias("run"),
            F.when(same, acc["s"]).otherwise(acc["s"] + _xlog2x(acc["run"])).alias("s"),
            (acc["n"] + 1.0).alias("n"),
        )

    def finish(acc):
        s = acc["s"] + _xlog2x(acc["run"])
        return F.when(
            acc["n"] > 0.0, F.log2(acc["n"]) - s / acc["n"]
        ).otherwise(F.lit(0.0))

    ent = F.aggregate(F.col("_cs"), init, merge, finish)
    return df.select(
        id_col,
        F.size("_cs").cast("long").alias("n_chars"),
        F.round(ent, 6).cast("decimal(18,6)").alias("entropy"),
    )


def _xlog2x(x):
    """x * log2(x) with 0*log2(0) = 0 (x is a run length >= 0)."""
    return F.when(x > 0.0, x * F.log2(x)).otherwise(F.lit(0.0))


def compression_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib-deflate compression ratio per document — the strongest cheap
    repetitiveness/boilerplate signal (used by production curation
    pipelines alongside the Gopher heuristics): highly repetitive text
    compresses far below natural prose.

    This is deliberately the Arrow-batched Pandas path, not a row UDF:
    zlib runs at C speed per batch and the operator is embarrassingly
    parallel (narrow map, zero shuffle; ``_parallel`` spreads a
    single-file scan). No SQL engine exposes deflate, so the parity
    check is a pytest oracle against CPython's zlib on the same rows
    rather than a DuckDB replay. Compressed LENGTH is stable for a fixed
    zlib version and level; the ratio rounds to 6 decimals.

    Returns (doc_id, n_bytes, n_compressed, ratio DECIMAL(18,6)) with
    ratio = n_compressed / n_bytes (NULL for empty text).
    """
    import pandas as pd

    def batches(it):
        import zlib

        for pdf in it:
            texts = pdf[text_col].astype(str)
            raw = texts.str.encode("utf-8").str.len()
            comp = texts.map(lambda t: len(zlib.compress(t.encode("utf-8"), level)))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "n_bytes": raw, "n_compressed": comp}
            )

    out = _parallel(docs.select(id_col, text_col)).mapInPandas(
        batches, schema="doc_id long, n_bytes long, n_compressed long"
    )
    return out.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("n_compressed") / F.col("n_bytes"), 6).cast("decimal(18,6)"),
        ).alias("ratio"),
    )


STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def stopword_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher's stopword signal (Rae et al. 2021, Table A1: documents
    must contain >= 2 of a small English stopword list): per document,
    how many distinct list words appear and the fraction of tokens that
    are list words. Natural text scores high; keyword spam, code, and
    non-English text score near zero.

    Zero shuffle: one narrow pass folds the token array against the
    8-word list with array ops — no explode, no Python. The marker
    counting composes with language_id's approach; the same expression
    renders in ANSI SQL for the oracle."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    df = _parallel(docs).select(F.col(id_col), toks.alias("_toks"))
    hits = F.filter(F.col("_toks"), lambda t: F.array_contains(sw, t))
    return df.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct(hits)).cast("long").alias("n_distinct_stopwords"),
        F.when(
            F.size("_toks") > 0,
            F.round(F.size(hits).cast("double") / F.size("_toks"), 6),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
        .alias("stopword_frac"),
    )


def _word_histogram(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(word, n) corpus word-frequency histogram — the vocabulary-sized
    frame BPE statistics run over (one corpus pass, map-side partials;
    every later BPE step touches only this histogram, never the corpus —
    the trick that makes tokenizer training tractable at 100 TB)."""
    return (
        _parallel(docs).select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EOW = "</w>"


def _initial_symbols(word: F.Column) -> F.Column:
    """Character symbol sequence of a word + the end-of-word marker —
    the BPE starting alphabet (Sennrich et al. 2016). Built with
    substr-per-position (engine-portable; split-on-empty-regex differs
    across engines)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: F.substring(word, i, F.lit(1))
    )
    return F.concat(chars, F.array(F.lit(_EOW)))


def _adjacent_pair_structs(syms: F.Column) -> F.Column:
    """array<struct(sym_a, sym_b)> of adjacent symbol pairs; explicitly
    empty for 1-symbol sequences (sequence(1, 0) would DESCEND)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("sym_a"),
                F.element_at(syms, i + 1).alias("sym_b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<sym_a:string,sym_b:string>>"))


def bpe_merge_counts(
    docs: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The statistic one BPE training iteration maximizes (Sennrich et
    al. 2016, "Neural Machine Translation of Rare Words with Subword
    Units"): corpus-frequency-weighted counts of ADJACENT symbol pairs
    over the initial character vocabulary (chars + an end-of-word
    marker). The top pair is the next merge a BPE tokenizer would learn.

    Returns the ``top_k`` candidate merges
    (sym_a, sym_b, n_pairs, rank), rank ties broken by (sym_a, sym_b).

    Scale shape: the corpus is touched ONCE (word histogram, map-side
    partial agg, word-keyed exchange bounded by vocabulary size); pair
    explosion and counting run over the histogram — O(vocab * avg word
    length), independent of corpus row count. The top-k is the
    row_number+filter form Spark rewrites into TakeOrderedAndProject
    (limit pushdown; plan-pinned), same as :func:`vocabulary`."""
    from pyspark.sql import Window

    hist = _word_histogram(docs, text_col, id_col)
    syms = hist.select("n", _initial_symbols(F.col("word")).alias("syms"))
    # the shared guarded pair builder (bpe_train uses the same one) —
    # its size>=2 guard also protects any future 1-symbol caller from
    # sequence(1, 0) descending
    pairs = syms.select(
        "n", F.explode(_adjacent_pair_structs(F.col("syms"))).alias("p")
    ).select(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"), "n")
    counts = pairs.groupBy("sym_a", "sym_b").agg(F.sum("n").alias("n_pairs"))
    w = Window.orderBy(F.col("n_pairs").desc(), F.col("sym_a"), F.col("sym_b"))
    # raw row_number in the filter (cast after): keeps the limit-pushdown
    # (TakeOrderedAndProject) rewrite eligible — see vocabulary()
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("sym_a", "sym_b", "n_pairs", F.col("_rn").cast("int").alias("rank"))
    )


def _apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right non-overlapping fusion of adjacent (a, b)
    into a+b — one pure array fold, no UDF. Runs over the vocabulary
    histogram only."""
    merged = F.lit(a + b)

    def step(acc, s):
        # try_element_at: NULL (never an ANSI error) on the empty
        # accumulator of the first fold step; NULL == a is false-ish
        hit = (
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (s == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Full BPE merge-rule training (Sennrich et al. 2016): repeat
    ``n_merges`` times — count adjacent symbol pairs over the word
    histogram, take the most frequent pair (ties broken by
    (sym_a, sym_b), so training is a deterministic pure function of the
    corpus), fuse it greedily left-to-right everywhere. Returns
    ``(merges, vocab)``: merges = [(step, sym_a, sym_b, n_pairs), ...]
    as a list of Rows in learn order (the merge table a BPE tokenizer
    ships), vocab = the final (word, n, syms) DataFrame.

    Scale notes: every iteration runs on the VOCABULARY histogram (one
    corpus pass total); the per-round driver action collects exactly one
    row (the argmax pair — same bounded-action shape as the iterative
    graph loops); lineage is cut with localCheckpoint per round, so
    n_merges does not stack plans."""
    from pyspark.sql import Window

    hist = _word_histogram(docs, text_col, id_col)
    vocab = hist.select(
        "word", "n", _initial_symbols(F.col("word")).alias("syms")
    ).localCheckpoint()
    merges = []
    for step_i in range(1, n_merges + 1):
        pairs = vocab.select(
            "n", F.explode(_adjacent_pair_structs(F.col("syms"))).alias("p")
        ).select(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"), "n")
        best = (
            pairs.groupBy("sym_a", "sym_b")
            .agg(F.sum("n").alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), F.col("sym_a"), F.col("sym_b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        merges.append(
            {
                "step": step_i,
                "sym_a": row["sym_a"],
                "sym_b": row["sym_b"],
                "n_pairs": row["n_pairs"],
            }
        )
        vocab = vocab.select(
            "word", "n", _apply_merge(F.col("syms"), row["sym_a"], row["sym_b"]).alias("syms")
        ).localCheckpoint()
    return merges, vocab


def bpe_apply(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with LEARNED BPE merge rules (the encode step pairing
    :func:`bpe_train`): per word, start from chars + the end-of-word
    marker and apply each merge rule in learn order, greedy
    left-to-right — the reference BPE segmenter semantics for a merge
    list. ``merges`` is the list returned by ``bpe_train`` (dicts with
    sym_a/sym_b) or (sym_a, sym_b) tuples.

    Returns (doc_id, n_words, n_tokens) — n_tokens counts post-merge
    symbols (end-of-word markers fused into their tokens), the number a
    trained-tokenizer budget planner needs.

    Scale shape: the merge folds run on the DISTINCT-WORD frame
    (vocabulary-sized — each rule is one pure array fold, no UDF); the
    corpus is touched for word extraction only, and per-word token
    counts broadcast-or-shuffle join back onto the per-doc word counts.
    Keep the rule list modest per call (each rule adds one fold to the
    expression tree); production tokenizers segment with a dedicated
    encoder anyway — this operator is the corpus-statistics companion.
    """
    rules = [
        (m["sym_a"], m["sym_b"]) if isinstance(m, dict) else (m[0], m[1])
        for m in merges
    ]
    words = _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("word"),
    ).filter(F.length("word") > 0)
    from hgraphstorage_spark.pipeline.state import track

    # `per_doc` feeds both the vocab distinct and the final join;
    # unpersisted, each consumer replays tokenize+explode+agg from the
    # raw corpus (2 extra document scans — r12 sweep, visible through
    # tokenizer_fertility). The (doc_id, word, n) histogram is the
    # sub-linear word-count frame, consumed at full width twice →
    # persist.
    per_doc = track(words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n")))
    vocab = per_doc.select("word").distinct()
    syms = _initial_symbols(F.col("word"))
    for a, b in rules:
        syms = _apply_merge(syms, a, b)
    sized = vocab.select("word", F.size(syms).alias("_wt"))
    return (
        per_doc.join(sized, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("_wt")).alias("n_tokens"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    score every document's mean negative log-likelihood under a
    language model trained on a TARGET corpus, then split each language
    into head / middle / tail thirds by per-language perplexity rank —
    the pretraining curation routing signal (CCNet trains head on
    Wikipedia KenLM; the add-one-smoothed target unigram model is the
    engine-native stand-in, same substitution as ``unigram_logprob``).
    head = most target-like (lowest perplexity).

    Per token: nll = -ln((c_tok + 1) / (T + V)) with c_tok the target
    count (0 for OOV), T total target tokens, V target vocab size.
    Docs with zero tokens produce no row (the ``bigram_logprob``
    convention). Buckets come from ANSI ``percent_rank`` over
    (avg_nll, id) within the language — deterministic ties, the
    ``per_source_percent_rank`` calibration contract — so the split is
    a pure function of the data and SQL-replayable.

    Returns (doc_id, lang, n_tokens, avg_nll DECIMAL(18,6), bucket).

    Scale shape: one token explode; the target vocabulary is a
    token-keyed partial aggregate (vocabulary-sized — Heaps-sublinear
    in corpus size) joined back onto the token stream with the strategy
    left to AQE; the per-doc mean is a doc-keyed map-side partial; the
    only sort is one keyed window per language (the standard
    calibration envelope — for a corpus dominated by a single language
    route the ranking through ``sampling._global_rank`` instead)."""
    words = lambda c: F.explode(F.split(F.lower(F.trim(c)), WS_RE))  # noqa: E731
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        words(F.col(text_col)).alias("tok"),
    ).filter(F.length("tok") > 0)
    from hgraphstorage_spark.pipeline.state import track

    # `tvocab` fans out to the totals aggregate and the token-stream
    # join; unpersisted, each branch re-tokenizes the TARGET corpus from
    # parquet (2 target scans in the executed plan — r12 sweep).
    # Vocabulary-sized, consumed at full width by both → persist.
    tvocab = track(
        target_docs.select(words(F.col(text_col)).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = tvocab.agg(F.sum("c").alias("t"), F.count(F.lit(1)).alias("v"))
    scored = toks.join(tvocab, "tok", "left").crossJoin(F.broadcast(totals))
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.avg(
                -F.log(
                    (F.coalesce("c", F.lit(0)) + 1).cast("double")
                    / (F.col("t") + F.col("v"))
                )
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("avg_nll"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    pr = F.percent_rank().over(w)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_nll",
        F.when(pr < F.lit(1.0 / 3), F.lit("head"))
        .when(pr < F.lit(2.0 / 3), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def content_type_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-type routing signals per document — the structural
    complement to :func:`script_stats`: before a corpus splits into
    prose / code / markup pipelines, count the LINE-level tells. Per
    doc: total lines, and the fraction of lines that look like code
    (leading indent of 4+ spaces or a tab, or ending in ``;`` ``{``
    ``}``), markdown headers (leading ``#``), blockquotes (leading
    ``>``), bullet list items (leading ``-`` or ``*`` + space), plus
    the URL count over the whole text (links-per-line is the classic
    boilerplate/navigation tell).

    Zero shuffle: lines split per row, every class counted with one
    ``F.filter``/``size`` over the array — ASCII-only regexes so Java
    and RE2/DuckDB agree byte-for-byte. Fractions round to 6 decimals;
    an empty document reports one empty line (split contract) and zero
    fractions.

    Returns (doc_id, n_lines, code_frac, header_frac, quote_frac,
    bullet_frac, n_urls)."""
    lines = F.split(F.col(text_col), "\n")

    def lfrac(pattern: str):
        n = F.size(F.filter(lines, lambda l: l.rlike(pattern)))
        return (
            F.round(n.cast("double") / F.greatest(F.size(lines), F.lit(1)), 6)
            .cast("decimal(18,6)")
        )

    urls = F.size(F.split(F.col(text_col), r"https?://", -1)) - 1
    return _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        lfrac(r"^(    |\t)|[;{}]$").alias("code_frac"),
        lfrac(r"^#").alias("header_frac"),
        lfrac(r"^>").alias("quote_frac"),
        lfrac(r"^(- |\* )").alias("bullet_frac"),
        urls.cast("long").alias("n_urls"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Tokenizer-evaluation report: per language, BPE fertility
    (mean tokens per word) and chars per token under learned merge
    rules — the standard check for which languages a vocabulary
    under-serves (high fertility = more tokens per word = higher
    training/inference cost and worse effective context for that
    language; the number multilingual tokenizer papers tabulate).

    ``merges`` as in :func:`bpe_apply`. chars counts the full document
    text (whitespace included — the raw-bytes-per-token view a budget
    planner wants). Ratios round to 6 decimals (DECIMAL(18,6)) from
    exact integer sums, so the report is a pure function of the data.

    Returns (lang, n_docs, n_words, n_tokens, fertility,
    chars_per_token).

    Scale shape: rides :func:`bpe_apply`'s vocabulary-sized merge folds;
    this adds one id-keyed join and a per-language partial agg."""
    enc = bpe_apply(docs, merges, text_col, id_col)
    meta = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.length(F.col(text_col)).cast("long").alias("_chars"),
    )
    ratio = lambda a, b: (  # noqa: E731
        F.round(F.sum(a).cast("double") / F.sum(b).cast("double"), 6).cast("decimal(18,6)")
    )
    return (
        enc.join(meta, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
            ratio("n_tokens", "n_words").alias("fertility"),
            ratio("_chars", "n_tokens").alias("chars_per_token"),
        )
    )


def quality_reject_reasons(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_top_term_ratio: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Audit-grade quality gate: :func:`quality_filter_narrow`'s metrics
    plus ``reasons`` — a sorted, comma-joined list naming every violated
    rule (empty = passes). A bare pass/fail bit makes threshold tuning
    blind; per-reason rejection counts are what a curation dashboard
    plots and what turns "we dropped 12% of src3" into an explanation.

    Same narrow zero-shuffle projection as the underlying filter (the
    reasons column is pure CASE logic over already-computed metrics);
    token-less documents have NULL length metrics and fail only the
    ``too_few_tokens`` rule (NULL comparisons drop out of the list —
    SQL semantics, identical in the oracle).

    Returns (doc_id, n_tokens, mean_tok_len, top_term_ratio, passes,
    reasons)."""
    m = quality_filter_narrow(
        docs,
        min_tokens,
        max_tokens,
        min_mean_tok_len,
        max_mean_tok_len,
        max_top_term_ratio,
        text_col,
        id_col,
    )
    checks = [
        ("mean_tok_len_high", F.col("mean_tok_len") > max_mean_tok_len),
        ("mean_tok_len_low", F.col("mean_tok_len") < min_mean_tok_len),
        ("too_few_tokens", F.col("n_tokens") < min_tokens),
        ("too_many_tokens", F.col("n_tokens") > max_tokens),
        ("top_term_ratio_high", F.col("top_term_ratio") > max_top_term_ratio),
    ]
    reasons = F.array_join(
        F.array_sort(
            F.filter(
                F.array(*[F.when(cond, F.lit(name)) for name, cond in checks]),
                lambda x: x.isNotNull(),
            )
        ),
        ",",
    )
    return m.withColumn("reasons", reasons)


def lang_confusion(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Language-ID evaluation view: the confusion matrix of declared
    language vs :func:`language_id`'s prediction — the first diagnostic
    run before trusting a lang-id signal for routing (which languages
    the heuristic confuses, how much 'und' slips through). Returns
    (declared, predicted, n), exact counts.

    One id-keyed join + a tiny keyed aggregate over the narrow
    zero-shuffle predictor; the matrix is |langs|² rows."""
    pred = language_id(docs, text_col, id_col)
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("declared"))
        .join(pred.withColumnRenamed(id_col, "doc_id"), "doc_id")
        .groupBy("declared", F.col("lang_guess").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _tok_stream(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, tok) occurrence stream — the shared explode of the NB
    classifier and drift ops (lowercase, whitespace split, empties
    dropped; identical to the unigram_logprob tokenization).
    ``_parallel`` spreads single-file scans so the tokenize explode
    never runs on one core (the measured DSIR trap); explode_OUTER so
    InferFiltersFromGenerate can't push an inlined `size(split) > 0`
    re-tokenize below the repartition (the novelty_scores lesson) —
    the NULL row an empty split array would emit is dropped by the
    same length filter that drops empty tokens."""
    return _parallel(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.split(F.lower(F.trim(F.col(text_col))), WS_RE)).alias("tok"),
    ).filter(F.length("tok") > 0)


def nb_quality_model(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train a Naive-Bayes log-odds quality classifier — the count-based
    stand-in for the fastText linear quality filter every big crawl
    pipeline runs (CCNet/GPT-3 style: score documents by similarity to
    a curated positive corpus). ``target`` is the positive seed (a
    subset of ``docs``); the rest of ``docs`` is the background class.
    Returns the model as (tok, llr DOUBLE): add-one-smoothed
    log-likelihood ratio ln P(tok|pos) − ln P(tok|neg) over the union
    vocabulary.

    Shape at scale (the DSIR envelope): two token-keyed count aggs with
    map-side partials, two 1-row total frames broadcast onto the
    vocabulary — the corpus is scanned once per class and nothing
    data-sized is collected. Train/apply split so the model persists and
    new batches score without retraining
    (:func:`nb_quality_score`)."""
    from .state import track

    toks_all = _tok_stream(docs, text_col, id_col)
    toks_pos = _tok_stream(target, text_col, id_col)
    ca = toks_all.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    cp = toks_pos.groupBy("tok").agg(F.count(F.lit(1)).alias("c_pos"))
    # the vocabulary frame feeds the totals aggregate AND the final llr
    # projection — unpersisted, both class token folds (a corpus scan
    # each) replayed per reference. Vocabulary-sized, so the persist is
    # exactly the "model persists" contract the docstring promises.
    vocab = track(
        ca.join(cp, "tok", "left").select(
            "tok",
            F.coalesce("c_pos", F.lit(0)).alias("c_pos"),
            (F.col("c_all") - F.coalesce("c_pos", F.lit(0))).alias("c_neg"),
        )
    )
    totals = vocab.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    return vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log((F.col("c_pos") + 1.0) / (F.col("n_pos") + F.col("v")))
            - F.log((F.col("c_neg") + 1.0) / (F.col("n_neg") + F.col("v")))
        ).alias("llr"),
    )


def nb_quality_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under a :func:`nb_quality_model`: per-doc sum of
    per-occurrence log-likelihood ratios, ``positive`` = score > 0 (the
    NB decision at equal priors). Tokens absent from the model
    contribute 0 (documented OOV policy — retrain to fold new vocabulary
    in). Returns (doc_id, n_toks, score DECIMAL(18,6), positive);
    gramless docs pass through with n_toks=0, score=0 (the DSIR
    contract: selections stay full-corpus-sized).

    Per-term llr rounds to 6 decimals and sums as DECIMAL — the
    order-independent exact aggregation, so the score is a pure
    function of (text, model) under any partitioning. The model join
    is deliberately NOT hint-forced: the model is vocabulary-sized —
    usually broadcastable and AQE will pick that, but a 100 TB-corpus
    vocabulary can exceed broadcast limits, and a forced hint would
    turn that into an OOM instead of a shuffle join (the r4
    embedding_near_dup_exact lesson). One doc-keyed agg; one id-keyed
    left join for the passthrough."""
    toks = _tok_stream(docs, text_col, id_col)
    scored = (
        toks.join(model, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(
                F.round(F.coalesce(F.col("llr"), F.lit(0.0)), 6).cast("decimal(18,6)")
            ).alias("score"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
            F.coalesce(F.col("score"), F.lit(0).cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("score"),
        )
        .withColumn("positive", F.col("score") > 0)
    )


def vocab_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots/slices —
    the monitoring signal a refreshed crawl runs before mixing a new
    dump in: per-token contribution p·ln(p/q) to KL(A‖B) with add-one
    smoothing over the union vocabulary, top-k by contribution
    (largest = the tokens A over-represents vs B). Returns
    (token, c_a, c_b, contrib DECIMAL(18,6), rank).

    Two token-keyed count aggs + a full-outer join on the token key, a
    1-row totals broadcast, then a vocabulary-sized top-k
    (row_number+filter → TakeOrderedAndProject). Ordering is on the
    ROUNDED contribution with token tie-break, so the ranking is
    engine-exact."""
    from pyspark.sql import Window

    ca = _tok_stream(docs_a, text_col, id_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_a")
    )
    cb = _tok_stream(docs_b, text_col, id_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_b")
    )
    from hgraphstorage_spark.pipeline.state import track

    # `u` fans out to the totals aggregate AND the scored projection;
    # unpersisted, each branch replays both token streams + the full
    # outer join (4 document scans in the executed plan — r12
    # duplicate-compute sweep). The frame is vocabulary-sized (token,
    # two counts) and both consumers read it at full width, so it
    # persists (the bm25 persist-vs-pushdown rule cuts the other way
    # here: nothing prunes below the join).
    u = track(
        ca.join(cb, "tok", "full").select(
            "tok",
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
    )
    totals = u.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"), F.count(F.lit(1)).alias("v")
    )
    scored = u.crossJoin(F.broadcast(totals)).select(
        F.col("tok").alias("token"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.round(
            ((F.col("c_a") + 1.0) / (F.col("n_a") + F.col("v")))
            * F.log(
                ((F.col("c_a") + 1.0) / (F.col("n_a") + F.col("v")))
                / ((F.col("c_b") + 1.0) / (F.col("n_b") + F.col("v")))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("contrib"),
    )
    w = Window.orderBy(F.col("contrib").desc(), F.col("token"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("token", "c_a", "c_b", "contrib", F.col("_rn").cast("int").alias("rank"))
    )


def _tf_frame(
    docs: DataFrame, d: int, text_col: str, id_col: str, hash_mode: str,
    persist: bool = True,
) -> DataFrame:
    """(doc_id, _tf ARRAY<DOUBLE>[d]) — the shared per-doc bucket-count
    vector behind the TF-IDF family. Zero shuffle: tokens hash to buckets
    JVM-side (xxhash64/md5 in codegen), then one vectorized bincount per
    Arrow batch counts them into the d-vector — counts are exact small
    integers in float64. Zero-token docs are excluded. ``persist``
    (default) cuts lineage for multi-branch consumers — without it the
    tokenize+count re-runs per branch; single-consumer callers
    (tfidf_apply, incl. streaming micro-batches where a cached frame
    would leak across batches) pass False."""
    import numpy as np

    from hgraphstorage_spark.pipeline.dedup import _parallel, md5_long
    from hgraphstorage_spark.pipeline.kernels import matrix_list, ragged
    from hgraphstorage_spark.pipeline.state import track

    if hash_mode == "md5":
        bucket = lambda t: md5_long(t) % d  # noqa: E731
    else:
        bucket = lambda t: F.pmod(F.xxhash64(t), F.lit(d))  # noqa: E731
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), WS_RE), lambda t: F.length(t) > 0
    )
    bucketed = _parallel(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(toks, lambda t: bucket(t).cast("int")).alias("_bs"),
    )

    @F.arrow_udf("array<double>")
    def _counts(bs):
        flat, lens = ragged(bs)
        rows = np.repeat(np.arange(len(lens)), lens)
        counts = np.bincount(rows * d + flat, minlength=len(lens) * d)
        return matrix_list(counts.astype(np.float64).reshape(len(lens), d))

    out = bucketed.filter(F.size("_bs") > 0).select("doc_id", _counts(F.col("_bs")).alias("_tf"))
    return track(out) if persist else out


def tfidf_idf_table(
    docs: DataFrame,
    d: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    tf_frame: DataFrame | None = None,
) -> DataFrame:
    """The persistable TRAINED half of the TF-IDF split: the d-row
    (pos, idf) table with idf = ln(1 + N/df) over the training corpus
    (unused buckets get idf 0.0). Save it next to the topic centroids;
    :func:`tfidf_apply` vectorizes ANY frame — including streaming
    micro-batches — against it without touching the training corpus
    again (the dsir_ratio_table pattern). ``tf_frame`` lets a caller that
    already built the (persisted) tf frame share it (topic_model builds
    it once for both the idf table and the vectors)."""
    withtf = tf_frame if tf_frame is not None else _tf_frame(docs, d, text_col, id_col, hash_mode)
    dfc = (
        withtf.select(F.posexplode("_tf").alias("pos", "w"))
        .filter(F.col("w") > 0)
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = withtf.agg(F.count(F.lit(1)).alias("_n"))
    grid = docs.sparkSession.range(d).select(F.col("id").cast("int").alias("pos"))
    return (
        grid.join(F.broadcast(dfc), "pos", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "pos",
            F.coalesce(
                F.log(1.0 + F.col("_n") / F.col("df")), F.lit(0.0)
            ).alias("idf"),
        )
    )


def tfidf_apply(
    docs: DataFrame,
    idf_table: DataFrame,
    d: int = 64,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    tf_frame: DataFrame | None = None,
) -> DataFrame:
    """Vectorize a frame against a FIXED idf table (the apply half of
    the TF-IDF split): same TF count, same integer quantization as
    :func:`tfidf_vectors`, but the corpus statistics come from the
    d-row ``idf_table`` (broadcast as one array) — so new documents and
    streaming micro-batches vectorize identically to the training run.
    ``tfidf_apply(docs, tfidf_idf_table(docs))`` equals
    ``tfidf_vectors(docs)`` exactly (tested). ``tf_frame``: share a
    prebuilt tf frame (see tfidf_idf_table)."""
    withtf = (
        tf_frame
        if tf_frame is not None
        else _tf_frame(docs, d, text_col, id_col, hash_mode, persist=False)
    )
    arr = idf_table.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "idf"))), lambda s: s["idf"]
        ).alias("_idf")
    )
    return withtf.crossJoin(F.broadcast(arr)).select(
        "doc_id",
        F.zip_with(
            F.col("_tf"), F.col("_idf"), lambda t, w: F.floor(t * w * scale).cast("double")
        ).alias("v"),
    )


def tfidf_vectors(
    docs: DataFrame,
    d: int = 64,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Hashed TF-IDF document vectors (the HashingTF+IDF feature step
    behind TF-IDF document clustering): every token hashes into one of
    ``d`` buckets, per-doc term frequencies fold into a dense d-vector
    with NO shuffle of the tokens, and the idf table — d rows — is the
    only aggregate, broadcast back onto the stream. Docs with zero
    tokens are excluded (no direction to cluster; documented contract).

    Weights are quantized to INTEGER-valued doubles,
    ``floor(tf * ln(1 + N/df) * scale)``: integer sums stay exact under
    any partitioning/order (up to 2^53), so downstream centroid means
    are bit-identical on any engine — the stream_embed_dedup fixed-point
    pattern applied to features. At the default scale the quantization
    error is ~1e-3 of a count, far below clustering resolution.

    ``hash_mode="md5"`` buckets with the engine-portable ``md5_long``
    family so a DuckDB oracle replays the vectors exactly; xxhash64 is
    the fast path. Returns (doc_id, v ARRAY<DOUBLE>[d]).

    Scale shape: one narrow tokenize+bucket projection and one Arrow
    bincount (``_tf_frame``), one d-row aggregate, one broadcast join.
    The token stream never shuffles."""
    withtf = _tf_frame(docs, d, text_col, id_col, hash_mode)
    # idf: bucket document frequencies + N in one tiny pass over the
    # d-length vectors (exploded rows are d per doc, not tokens per doc)
    stats = (
        withtf.select("doc_id", F.posexplode("_tf").alias("pos", "w"))
        .filter(F.col("w") > 0)
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("pos", "df"))).alias("_dfm"))
        .crossJoin(withtf.agg(F.count(F.lit(1)).alias("_n")))
    )
    idf = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.coalesce(
            F.log(1.0 + F.col("_n") / F.element_at(F.col("_dfm"), i)), F.lit(0.0)
        ),
    )
    return (
        withtf.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.zip_with(
                F.col("_tf"), idf.alias("_idf"), lambda t, w: F.floor(t * w * scale).cast("double")
            ).alias("v"),
        )
    )


# sentence boundary machinery shared by sentence_split and
# boilerplate_dedup(unit="sentence"): terminator-run marking (RE2-safe,
# no lookbehind) and the at-least-one-word-character sentence test
_SENT_MARK_RE = r"([.!?]+)([ \t\n\x0B\f\r]+|$)"
_SENT_WORD_RE = r"[^.!? \t\n\x0B\f\r]"


def _sentence_array(text) -> "F.Column":
    """Cleaned sentence ARRAY of a text column (order kept, punctuation-
    only fragments dropped) — the index-free form backing the sentence
    dedup unit; `sentence_split` keeps its own pre-filter indexing."""
    marked = F.regexp_replace(F.trim(text), _SENT_MARK_RE, "$1\x01")
    cleaned = F.transform(
        F.split(marked, "\x01"), lambda x: F.trim(F.regexp_replace(x, WS_RE, " "))
    )
    return F.filter(cleaned, lambda x: x.rlike(_SENT_WORD_RE))


def sentence_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> DataFrame:
    """Regex sentence segmentation: split on runs of sentence-ending
    punctuation ([.!?]+) followed by whitespace or end-of-text, keeping
    the terminator with its sentence — the deterministic baseline tier
    (like ``html_to_text``; an ML segmenter is a drop-in upgrade). The
    granularity step between document-level and line-level ops:
    sentence-level dedup, per-sentence quality, and citation-span work
    all start here.

    Returns (doc_id, sent_idx, sentence, n_tokens) — 0-based position
    in the PRE-FILTER split (gaps where short fragments dropped, so the
    index never needs a doc-keyed shuffle to renumber), whitespace-
    collapsed text, whitespace token count; sentences under
    ``min_tokens`` drop (stray terminators).

    Scale shape: one narrow regexp split + posexplode (explode_outer
    against InferFiltersFromGenerate, as everywhere); nothing shuffles.
    The split regex is RE2-safe (no lookbehind), so a DuckDB oracle
    replays it verbatim."""
    # insert \x01 after terminator+space runs, then split on it: keeps
    # the terminator attached without lookbehind (RE2-safe both engines)
    marked = F.regexp_replace(F.trim(F.col(text_col)), _SENT_MARK_RE, "$1\x01")
    parts = F.split(marked, "\x01")
    cleaned = lambda s: F.trim(F.regexp_replace(s, WS_RE, " "))  # noqa: E731
    out = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode_outer(parts).alias("sent_idx", "_raw"),
        )
        .select(
            "doc_id",
            "sent_idx",
            cleaned(F.col("_raw")).alias("sentence"),
        )
        # a sentence must carry at least one non-terminator character —
        # punctuation-only fragments ('...') are artifacts, not sentences
        .filter(F.col("sentence").rlike(_SENT_WORD_RE))
    )
    n_tok = F.size(F.split(F.col("sentence"), WS_RE))
    return out.withColumn("n_tokens", n_tok.cast("long")).filter(
        F.col("n_tokens") >= min_tokens
    )


def phrase_detect(
    docs: DataFrame,
    min_count: int = 5,
    delta: float = 5.0,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collocation / phrase detection (the word2phrase rule, Mikolov et
    al. 2013 §4): score every adjacent word bigram by

        score(a, b) = (count(ab) - delta) * N / (count(a) * count(b))

    where N is the corpus token count, and return the top_k bigrams with
    count(ab) >= min_count ordered by score — the phrase vocabulary a
    tokenizer or embedding pipeline promotes to single units
    ("new_york"). delta discounts rare-pair noise.

    Shape at scale: bigrams come from ``zip_with`` over each doc's token
    array against its own 1-shifted slice — narrow, no self-join on
    positions (the positional-join formulation shuffles the whole corpus
    twice; this shuffles only 8-byte-keyed partial counts). Unigram and
    bigram counts are two map-side-combined aggs; N is a 1-row
    broadcast; the final ordering is a TakeOrdered top-k, never a global
    sort. Score is rounded DECIMAL(18,6) from one integer-exact
    numerator/denominator pair, so a SQL oracle replays it bit-for-bit.

    Returns (word_a, word_b, n_pair, score).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    base = docs.select(toks.alias("t")).filter(F.size("t") > 0)
    base = _parallel(base)
    from hgraphstorage_spark.pipeline.state import track

    # `uni` has THREE consumers (n_total, both unigram join sides);
    # unpersisted, each replays the tokenize+explode+agg from the raw
    # corpus — 4 document scans total in the executed plan (r12 sweep).
    # Vocabulary-sized and consumed at full width everywhere → persist.
    # `base` (corpus-sized token arrays) deliberately stays lazy: its 2
    # consumers re-tokenize, which beats pinning the whole corpus'
    # token arrays in executor memory (the bm25 dl-frame lesson).
    uni = track(
        base.select(F.explode("t").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_total = uni.select(F.sum("n_w").alias("n_total"))
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.struct(a.alias("word_a"), b.alias("word_b")),
    )
    pairs = (
        base.filter(n >= 2)
        .select(F.explode(bigrams).alias("p"))
        .select("p.word_a", "p.word_b")
        .filter((F.length("word_a") > 0) & (F.length("word_b") > 0))
        .groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    ua = uni.select(F.col("w").alias("word_a"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("word_b"), F.col("n_w").alias("n_b"))
    scored = (
        pairs.join(ua, "word_a")
        .join(ub, "word_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "word_a",
            "word_b",
            "n_pair",
            F.round(
                (F.col("n_pair").cast("double") - F.lit(float(delta)))
                * F.col("n_total").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("word_a").asc(), F.col("word_b").asc()
    ).limit(top_k)


# vowel-group runs — the deterministic syllable proxy (Kincaid et al.
# 1975 used hyphenation dictionaries; vowel groups are the standard
# dictionary-free approximation, exact enough for corpus-level filters)
_VOWEL_GROUPS_RE = r"[aeiouy]+"


def readability_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level (Kincaid 1975)
    from fully deterministic counts — the classic pretraining quality
    signal (C4/Gopher-style rule filters plus a readability band is a
    cheap garbage detector that needs no model).

    Counts: sentences via the shared terminator machinery
    (`_sentence_array`; a terminator-free text scores as ONE sentence,
    the standard convention), words as ASCII letter runs over the
    lowercased text, syllables as vowel-group runs ``[aeiouy]+`` per
    word with the silent-'e' subtraction (final 'e' not preceded by
    'l', only when >= 2 vowel groups) and a 1-syllable floor.

      FRE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
      FKG = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59

    Scale shape: one narrow projection, zero shuffle — all counting is
    higher-order array functions inside whole-stage codegen. Scores are
    DECIMAL(18,4) (rounded) so the DuckDB oracle hashes identically;
    wordless documents get NULL scores. Returns (doc_id, n_sentences,
    n_words, n_syllables, flesch_reading_ease, fk_grade)."""
    text = F.col(text_col)
    words = F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+"), F.lit(0))

    def syl(w):
        groups = F.size(F.regexp_extract_all(w, F.lit(_VOWEL_GROUPS_RE), F.lit(0)))
        silent = (w.rlike("e$") & ~w.rlike("le$") & (groups >= 2)).cast("int")
        return F.greatest(F.lit(1), groups - silent)

    n_words = F.size(words)
    n_syll = F.aggregate(
        F.transform(words, syl), F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_sents = F.size(_sentence_array(text))
    wps = n_words.cast("double") / F.greatest(n_sents, F.lit(1)).cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    fre = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fkg = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)

    def dec(c):
        return F.round(c, 4).cast("decimal(18,4)")

    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_sents.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        n_syll.alias("n_syllables"),
        F.when(n_words > 0, dec(fre)).alias("flesch_reading_ease"),
        F.when(n_words > 0, dec(fkg)).alias("fk_grade"),
    )


def fim_transform(
    docs: DataFrame,
    rate: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "psm",
    pre_tok: str = "<|fim_prefix|>",
    mid_tok: str = "<|fim_middle|>",
    suf_tok: str = "<|fim_suffix|>",
    min_chars: int = 3,
) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022): for a
    deterministic ``rate`` fraction of documents, split the text at two
    md5-derived character offsets and re-serialize as

      PSM:  <pre> prefix <suf> suffix <mid> middle
      SPM:  <suf> suffix <pre> prefix <mid> middle

    so an autoregressive model learns infilling from plain next-token
    prediction. Selection and split points are pure hash arithmetic of
    the id (no RNG state): the same corpus gives the same FIM set on any
    cluster, and a DuckDB oracle replays every offset.

    Returns (doc_id, fim_applied, text_fim) — untouched docs pass
    through with their original text (fim_applied = false), as do docs
    shorter than ``min_chars``; NULL text passes through as NULL with
    fim_applied = false. Zero shuffle: one narrow projection.
    """
    if mode not in ("psm", "spm"):
        raise ValueError(f"mode must be 'psm' or 'spm', got {mode!r}")
    # md5_long IS h(id || ':' || salt) — the one engine-portable hash
    # expression the oracles replay (pipeline/dedup.py:md5_long)
    from hgraphstorage_spark.pipeline.dedup import md5_long

    text = F.col(text_col)
    n = F.length(text)
    # coalesce: length(NULL) is NULL and `x AND NULL` would leak NULL
    # into fim_applied — NULL-text docs are explicitly NOT selected
    selected = F.coalesce(
        (md5_long(F.col(id_col), F.lit("fim")) < F.lit(int(rate * (1 << 60))))
        & (n >= min_chars),
        F.lit(False),
    )
    # two cut points in 1..n-1 (both sides non-empty only when they
    # differ; equal cuts give an empty middle — legal FIM). The modulus
    # is floor-guarded at 1 so short/empty passthrough docs never divide
    # by zero under ANSI (selection already excludes them)
    o1 = (
        F.pmod(
            md5_long(F.col(id_col), F.lit("fim"), F.lit("1")),
            F.greatest(n - 1, F.lit(1)),
        )
        + 1
    )
    o2 = (
        F.pmod(
            md5_long(F.col(id_col), F.lit("fim"), F.lit("2")),
            F.greatest(n - 1, F.lit(1)),
        )
        + 1
    )
    lo, hi = F.least(o1, o2), F.greatest(o1, o2)
    prefix = text.substr(F.lit(1), lo)
    middle = text.substr(lo + 1, hi - lo)
    suffix = text.substr(hi + 1, n - hi)
    psm = F.concat(
        F.lit(pre_tok), prefix, F.lit(suf_tok), suffix, F.lit(mid_tok), middle
    )
    spm = F.concat(
        F.lit(suf_tok), suffix, F.lit(pre_tok), prefix, F.lit(mid_tok), middle
    )
    out = F.when(selected, psm if mode == "psm" else spm).otherwise(text)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        selected.alias("fim_applied"),
        out.alias("text_fim"),
    )
