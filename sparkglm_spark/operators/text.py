"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

All hot paths are pure Spark SQL expressions (whole-stage codegen; no Python
in the row loop). Every operator has an exactly-equivalent ANSI-SQL oracle
(see __spark_entry__.oracle_sql) — expressions avoid engine-specific
semantics (regex classes are spelled out, hashes are explicit polynomial
arithmetic, ratios are single divisions of exact integer counts).

These extend the reference's surface (it has no text ops) per the north star
(BASELINE.json: "LLM-data-pipeline operators ... designed for 100 TB scale").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.caching import CacheRegistry
from sparkglm_spark.plans.partitioning import collect_small, ensure_parallel

# bm25's compact (id, dl, tf…) frame is persisted for its two readers
# (stats reduction + scoring); the registry bounds cache lifetime across
# repeated searches — see plans/caching.py
_CACHES = CacheRegistry()

# Small per-language stopword profiles (public common words). Deterministic
# language-ID heuristic: most stopword hits wins, ties broken by language
# code order.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "en": ["the", "a", "and", "is", "not", "with", "of", "to", "in", "it"],
    "es": ["el", "la", "los", "las", "es", "no", "con", "una", "que", "de"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "une", "que", "des"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "is", "are", "was", "to", "of",
                "in", "on", "it", "that", "this", "with", "for", "as", "be"]

_WS = r"\s+"


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    return F.split(F.trim(text), _WS)


def token_count_expr(text: Column) -> Column:
    """Token count; empty/blank text counts 0."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(tokens_expr(text))
    )


def stopword_hits_expr(text: Column, words: list[str]) -> Column:
    """# tokens (lowercased) that are in `words` — an integer, so the
    downstream ratio is a single exact division."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens_expr(F.lower(text)), lambda t: F.array_contains(arr, t)))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics (one projection, no shuffle):
    n_chars, n_tokens, avg_token_len, stopword_ratio, alpha_ratio,
    digit_ratio, space_ratio."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_expr(t)
    # character-class counts via length-difference (engine-portable)
    n_digit = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    n_alpha = n_chars - F.length(F.regexp_replace(t, "[a-zA-Z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, " ", ""))
    hits = stopword_hits_expr(t, EN_STOPWORDS)

    def ratio(num: Column, den: Column) -> Column:
        # NULL on zero denominator — ANSI-safe in Spark, matches
        # `num / nullif(den, 0)` in the DuckDB oracle
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            num.cast("double") / den
        )

    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        ratio(n_chars, n_tokens).alias("avg_token_len"),
        ratio(hits, n_tokens).alias("stopword_ratio"),
        ratio(n_alpha, n_chars).alias("alpha_ratio"),
        ratio(n_digit, n_chars).alias("digit_ratio"),
        ratio(n_space, n_chars).alias("space_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite 0-1 quality score: penalize very short docs, low alpha
    ratio, low stopword ratio. Weights are fixed, arithmetic exact given the
    stats (oracle-checkable)."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    s = text_stats(df, text_col, id_col)
    len_score = F.least(F.col("n_tokens").cast("double") / F.lit(50.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.coalesce(F.col("alpha_ratio"), F.lit(0.0))
        + F.lit(0.3)
        * F.least(F.coalesce(F.col("stopword_ratio"), F.lit(0.0)) * F.lit(5.0), F.lit(1.0))
    )
    return s.select(id_col, "n_tokens", score.alias("quality_score"))


def language_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """N-gram/stopword-profile language ID: hits per language profile,
    argmax with deterministic lang-code tie-break. Integer scores →
    engine-portable."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    profiles = profiles or LANG_PROFILES
    t = F.col(text_col)
    best = _lang_argmax_struct(t, profiles)
    return df.select(
        F.col(id_col),
        _lang_pick_expr(best, profiles).alias("detected_lang"),
        best["h"].cast("bigint").alias("lang_score"),
    )


def _lang_argmax_struct(t: Column, profiles: dict[str, list[str]]) -> Column:
    """max over array<struct(h, nidx)> — each language's stopword-filter
    machinery appears exactly ONCE in the expression tree. The previous
    greatest + chained-when argmax referenced every hit count ~3× and
    whole-stage codegen inlines each reference, which dominated the
    first-use compile time of the text pipeline. Ordering: max hits, ties →
    max nidx = −index → FIRST language in sorted order, identical to the
    when-chain's tie-break."""
    langs = sorted(profiles)
    entries = [
        F.struct(
            stopword_hits_expr(t, profiles[lg]).alias("h"),
            F.lit(-i).alias("nidx"),
        )
        for i, lg in enumerate(langs)
    ]
    return F.array_max(F.array(*entries))


def _lang_pick_expr(best: Column, profiles: dict[str, list[str]]) -> Column:
    """Language name for an argmax struct — NULL when the hit count is NULL
    (null text), matching the legacy when-chain, which never matched a
    branch on null input. Without the guard the struct comparison falls
    through to the index tie-break and null-text rows would be confidently
    labeled with the first sorted language."""
    langs = sorted(profiles)
    return F.when(
        best["h"].isNotNull(),
        F.element_at(F.lit(langs), (-best["nidx"] + 1).cast("int")),
    )


# GPT-2-style pre-tokenizer pattern (public BPE pre-tokenization shape):
# contractions, letter runs, digit runs, punctuation runs — each optionally
# preceded by one space. No lookaheads (portable across Java regex and RE2);
# pure-whitespace matches are filtered out of the count.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count_expr(text: Column) -> Column:
    """# BPE-style pre-tokens — the LLM-pipeline token-budget estimator
    (whitespace token_count_expr underestimates subword counts)."""
    pieces = F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), 0)
    return F.size(F.filter(pieces, lambda p: F.length(F.trim(p)) > 0))


def bpe_token_count(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc whitespace + BPE-ish token counts (one projection)."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count_expr(t).cast("bigint").alias("n_tokens_ws"),
        bpe_token_count_expr(t).cast("bigint").alias("n_tokens_bpe"),
    )


# Polynomial rolling-hash fingerprint: h = Σ h*31 + code(char) (mod 1e9+7).
# M chosen so acc*31 + 65535 < 2^63 (no overflow under ANSI arithmetic in
# either engine); implementable verbatim in DuckDB via list_reduce.
_FP_MOD = 1_000_000_007


def fingerprint_expr(text: Column) -> Column:
    """Deterministic content fingerprint (rolling hash over characters)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(_FP_MOD),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc rolling-hash fingerprint — the exact-dedup / shard-assignment
    key for 100 TB pipelines (content-addressed, no text shuffle needed)."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    return df.select(
        F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fingerprint")
    )


def text_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: list[str] | None = None,
) -> DataFrame:
    """The full per-document text profile in ONE projection (no joins, no
    shuffle): stats + BPE token count + quality score + language ID +
    fingerprint. At 100 TB this is the shape that matters — five separate
    operators each re-scanning the corpus would quintuple the I/O; every
    column here fuses into a single whole-stage-codegen pass. `keep`
    carries extra input columns through unchanged (the hook
    `gopher_quality_filter` uses to hand back ORIGINAL rows after
    filtering on profile columns — no join, no second scan)."""
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df).withColumn(
        "__nbt", _nonblank_tokens_expr(F.col(text_col))
    )
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_expr(t)
    n_digit = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    n_alpha = n_chars - F.length(F.regexp_replace(t, "[a-zA-Z]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, " ", ""))
    hits = stopword_hits_expr(t, EN_STOPWORDS)

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            num.cast("double") / den
        )

    alpha_ratio = ratio(n_alpha, n_chars)
    stop_ratio = ratio(hits, n_tokens)
    quality = (
        F.lit(0.4) * F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * F.coalesce(alpha_ratio, F.lit(0.0))
        + F.lit(0.3) * F.least(F.coalesce(stop_ratio, F.lit(0.0)) * F.lit(5.0), F.lit(1.0))
    )
    best = _lang_argmax_struct(t, LANG_PROFILES)
    pick = _lang_pick_expr(best, LANG_PROFILES)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep or [])],
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        ratio(n_chars, n_tokens).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        ratio(n_digit, n_chars).alias("digit_ratio"),
        ratio(n_space, n_chars).alias("space_ratio"),
        bpe_token_count_expr(t).cast("bigint").alias("n_tokens_bpe"),
        quality.alias("quality_score"),
        pick.alias("detected_lang"),
        best["h"].cast("bigint").alias("lang_score"),
        fingerprint_expr(t).alias("fingerprint"),
        # r5: Gopher/C4 intra-doc repetition gates, fused into the same
        # projection (see repetition_stats for the standalone op). The
        # token array feeds two ratios — compute it in the __nbt
        # sub-projection below so the sharing is structural, not
        # CSE-dependent (the same discipline as _quality_and_lang_cols)
        _dup_ratio_expr(_nonblank_lines_expr(t)).alias("dup_line_ratio"),
        _dup_ratio_expr(F.col("__nbt")).alias("dup_token_ratio"),
        _top_ratio_expr(F.col("__nbt")).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword search
# ---------------------------------------------------------------------------


def bm25_tokens_expr(text: Column) -> Column:
    """Search tokenization: lowercase, split on non-alphanumeric runs, drop
    empties. Spelled out so a SQL oracle can reproduce it verbatim
    (string_split_regex + unnest + filter in DuckDB)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda s: s != F.lit("")
    )


@_CACHES.scoped
def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Okapi BM25 ranking of documents for a bag of query terms.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (Robertson/Lucene form).

    Scale shape — the corpus is TOKENIZED EXACTLY ONCE (the r4 profile
    showed the old explode plan paying the regex tokenizer twice: once for
    the dl stats pass, once for the hit explode — that double scan was the
    whole 1.4× regression vs r1). One codegen projection reduces each doc
    to (id, dl, tf per query term) — `size(filter(tokens, = term))`, no
    explode, no (doc, term) shuffle at all; that tiny numeric frame —
    (2 + |terms|) numerics per doc, a small fraction of the corpus bytes,
    cached MEMORY_AND_DISK so oversized corpora spill, not evict — is
    persisted and read twice:
    - N / avgdl / per-term document frequencies reduce to ONE partial-agg
      row (O(k) driver scalars), idf is then plain driver arithmetic;
    - scoring is a zero-shuffle projection over the same cached frame
      (zero-tf terms contribute an exact 0.0, matching the old hits-only
      sum), then a top_k TakeOrdered.
    Returns (id_col, score, dl) for the top_k matching docs, score
    descending with deterministic id tie-break.
    """
    import math

    terms = list(dict.fromkeys(query_terms))
    # fan out single-split inputs: these are per-row compute-dense
    # projections (no-op at real scale)
    df = ensure_parallel(df)
    toks = bm25_tokens_expr(F.col(text_col))
    def _eq(term: str):
        # a closure, NOT a default-arg lambda: F.filter inspects the
        # callable's arity, and a second (defaulted) parameter would make
        # it pass the array INDEX as _t
        return lambda s: s == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("__toks"), _eq(term))).alias(f"__tf{i}")
        for i, term in enumerate(terms)
    ]
    compact = (
        df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
        .select("id", F.size("__toks").alias("dl"), *tf_cols)
    )
    if not terms:
        return compact.where(F.lit(False)).select(
            F.col("id").alias(id_col),
            F.lit(None).cast("double").alias("score"),
            "dl",
        )
    compact = _CACHES.persist(compact)
    row = compact.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs, avgdl = float(row["n"]), float(row["avgdl"] or 0.0)
    idf = [
        math.log(
            (n_docs - row[f"__df{i}"] + 0.5) / (row[f"__df{i}"] + 0.5) + 1.0
        )
        for i in range(len(terms))
    ]
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    score = sum(
        (
            F.lit(idf[i])
            * (F.col(f"__tf{i}") * F.lit(k1 + 1.0))
            / (F.col(f"__tf{i}") + norm)
        )
        for i in range(len(terms))
    )
    any_hit = sum(F.col(f"__tf{i}") for i in range(len(terms))) > 0
    return (
        compact.where(any_hit)
        .select(F.col("id").alias(id_col), score.alias("score"), "dl")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# intra-document repetition (Gopher/C4-style cleaning rules)
# ---------------------------------------------------------------------------


def _nonblank_lines_expr(t: Column) -> Column:
    return F.filter(
        F.transform(F.split(t, "\n"), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )


def _nonblank_tokens_expr(t: Column) -> Column:
    return F.filter(tokens_expr(t), lambda s: s != F.lit(""))


def _dup_ratio_expr(arr: Column) -> Column:
    n = F.size(arr)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(arr))).cast("double") / n
    )


def _top_ratio_expr(arr: Column) -> Column:
    # top-element share without explode: count each distinct element's
    # occurrences via a filter inside one transform over the distinct set
    n = F.size(arr)
    counts = F.transform(
        F.array_distinct(arr),
        lambda d: F.size(F.filter(arr, lambda x: x == d)),
    )
    return F.when(n > 0, F.array_max(counts).cast("double") / n)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals — the standard intra-doc quality
    rules (repeated boilerplate lines, token-level chanting) used to gate
    web corpora (public grounding: Gopher, Rae et al. 2021 §A1.1; C4,
    Raffel et al. 2020): (id, n_lines, dup_line_ratio, dup_token_ratio,
    top_token_ratio).

    - dup_line_ratio: fraction of non-blank lines that are repeats of an
      earlier line (0 = all unique).
    - dup_token_ratio: same at whitespace-token level.
    - top_token_ratio: share of the most frequent token — chanting /
      keyword-stuffing detector.

    One whole-stage-codegen projection (higher-order array functions), no
    explode, no shuffle — at 100 TB this fuses into the same scan as the
    other per-doc profiles."""
    df = ensure_parallel(df)
    t = F.col(text_col)
    lines = _nonblank_lines_expr(t)
    toks = _nonblank_tokens_expr(t)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        _dup_ratio_expr(lines).alias("dup_line_ratio"),
        _dup_ratio_expr(toks).alias("dup_token_ratio"),
        _top_ratio_expr(toks).alias("top_token_ratio"),
    )


def remove_repeated_lines(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """C4-style line dedup WITHIN each document: keep the first occurrence
    of every line (order preserved, blank lines dropped), rewriting
    `text_col` in place. Zero shuffle — a single codegen projection; the
    cross-document dedup family (exact/minhash) composes after it.

    O(L²) comparisons per doc in the filter (L = line count) — fine for
    natural documents; pathological million-line rows belong to
    chunk_documents first."""
    t = F.col(text_col)
    lines = _nonblank_lines_expr(t)
    kept = F.filter(
        lines,
        lambda x, i: ~F.exists(
            F.slice(lines, 1, i), lambda prev: prev == x
        ),
    )
    return df.withColumn(text_col, F.array_join(kept, "\n"))


# ---------------------------------------------------------------------------
# pattern redaction (PII scrubbing)
# ---------------------------------------------------------------------------

# Default scrub patterns — deliberately the regex subset Java (Spark) and
# RE2 (DuckDB/Go) agree on: no backreferences, no lookaround, \b and
# bounded repetition only, so the oracle reproduces every replacement
# byte-for-byte.
DEFAULT_REDACT_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}",
}


def redact_patterns(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """PII scrubbing — the pattern-redaction pass every public-web
    training pipeline runs before release (emails, phone numbers, IPs):
    rewrite `text_col` with each match replaced by `<NAME>` (the
    pattern's dict key, uppercased, in angle brackets), and append one
    `n_redact_<name>` count column per pattern (counted on the ORIGINAL
    text — the audit trail a compliance review asks for). Patterns apply
    in dict order, each over the previous pattern's output — order
    matters when patterns overlap (an email matched first can't then
    half-match as a phone number).

    Plan: a single whole-stage-codegen projection (regexp_extract_all +
    chained regexp_replace) — zero shuffles, zero Python; at 100 TB this
    fuses into the scan like the other per-doc text profiles. Counts are
    exact, not capped. Patterns must stay in the Java∩RE2 regex subset
    (see DEFAULT_REDACT_PATTERNS) for the oracle to reproduce them."""
    pats = DEFAULT_REDACT_PATTERNS if patterns is None else patterns
    if not pats:
        raise ValueError("patterns must be non-empty")
    df = ensure_parallel(df)
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0)))
        .cast("bigint")
        .alias(f"n_redact_{name}")
        for name, p in pats.items()
    ]
    redacted = t
    for name, p in pats.items():
        redacted = F.regexp_replace(redacted, p, f"<{name.upper()}>")
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, redacted.alias(text_col), *counts)


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, A1.1) over the fused profile
# ---------------------------------------------------------------------------

# Defaults follow the published Gopher filter where this engine profiles
# the signal, adapted where it profiles a close cousin (noted inline).
# None disables a rule.
GOPHER_DEFAULTS: dict[str, float | None] = {
    "min_tokens": 50,                # Gopher: 50 ≤ word count
    "max_tokens": 100_000,           #         ≤ 100,000
    "min_avg_token_len": 3.0,        # Gopher: mean word length in [3, 10]
    "max_avg_token_len": 10.0,
    "min_alpha_ratio": 0.6,          # adaptation: Gopher requires ≥80% of
    #   WORDS to contain an alphabetic char; this engine profiles the
    #   char-level alphabetic ratio, where natural prose sits ≥0.6
    "min_stopword_ratio": None,      # adaptation of Gopher's ≥2-stopwords
    #   rule; disabled by default — the profile's stopword list is
    #   English, and a default-on rule would zero out multilingual corpora
    "max_dup_line_ratio": 0.30,      # Gopher: duplicate line fraction
    "max_dup_token_ratio": 0.30,     # adaptation of the n-gram family
    "max_top_token_ratio": 0.20,     # adaptation: top-word share
}

# rule name → (profile column, bound kind) — the single source the flag
# builder iterates, so flags/filter/docs cannot drift
_GOPHER_RULES: list[tuple[str, str, str]] = [
    ("min_tokens", "n_tokens", "ge"),
    ("max_tokens", "n_tokens", "le"),
    ("min_avg_token_len", "avg_token_len", "ge"),
    ("max_avg_token_len", "avg_token_len", "le"),
    ("min_alpha_ratio", "alpha_ratio", "ge"),
    ("min_stopword_ratio", "stopword_ratio", "ge"),
    ("max_dup_line_ratio", "dup_line_ratio", "le"),
    ("max_dup_token_ratio", "dup_token_ratio", "le"),
    ("max_top_token_ratio", "top_token_ratio", "le"),
]


def _gopher_flag_cols(thresholds: dict) -> list[Column]:
    """One boolean per enabled rule + the conjunction `gopher_pass`.
    NULL profile values (empty docs have null ratios) FAIL the rules that
    read them — coalesce(cond, False), matching the SQL oracle."""
    unknown = set(thresholds) - {name for name, _, _ in _GOPHER_RULES}
    if unknown:
        raise ValueError(f"unknown gopher rule(s): {sorted(unknown)}")
    thr = {**GOPHER_DEFAULTS, **thresholds}
    flags: list[Column] = []
    passing = F.lit(True)
    for name, col, kind in _GOPHER_RULES:
        bound = thr[name]
        if bound is None:
            continue
        cond = (
            F.col(col) >= F.lit(float(bound))
            if kind == "ge"
            else F.col(col) <= F.lit(float(bound))
        )
        cond = F.coalesce(cond, F.lit(False))
        flags.append(cond.alias(f"ok_{name}"))
        passing = passing & cond
    flags.append(passing.alias("gopher_pass"))
    return flags


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds: float | None,
) -> DataFrame:
    """Per-document Gopher-rule verdicts: (id, ok_<rule>… for each enabled
    rule, gopher_pass). Chained projection over `text_profile` — the whole
    thing is still ONE codegen pass over the scan, no shuffle. Override
    any GOPHER_DEFAULTS threshold by keyword; None disables a rule."""
    prof = text_profile(df, text_col, id_col)
    return prof.select(F.col(id_col), *_gopher_flag_cols(thresholds))


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds: float | None,
) -> DataFrame:
    """The rows of `df` that pass every enabled Gopher rule — original
    columns, original values. The profile columns exist only inside the
    projection (via text_profile's `keep` passthrough) and are dropped
    after the filter: one codegen projection + filter over the scan,
    nothing joined, nothing shuffled. Original columns ride through under
    collision-proof aliases — an input column named like a profile column
    (the testdata's own `n_chars`) must not become ambiguous."""
    others = [c for c in df.columns if c not in (id_col, text_col)]
    aliased = df.select(
        F.col(id_col),
        F.col(text_col),
        *[F.col(c).alias(f"__orig_{i}") for i, c in enumerate(others)],
    )
    prof = text_profile(
        aliased,
        text_col,
        id_col,
        keep=[text_col] + [f"__orig_{i}" for i in range(len(others))],
    )
    passing = _gopher_flag_cols(thresholds)[-1]
    restore = {
        c: (
            F.col(f"__orig_{others.index(c)}")
            if c in others
            else F.col(c)
        )
        for c in df.columns
    }
    return prof.where(passing).select(
        *[restore[c].alias(c) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# Text normalization (pre-tokenization cleanup)
# ---------------------------------------------------------------------------

# typographic characters folded to ASCII: curly quotes, en/em dash, NBSP.
# Kept to BMP single-codepoint mappings so both Spark's and any SQL
# engine's translate() agree character-for-character.
NORMALIZE_TRANSLATE_SRC = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
NORMALIZE_TRANSLATE_DST = "''\"\"-- "

# C0 control characters (minus \t\n, which the whitespace rules own) + DEL
_CONTROL_CHARS_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text_expr(t: Column) -> Column:
    """The normalized form of `t` — one expression, applied in a fixed
    order so any engine reproduces it byte-for-byte:

      1. fold typographic quotes/dashes/NBSP to ASCII (translate),
      2. strip C0 control characters and DEL (\\t survives to rule 3,
         \\n survives as structure),
      3. collapse horizontal whitespace runs (spaces+tabs) to one space,
      4. trim spaces around newlines,
      5. collapse 3+ consecutive newlines to exactly two (paragraph
         breaks survive, page-break noise does not),
      6. trim both ends.

    Every rule is in the Java∩RE2 regex subset (same contract as
    DEFAULT_REDACT_PATTERNS), so a SQL oracle replays the chain
    exactly."""
    out = F.translate(t, NORMALIZE_TRANSLATE_SRC, NORMALIZE_TRANSLATE_DST)
    out = F.regexp_replace(out, _CONTROL_CHARS_RE, "")
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" *\n *", "\n")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    return F.trim(out)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pre-tokenization text cleanup — the normalization pass a web-scraped
    corpus runs before any dedup/quality stage (mojibake punctuation,
    control bytes, and whitespace noise otherwise split identical
    documents into distinct fingerprints). Rewrites `text_col` with
    `normalize_text_expr` and appends `n_chars_removed` (original minus
    normalized length — the audit of how much was stripped; translate is
    length-preserving, removals only shrink, so it is ≥ 0; NULL text stays
    NULL with a NULL count).

    Plan: ONE whole-stage-codegen projection over the scan — zero
    shuffles, zero Python, same shape as `redact_patterns`; at 100 TB
    this fuses into whatever scan feeds the next stage."""
    df = ensure_parallel(df)
    t = F.col(text_col)
    norm = normalize_text_expr(t)
    keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep,
        norm.alias(text_col),
        (F.length(t) - F.length(norm)).cast("bigint").alias("n_chars_removed"),
    )


# ---------------------------------------------------------------------------
# Hashed TF vectors (text → the similarity suite, no external embeddings)
# ---------------------------------------------------------------------------


def hashed_tf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
    hash_fn: str = "xxhash64",
    l2_normalize: bool = True,
) -> DataFrame:
    """(id, vector: array<double>) — the hashing-trick term-frequency
    vector (Weinberger et al. 2009; Spark ML's HashingTF re-expressed
    as a declarative plan): token → bucket = hash(token) mod n_features,
    bucket counts → a dense double array, optionally L2-normalized so the
    vectors drop straight into `similarity.cosine_topk` /
    `near_dup_pairs` / `semantic_dedup` — embedding-free lexical
    similarity over raw text.

    Plan: term counting is ROW-LOCAL (each doc's tokens live in one row),
    so no aggregation is needed at all: one whole-stage-codegen projection
    maps the token array to a bucket array (`transform` — no explode, no
    Generate row blow-up), then one vectorized Arrow `mapInPandas` pass
    bincounts + densifies each batch in numpy (and applies the L2 norm
    there — Spark's GetMapValue is a linear key scan, so an
    expression-tree densify is O(n_features · nnz) per row). ZERO
    exchanges: nothing shuffles, the dense array (8·n_features bytes/doc)
    exists only past the Arrow stage's output, and the Arrow input is one
    int per token (~4·n_tokens bytes/doc). One vector per input row — ids
    are the doc-frame key, assumed unique per row. Docs with no tokens
    (null/blank text) get no row — a vector of nothing carries no
    similarity signal (the simhash convention).

    hash_fn='portable' swaps xxhash64 for the char-polynomial hash —
    engine-reproducible bucketing, the oracle mode (slower per token;
    production uses the default)."""
    rows = _hashed_bucket_arrays(df, text_col, id_col, n_features, hash_fn)
    return _densify_bucket_arrays(rows, df, id_col, n_features, l2_normalize)


def _hashed_bucket_arrays(
    df: DataFrame, text_col: str, id_col: str, n_features: int, hash_fn: str
) -> DataFrame:
    """(id, __bkts: array<int>): each doc's token→bucket array, computed
    row-locally in the JVM — the shared core of hashed-TF and TF-IDF.
    Rows with no tokens are dropped here (the no-signal convention).
    Same per-token bucket expression as the old explode path (pmod of
    the hash, cast int), just mapped over the array in place."""
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    from sparkglm_spark.operators.dedup import _portable_shingle_hash

    if hash_fn == "portable":
        bucket = lambda t: F.pmod(  # noqa: E731
            _portable_shingle_hash(t), F.lit(n_features)
        ).cast("int")
    elif hash_fn == "xxhash64":
        bucket = lambda t: F.pmod(  # noqa: E731
            F.xxhash64(t), F.lit(n_features)
        ).cast("int")
    else:
        raise ValueError("hash_fn must be 'xxhash64' or 'portable'")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    # filter on the TOKEN array's size (== the bucket array's size, incl.
    # the NULL case), so the pushed-down Filter re-tokenizes but never
    # re-hashes — transform(toks) is evaluated once, in the Project
    return (
        ensure_parallel(df)
        .where(F.size(toks) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.transform(toks, bucket).alias("__bkts"),
        )
    )


def _densify_bucket_arrays(
    rows: DataFrame,
    df: DataFrame,
    id_col: str,
    n_features: int,
    l2_normalize: bool,
    weights=None,
) -> DataFrame:
    """Densify per-row bucket arrays in a vectorized Arrow pass, not a
    per-feature expression: Spark's GetMapValue is a LINEAR key scan, so
    a transform(sequence) over map lookups costs O(n_features · nnz) per
    row in an interpreted loop — measured 17 s for 5k docs at
    n_features=256 vs ~1 s for this numpy kernel (the similarity.py
    lesson: batch kernels beat giant expression trees). The whole batch
    is ONE np.bincount over row-offset bucket ids (counts are exact
    int64 → float64). `weights` (optional, length n_features) multiplies
    each bucket in the same pass — the TF-IDF hook."""
    id_type = df.schema[id_col].dataType.simpleString()
    nf = int(n_features)
    do_norm = bool(l2_normalize)
    w = None if weights is None else [float(v) for v in weights]

    def densify(batches):
        import numpy as np
        import pandas as pd

        wv = None if w is None else np.asarray(w, dtype=np.float64)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            bkts = [np.asarray(b, dtype=np.int64) for b in pdf["__bkts"]]
            lens = np.fromiter((len(b) for b in bkts), dtype=np.int64, count=n)
            flat = np.concatenate(bkts)
            offs = np.repeat(np.arange(n, dtype=np.int64) * nf, lens)
            out = (
                np.bincount(flat + offs, minlength=n * nf)
                .astype(np.float64)
                .reshape(n, nf)
            )
            if wv is not None:
                out *= wv
            if do_norm:
                out /= np.maximum(
                    np.linalg.norm(out, axis=1, keepdims=True), 1e-12
                )
            yield pd.DataFrame({"id": pdf["id"], "vector": list(out)})

    return rows.mapInPandas(
        densify, f"id {id_type}, vector array<double>"
    ).withColumnsRenamed({"id": id_col})


@_CACHES.scoped
def tfidf_vectors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
    hash_fn: str = "xxhash64",
    l2_normalize: bool = True,
) -> DataFrame:
    """(id, vector: array<double>) — hashing-trick TF-IDF (Spark ML's
    HashingTF → IDF chain re-expressed as one plan; SURVEY §7 phase 4
    names exactly this pair): bucket counts as `hashed_tf_vectors`, each
    bucket weighted by Spark ML's IDF convention
    idf(b) = ln((m + 1) / (df(b) + 1)) with m = docs carrying ≥1 token
    and df(b) = docs whose bucket b is non-zero, then optionally
    L2-normalized.

    Plan: ONE tokenize scan builds the row-local (id, bucket-array) frame
    (persisted — it feeds both the IDF aggregation and the vector
    assembly); df(b) is a groupBy(bucket) count over per-row DISTINCT
    buckets producing ≤ n_features rows, so the IDF table is DRIVER state
    like centroids/coefficients (O(n_features) floats, collected once,
    closed over by the Arrow densify — never a join). The dense multiply
    rides the same numpy bincount as hashed-TF: zero extra distributed
    passes over the TEXT vs plain TF (the arrays frame is persisted),
    plus two bounded agg jobs over it for m and df; the vector-assembly
    plan itself has ZERO exchanges (InMemoryTableScan → mapInPandas).
    Docs with no tokens get no row (the hashed-TF convention); a bucket
    present in EVERY doc gets idf → ln(1) ≈ 0 — IDF's point, not an
    error.

    `hash_fn='portable'` is the SQL-replayable oracle mode (see
    `hashed_tf_vectors`)."""
    import math

    rows = _CACHES.persist(
        _hashed_bucket_arrays(df, text_col, id_col, n_features, hash_fn)
    )
    # m and df(b) in ONE bounded aggregation (r15 — was two jobs over the
    # same cache): rollup(__b) emits the ≤ n_features per-bucket rows
    # (count = df(b): array_distinct per row ⇒ each doc counts each
    # bucket once, the same df the old (id, bucket) grouping produced)
    # PLUS the grand-total row, whose countDistinct(id) is exactly m —
    # every doc in the arrays frame has ≥1 token hence ≥1 bucket, so the
    # exploded frame covers the same id set the old rows-frame
    # countDistinct saw.
    exploded = rows.select(
        F.col("id"), F.explode(F.array_distinct("__bkts")).alias("__b")
    )
    stats = collect_small(
        exploded.rollup("__b").agg(
            F.count(F.lit(1)).alias("__df"),
            F.countDistinct("id").alias("__m"),
            F.grouping("__b").alias("__tot"),
        )
    )
    # rollup over an EMPTY frame emits no grand-total row (unlike a
    # global aggregate, which emits one) — an empty/blank corpus means
    # m = 0, matching the old countDistinct-over-empty behavior
    m = next((int(r["__m"]) for r in stats if r["__tot"] == 1), 0)
    idf = [math.log(float(m + 1)) for _ in range(int(n_features))]
    for r in stats:
        if r["__tot"] == 0:
            idf[r["__b"]] = math.log((m + 1.0) / (r["__df"] + 1.0))
    return _densify_bucket_arrays(rows, df, id_col, n_features, l2_normalize, idf)
