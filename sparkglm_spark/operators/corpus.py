"""Corpus-level training-data operators: chunking, vocabulary statistics,
and benchmark decontamination.

These cover the corpus-wide (cross-document) half of the text surface —
`operators/text.py` owns the per-document half. All three are built so the
hot path stays in whole-stage codegen and the shuffles carry the minimum
possible payload:

- `chunk_documents` — overlapping fixed-size windows over the text. Pure
  projection + posexplode: ZERO shuffles, output streams straight to the
  sink. At 100 TB this is the op that feeds an embedding or tokenizer
  stage, so anything but a scan-shaped plan would be wrong.
- `vocab_stats` — term → (corpus_freq, doc_freq). Classic two-level
  aggregation: explode → groupBy(term, doc) partial-agg (map-side combine
  collapses each document's repeats before the wire) → groupBy(term).
  The second shuffle carries one row per distinct (term, doc) — already
  sublinear in token count; the final table is one row per distinct term.
  A top-k over it compiles to TakeOrderedAndProject, not a global sort.
- `contamination_scores` — fraction of each candidate document's word
  n-gram shingles that appear in a benchmark (eval-set) corpus: the
  standard train/test decontamination check (long n-grams ⇒ chance
  collisions are rare; hits mean copied text). The benchmark side is an
  eval set — tiny by construction — so its distinct shingles BROADCAST;
  the corpus side is shingled ONCE (explode → broadcast left join marking
  benchmark membership → one groupBy(doc) counting rows and marks
  together), and the single shuffle carries one partial-agg row per
  (doc, map partition) — two longs — regardless of shingle volume.

The reference (alteryx/sparkGLM) has no corpus surface; these are
LLM-data-pipeline extension ops (SURVEY.md §7 phase 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.caching import CacheRegistry
from sparkglm_spark.plans.partitioning import ensure_parallel

# unigram_logprob_scores persists the reference vocabulary (consumed by
# the N/V probe AND the scoring join); see plans/caching.py for the
# invocation-scoped release discipline
_CACHES = CacheRegistry()

_WS = r"\s+"

# vocabulary size under which unigram scoring inlines the term→count map
# as a constant-folded literal (one corpus scan, no join); the bounded
# limit-probe gates it exactly. 4096, NOT larger (r14 measurement):
# element_at on a literal map is a LINEAR key scan per lookup (a 50k-key
# map cost 49 s over 2M probes vs 2.9 s at 10k keys over 235k), and
# parse/optimize of the literal itself grows linearly (~5 s at 50k keys)
# — past a few thousand keys the broadcast-join plan is strictly better.
_UNIGRAM_MAP_VOCAB_MAX = 4096

# count-table row budget under which bigram scoring inlines the model
# (uni/ctx/bigram count maps) as constant-folded literals — the bigram
# analogue of _UNIGRAM_MAP_VOCAB_MAX, gated by the same bounded
# limit-probe on the model aggregation and capped for the same
# linear-scan/planning-cost reasons
_BIGRAM_MAP_PAIRS_MAX = 4096


def _count_map_literal(keys: list[str], vals: list[int]) -> Column:
    """string→bigint map literal built as ONE parsed SQL expression.
    `F.lit(list)` constructs the array element-by-element through py4j —
    measured 2.6 s for a 1k-key map (and linearly worse toward the 50k
    gate); the parser ingests the same literal in milliseconds, and the
    expression constant-folds to the same map.

    The map travels as hex-encoded UTF-8 JSON: the SQL text holds only
    [0-9a-f], so the result cannot depend on the parser's string-literal
    escaping (`spark.sql.parser.escapedStringLiterals` keeps `''` and
    `\\` literal in legacy mode, which corrupted keys containing quotes
    or backslashes)."""
    import json

    payload = json.dumps(
        dict(zip(keys, (int(v) for v in vals))), ensure_ascii=False
    ).encode("utf-8")
    return F.expr(
        f"from_json(cast(unhex('{payload.hex()}') as string), 'map<string,bigint>')"
    )


def word_ngrams_expr(text: Column, n: int) -> Column:
    """DISTINCT word n-grams of lowercased, whitespace-tokenized text as an
    array; texts with fewer than `n` tokens (incl. null/blank) yield an
    empty array. Engine-portable: split/slice/concat only, so the DuckDB
    oracle reproduces it token for token."""
    toks = F.split(F.trim(F.lower(text)), _WS)
    # the explicit blank guard matters at n=1: split('') is [''], size 1,
    # which would otherwise emit a phantom empty-string "gram"
    return F.when(
        (F.length(F.trim(text)) > 0) & (F.size(toks) >= n),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into fixed-size character windows starting at
    1, 1+stride, 1+2·stride, … (stride < chunk_size ⇒ overlapping
    windows). Returns (id, chunk_id, chunk_start, chunk_len, chunk_text);
    the last chunk may be shorter; empty/null text yields no chunks.

    Plan shape: one generate (posexplode) over a sequence projection — no
    shuffle, no Python. Chunk identity is (doc id, start offset), a pure
    function of the text length: re-running the job on re-partitioned
    input produces the identical chunk table (the audit property a 100 TB
    chunking job needs)."""
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    stride = chunk_size if stride is None else stride
    if stride <= 0:
        raise ValueError("stride must be positive")
    t = F.col(text_col)
    # chunk starts: i*stride for i in 0 .. floor((len-1)/stride)
    idx = F.when(
        F.length(t) >= 1,
        F.sequence(F.lit(0), F.floor((F.length(t) - 1) / stride).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return (
        ensure_parallel(df)
        .select(F.col(id_col), t.alias("__t"), F.explode(idx).alias("chunk_id"))
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride + 1).alias("chunk_start"),
            F.col("__t")
            .substr(
                (F.col("chunk_id") * stride + 1).cast("int"), F.lit(chunk_size)
            )
            .alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("bigint"))
    )


def vocab_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vocabulary table (term, corpus_freq, doc_freq) over lowercased
    whitespace tokens. Two-level aggregation (see module docstring); the
    empty token from blank text is dropped on the scan side."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), _WS)
    return (
        ensure_parallel(df)
        .where(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("__doc"), F.explode(toks).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term", "__doc")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .groupBy("term")
        .agg(
            F.sum("__cnt").alias("corpus_freq"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
    )


def top_terms(
    df: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Top-k vocabulary terms by corpus frequency (ties → term ascending —
    fully deterministic). Compiles to TakeOrderedAndProject over the vocab
    aggregation: no global sort materializes."""
    return (
        vocab_stats(df, id_col, text_col)
        .orderBy(F.desc("corpus_freq"), F.asc("term"))
        .limit(k)
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document benchmark contamination: the fraction of the doc's
    distinct word n-grams that appear anywhere in `benchmark`'s text.
    Returns (id, n_shingles, n_hits, contamination) for every doc with at
    least one shingle (docs shorter than n tokens are out of scope — they
    cannot carry an n-gram match).

    Scale shape: `benchmark` is an eval set (thousands of rows, not
    billions) ⇒ its distinct-shingle table broadcasts — asserted by hint,
    deliberate: if the "benchmark" is accidentally a 100 TB corpus the job
    should fail loudly rather than silently plan a terabyte-scale
    broadcast. The corpus side is shingled ONCE: explode → broadcast left
    join (marks benchmark membership per shingle) → one groupBy(doc)
    counting rows and marks together. The shuffle carries one partial-agg
    row per (doc, map partition) — two longs — regardless of shingle
    volume, and the n-gram transform (the heaviest expression in the
    plan) is never evaluated twice."""
    if n < 1:
        raise ValueError("n must be >= 1")
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_expr(F.col(text_col), n)).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = ensure_parallel(docs).select(
        F.col(id_col),
        F.explode(word_ngrams_expr(F.col(text_col), n)).alias("g"),
    )
    return (
        exploded.join(F.broadcast(bench_grams), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


def corpus_summary(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The one-row corpus health report a curation run starts with —
    computed in ONE aggregation job over one codegen projection (at 100 TB
    this is a single pass; five separate report queries would be five):

    n_docs, token totals (whitespace + BPE-ish), exact-dup signal
    (approx distinct content fingerprints via HLL — O(1) state per
    partition, vs a full fingerprint shuffle), per-language doc counts
    (conditional sums over the fused language-ID expression — no groupBy),
    and quality-score quantiles (approx_percentile sketch, mergeable).

    Sketch columns are approximate BY CONTRACT (HLL ±2%, quantile sketch
    rank error 1e-4) — the exact versions are `exact_dedup` and the
    percentile operators; this op exists to be cheap enough to run on
    every ingest batch."""
    from sparkglm_spark.operators.dedup import _content_fp
    from sparkglm_spark.operators.text import (
        LANG_PROFILES,
        _gopher_flag_cols,
        normalize_text_expr,
        text_profile,
    )

    # ONE text_profile pass supplies every per-row signal — n_tokens,
    # BPE count, quality, language, the Gopher flags — so the text is
    # tokenized once (r6 review: the first cut layered
    # _quality_and_lang_cols on top and paid ~2× the per-row scan CPU on
    # the op sold as cheap-per-ingest-batch). The r6 curation-readiness
    # columns (default-Gopher pass, normalization debt) read the same
    # projection. The id column is unused in the output; synthesize one
    # when absent so id-less frames keep working (pre-r6 behavior).
    if id_col not in docs.columns:
        docs = docs.withColumn(id_col, F.monotonically_increasing_id())
    gopher_pass = _gopher_flag_cols({})[-1]
    prof = text_profile(
        ensure_parallel(docs), text_col, id_col, keep=[text_col]
    )
    pre = prof.select(
        F.col("n_tokens").alias("__nt"),
        F.col("n_tokens_bpe"),
        F.col("quality_score"),
        F.col("detected_lang"),
        gopher_pass.alias("__gp"),
        (normalize_text_expr(F.col(text_col)) != F.col(text_col)).alias("__dirty"),
        _content_fp(prof, [text_col]).alias("__fp"),
    )
    # derived, not hardcoded: a new language in LANG_PROFILES must show up
    # here without a silent gap in the report
    langs = sorted(LANG_PROFILES)
    return pre.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.sum("n_tokens_bpe").alias("total_tokens_bpe"),
        F.approx_count_distinct("__fp").alias("approx_distinct_docs"),
        *[
            F.sum((F.col("detected_lang") == lg).cast("long")).alias(f"n_{lg}")
            for lg in langs
        ],
        F.sum(F.col("__gp").cast("long")).alias("n_gopher_pass"),
        F.sum(F.col("__dirty").cast("long")).alias("n_needs_normalize"),
        F.percentile_approx(
            "quality_score", [0.1, 0.5, 0.9], 10000
        ).alias("quality_p10_p50_p90"),
    )


# ---------------------------------------------------------------------------
# cross-document (global) line dedup — C4-style
# ---------------------------------------------------------------------------


def _nonblank_lines(text: Column, delimiter: str) -> Column:
    """Trimmed, non-blank line array of `text` split on the LITERAL
    delimiter (re.escape'd — F.split takes a regex). The same array is the
    coordinate system for BOTH the occurrence scan and the rewrite filter,
    so a position computed in one indexes correctly into the other."""
    import re

    return F.filter(
        F.transform(F.split(text, re.escape(delimiter)), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )


def remove_global_duplicate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_line_chars: int = 1,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """CROSS-document line dedup, the C4 cleaning rule the intra-doc
    `text.remove_repeated_lines` deliberately does not do (public
    grounding: C4, Raffel et al. 2020 §2.2 — "we discarded all but one of
    any three-sentence span occurring more than once in the data set";
    here the span unit is a line): every distinct line content is kept
    only at its FIRST occurrence corpus-wide — first by (id, position) —
    and every other occurrence is deleted from its document. Output: the
    input rows with `text_col` rewritten; every document's text is
    normalized to the delimiter-join of its trimmed, non-blank lines
    (minus deletions), other columns untouched, row count unchanged
    (a document whose every line loses keeps an empty string).

    Lines shorter than `min_line_chars` are EXEMPT — always kept, never
    counted as occurrences. Real corpora are full of legitimately repeated
    short lines ("Home", "⏎1.", nav crumbs); deduping those would shred
    list-like documents, which is why production C4-style rules key on
    multi-sentence spans. Raise the threshold to taste.

    100 TB plan — the corpus text NEVER crosses an exchange (plan-asserted
    in tests/test_plans.py):
      1. posexplode the per-doc line array (same-task as the scan),
      2. project (sha2-256(line), id, pos) — 256-bit so line-content
         hash-equality is collision-safe at 10¹⁰⁺ lines, the same argument
         as dedup._content_fp,
      3. groupBy(fp) → min(struct(id, pos)) winner + count, keep >1 groups
         (partial-aggregable; the exchange carries ~50-byte rows),
      4. join occurrences to winner groups → loser (id, pos) list,
         collapsed to one (id, sorted drop-positions array) row per
         affected doc,
      5. broadcast that (tiny) drop table back onto the corpus and rewrite
         the text with a codegen filter over the SAME line array —
         positions, not content, decide what survives, so the rewrite
         needs no second look at any other document.
    With `broadcast_drop_list=False` (an adversarially duplicate corpus
    whose affected-doc list outgrows the driver) step 5 becomes a shuffled
    join — text then exchanges once on the doc id; the default keeps the
    corpus out of every exchange."""
    if min_line_chars < 1:
        raise ValueError("min_line_chars must be >= 1 (blank lines are dropped)")
    t = F.col(text_col)
    lines = _nonblank_lines(t, delimiter)
    ex = ensure_parallel(docs).select(
        F.col(id_col).alias("__id"), F.posexplode(lines).alias("__pos", "__line")
    )
    proj = ex.where(F.length("__line") >= min_line_chars).select(
        F.sha2(F.col("__line"), 256).alias("__lfp"), "__id", "__pos"
    )
    winners = (
        proj.groupBy("__lfp")
        .agg(
            F.min(F.struct("__id", "__pos")).alias("__w"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") > 1)
        .select("__lfp", "__w")
    )
    drops = (
        proj.join(winners, "__lfp")
        .where(F.struct("__id", "__pos") != F.col("__w"))
        .select("__id", "__pos")
    )
    drop_per_doc = drops.groupBy("__id").agg(
        F.sort_array(F.collect_list("__pos")).alias("__drop")
    )
    side = F.broadcast(drop_per_doc) if broadcast_drop_list else drop_per_doc
    out = docs.join(side, docs[id_col] == drop_per_doc["__id"], "left")
    kept = F.filter(
        lines,
        lambda x, i: ~F.coalesce(F.array_contains(F.col("__drop"), i), F.lit(False)),
    )
    return out.withColumn(text_col, F.array_join(kept, delimiter)).drop(
        "__id", "__drop"
    )


# ---------------------------------------------------------------------------
# unigram LM quality scoring (CCNet-style)
# ---------------------------------------------------------------------------


@_CACHES.scoped
def unigram_logprob_scores(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM fit on
    `reference` (default: the corpus itself) — the cheap LM-quality gate
    of CCNet-style curation (public grounding: Wenzek et al. 2020 score
    documents with a reference LM and keep the well-scoring tail; a
    unigram model is the degenerate-but-useful baseline: gibberish,
    keyword stuffing, and wrong-language text all score low).

    Returns (id, n_tokens, avg_logprob) for docs with ≥1 token.
    p(t) = (c_t + alpha) / (N + alpha·(V+1)) — Lidstone smoothing with one
    shared unseen-token mass, so out-of-reference tokens score finitely.

    Plan: the reference vocabulary is a (term, count) aggregate
    (`vocab_stats` — the wire carries distinct (term, doc) rows); scoring
    explodes the corpus tokens once and joins term→logprob (corpus-sized
    fact vs vocab-sized dim — AQE picks broadcast when the vocab fits,
    which natural vocabularies do), then one groupBy(doc) partial-agg sum.
    No Python anywhere; log() is IEEE double in any engine, so the DuckDB
    oracle matches to rounding."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed OOV would be -inf)")
    ref = docs if reference is None else reference
    import math

    def ref_terms(frame: DataFrame) -> DataFrame:
        toks = F.split(F.trim(F.lower(F.col(text_col))), _WS)
        return (
            ensure_parallel(frame)
            .where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.col(id_col), F.explode(toks).alias("term"))
            .where(F.col("term") != "")
        )

    # unigram needs only corpus_freq, so the vocab is ONE aggregation
    # over the exploded reference (r14; the two-level vocab_stats shape
    # exists to also produce doc_freq, which this scorer discards — the
    # partial-agg wire is per-(partition, term), smaller than the
    # distinct (term, doc) wire either way). The bounded limit-probe
    # collects it when small: N/V/denominator become driver sums of the
    # integer counts (exact), and scoring happens in ONE corpus scan —
    # per-token log-probs via a constant-folded term→count map literal
    # (Spark's own log over (c+α)/denom, identical to the join path's
    # per-term column; OOV keeps the Python-lit log(α/denom) constant).
    # A vocabulary over the gate keeps the explode → broadcast-join →
    # groupBy(doc) plan (natural corpora at scale).
    # persisted BEFORE the bounded probe (ADVICE r14): under the gate the
    # limit consumes every partition fully (each holds < cap+1 rows), so
    # the cache is complete and merely unused (a few thousand tiny rows);
    # over the gate the N/V totals and the scoring join reuse whatever
    # the probe cached instead of recomputing the whole term aggregation
    # from scratch — the pre-r15 shape ran it twice for large references.
    vocab_agg = _CACHES.persist(
        ref_terms(ref).groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    )
    probe = vocab_agg.limit(_UNIGRAM_MAP_VOCAB_MAX + 1).collect()
    if len(probe) <= _UNIGRAM_MAP_VOCAB_MAX:
        terms = [r["term"] for r in probe]
        counts = [int(r["__c"]) for r in probe]
        denom = float(sum(counts)) + alpha * (len(terms) + 1)
        oov_lp = F.lit(math.log(alpha / denom))
        cmap = _count_map_literal(terms, counts)

        def lp_of(t):
            c_t = F.try_element_at(cmap, t)
            return F.when(
                c_t.isNotNull(),
                F.log((c_t.cast("double") + F.lit(alpha)) / F.lit(denom)),
            ).otherwise(oov_lp)

        toks = F.split(F.trim(F.lower(F.col(text_col))), _WS)
        tf = F.filter(toks, lambda t: t != F.lit(""))
        return (
            ensure_parallel(docs)
            .where(F.length(F.trim(F.col(text_col))) > 0)
            .select(
                F.col(id_col),
                tf.alias("__tf"),
            )
            .where(F.size("__tf") > 0)
            .select(
                F.col(id_col),
                F.size("__tf").cast("bigint").alias("n_tokens"),
                (
                    F.aggregate(
                        F.col("__tf"),
                        F.lit(0.0),
                        lambda acc, t: acc + lp_of(t),
                    )
                    / F.size("__tf").cast("double")
                ).alias("avg_logprob"),
            )
        )
    # large vocab: already persisted above — consumed by the N/V totals
    # and the scoring join, both reading whatever the probe cached
    vocab = vocab_agg
    tot = vocab.agg(
        F.sum("__c").alias("n"), F.count(F.lit(1)).alias("v")
    ).first()
    n_tokens, v_size = (tot["n"] or 0), tot["v"]
    denom = float(n_tokens) + alpha * (v_size + 1)
    lp = F.log((F.col("__c").cast("double") + F.lit(alpha)) / F.lit(denom))
    oov_lp = F.lit(math.log(alpha / denom))
    return (
        ref_terms(docs)
        .join(vocab.select("term", lp.alias("__lp")), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.coalesce(F.col("__lp"), oov_lp)).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# exact substring-window duplication (Lee et al. 2022, window grain)
# ---------------------------------------------------------------------------


@_CACHES.scoped
def substring_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Per-document EXACT substring-duplication signal — the window-grain
    cousin of suffix-array substring dedup (Lee et al. 2022,
    arXiv:2107.06499): for every run of `window` consecutive tokens, does
    that exact token sequence occur ≥2 times anywhere in the corpus
    (another doc, or repeated within this one)? Returns
    (id, n_windows, n_dup_windows, dup_fraction) for every doc —
    docs shorter than `window` tokens have n_windows = 0 and NULL
    fraction. Gate on dup_fraction to drop boilerplate-heavy docs that
    survive document-level dedup because their unique preamble masks a
    duplicated body.

    Plan: windows come from ONE codegen transform (with multiplicity —
    occurrence counting is the point, so no array_distinct), hashed
    IN the projection (sha2-256, so the exchanges carry a fixed 64-char
    digest regardless of window size — the window text itself never
    shuffles); explode → global groupBy(hash) count (partial-agg) →
    hash-keyed join back to the exploded (id, hash) rows → one final
    groupBy(id). Both shuffles carry (digest, id)-width rows — the
    inverted-index shape, linear in token count at any corpus size."""
    if window < 1:
        raise ValueError("window must be >= 1")
    t = F.col(text_col)
    toks = F.split(F.trim(F.lower(t)), _WS)
    wins = F.when(
        (t.isNotNull()) & (F.length(F.trim(t)) > 0) & (F.size(toks) >= window),
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (window - 1)),
            lambda i: F.sha2(
                F.concat_ws(" ", F.slice(toks, i, F.lit(window))), 256
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = ensure_parallel(docs).select(
        F.col(id_col).alias("__id"), wins.alias("__w")
    )
    base = _CACHES.persist(base)
    exploded = base.select("__id", F.explode("__w").alias("__wh"))
    counts = exploded.groupBy("__wh").agg(F.count(F.lit(1)).alias("__cnt"))
    per_doc = (
        exploded.join(counts, "__wh")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("__cnt") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    return (
        base.select("__id")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            # explicit zero-window guard (NULL fraction) — ANSI-mode-proof
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double") / F.col("n_windows"),
            ).alias("dup_fraction"),
        )
    )


@_CACHES.scoped
def remove_duplicate_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """Window-grain duplicate-substring REMOVAL — the rewrite cousin of
    `substring_dup_stats` (Lee et al. 2022, arXiv:2107.06499, at window
    rather than suffix-array grain): every run of `window` consecutive
    tokens whose exact (case-folded) sequence already occurred earlier in
    the corpus — in (doc_id, position) order — has its tokens removed;
    the globally FIRST occurrence of each sequence survives. Returns
    (id_col, text, n_tokens_removed) for every doc: the rewritten text is
    the surviving tokens joined by single spaces (whitespace
    canonicalization is inherent to token-grain rewriting — run
    `normalize_text` first if exact spacing matters), so document-level
    near-dups collapse to their boilerplate-free cores while one copy of
    every phrase survives. Docs shorter than `window` tokens pass through
    (canonicalized, n_tokens_removed = 0).

    Matching is case-insensitive (windows hash the lower-cased token run
    — the `substring_dup_stats` convention) but the REBUILD keeps each
    surviving token's original case: hashing and rebuilding use the same
    split of the same trimmed text, so positions agree by construction.

    Plan: ONE projection tokenizes and hashes every window in-place
    (sha2-256 — the window text never shuffles); posexplode → one
    window-function pass over (digest, id, pos) rows ranks occurrences
    per digest (rank 1 = global first); duplicate occurrences collapse to
    per-doc sorted start arrays (ints only on the wire); the rewrite is
    one Arrow-batched pass joining those arrays back to the tokenized
    docs — numpy interval-diff coverage, O(tokens) per doc even on
    degenerate boilerplate corpora where nearly every window is
    duplicated (a per-token exists() expression would be O(tokens ·
    dup_windows)). With `broadcast_drop_list` (default) the start arrays
    broadcast and the corpus side never shuffles; set False when
    boilerplate dominates and the drop side outgrows the driver."""
    if window < 1:
        raise ValueError("window must be >= 1")
    from pyspark.sql import Window as W

    t = F.col(text_col)
    toks = F.split(F.trim(t), _WS)
    base = ensure_parallel(docs).select(
        F.col(id_col).alias("__id"),
        F.when(
            t.isNotNull() & (F.length(F.trim(t)) > 0), toks
        ).otherwise(F.array().cast("array<string>")).alias("__t"),
    )
    base = _CACHES.persist(base)
    lower_t = F.transform(F.col("__t"), F.lower)
    wins = F.when(
        F.size("__t") >= window,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - (window - 1)),
            lambda i: F.sha2(
                F.concat_ws(" ", F.slice(lower_t, i, F.lit(window))), 256
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("__id", F.posexplode(wins).alias("__p", "__wh"))
    ranked = occ.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__wh").orderBy(F.col("__id"), F.col("__p"))
        ),
    )
    starts = (
        ranked.where(F.col("__rn") >= 2)
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("__p")).alias("__starts"))
    )
    if broadcast_drop_list:
        starts = F.broadcast(starts)
    joined = base.join(starts, "__id", "left")

    w = int(window)
    id_type = docs.schema[id_col].dataType.simpleString()

    def rewrite(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            texts, removed = [], []
            for tok_arr, st in zip(pdf["__t"], pdf["__starts"]):
                tok_list = list(tok_arr)
                if st is None or not len(tok_list):
                    texts.append(" ".join(tok_list))
                    removed.append(0)
                    continue
                n = len(tok_list)
                diff = np.zeros(n + 1, dtype=np.int64)
                starts = np.asarray(st, dtype=np.int64)
                # vectorized interval-diff scatter (np.add.at handles
                # repeated starts); the per-start Python loop it replaces
                # was O(dup_windows) interpreter work per doc
                np.add.at(diff, starts, 1)
                np.add.at(diff, np.minimum(starts + w, n), -1)
                covered = np.cumsum(diff[:n]) > 0
                toks_np = np.array(tok_list, dtype=object)
                texts.append(" ".join(toks_np[~covered].tolist()))
                removed.append(int(covered.sum()))
            yield pd.DataFrame(
                {"__id": pdf["__id"], "text": texts, "n_removed": removed}
            )

    return joined.select("__id", "__t", "__starts").mapInPandas(
        rewrite, f"__id {id_type}, text string, n_removed int"
    ).select(
        F.col("__id").alias(id_col),
        "text",
        F.col("n_removed").cast("bigint").alias("n_tokens_removed"),
    )


@_CACHES.scoped
def bigram_logprob_scores(
    docs: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    lam: float = 0.7,
    min_count: int = 1,
) -> DataFrame:
    """Per-document mean token log-probability under an interpolated
    BIGRAM LM fit on `reference` (default: the corpus itself) — one rung
    up from `unigram_logprob_scores` toward CCNet's n-gram perplexity
    gate (Wenzek et al. 2020): word-salad whose unigrams look fine
    (shuffled text, keyword stuffing) scores low once order matters.

    Scoring (Jelinek-Mercer interpolation, engine-portable arithmetic):
      p(b | a) = lam · c(a,b)/c(a,·)  +  (1 − lam) · p_uni(b)
    with p_uni(b) = (c(b) + alpha) / (N + alpha·(V+1)) — the unigram
    scorer's Lidstone form — and pure-unigram fallback for a doc's first
    token and for contexts the reference never saw. Always finite: the
    (1−lam)·p_uni term never vanishes. `min_count` prunes rare bigrams
    from the model (they fall back to the interpolated-unseen case).
    Returns (id, n_tokens, n_bigrams, avg_logprob) for docs with ≥1
    token; avg is over ALL tokens (first token included via p_uni).

    Plan: the model is ONE aggregation over the reference's (prev, cur)
    pair stream — groupBy with a nullable prev, so token counts c(b),
    context totals c(a,·), N and V all derive from that single
    vocab²-bounded count table (persisted; no second reference scan).
    Scoring explodes each doc's (prev, cur) pairs once and joins the
    bigram and unigram tables ((id, term, term) rows on the wire — the
    inverted-index shape; AQE broadcasts the tables when they fit, which
    natural vocabularies do), then one partial-agg groupBy(doc). No
    Python anywhere; ln/division are IEEE doubles in any engine, so the
    DuckDB oracle matches to the unigram scorer's rounding convention."""
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed OOV would be -inf)")
    if not 0.0 < lam < 1.0:
        raise ValueError("lam must be in (0, 1) — lam=1 loses the backoff")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    ref = docs if reference is None else reference

    def pair_stream(frame: DataFrame) -> DataFrame:
        t = F.col(text_col)
        toks = F.split(F.trim(F.lower(t)), _WS)
        prevs = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        )
        pairs = F.arrays_zip(prevs.alias("prev"), toks.alias("cur"))
        return (
            ensure_parallel(frame)
            .where(t.isNotNull() & (F.length(F.trim(t)) > 0))
            .select(F.col(id_col), F.explode(pairs).alias("__pc"))
            .select(
                id_col,
                F.col("__pc.prev").alias("__a"),
                F.col("__pc.cur").alias("__b"),
            )
            .where(F.col("__b") != "")
        )

    # ---- model: one aggregation over the reference pair stream --------
    # persisted BEFORE the bounded probe (ADVICE r14 — the unigram-scorer
    # convention): under the gate the limit consumes every partition
    # fully and the tiny cache is merely unused; over the gate the
    # totals/uni/ctx/big consumers reuse what the probe cached instead of
    # re-running the full pair-stream aggregation.
    counts_agg = _CACHES.persist(
        pair_stream(ref).groupBy("__a", "__b").agg(
            F.count(F.lit(1)).alias("__c")
        )
    )
    # bounded probe (the unigram-scorer gate, r14): when the count table
    # is small, the whole model lives on the driver — N/V/denominator are
    # exact integer sums, the uni/ctx/bigram lookups become constant-
    # folded map literals, and scoring is ONE corpus scan with a row-local
    # fold (no explode, no joins, no groupBy exchange). Every per-pair
    # double is the same expression the join path evaluates (Spark's own
    # ln/division over identical operands); the fold accumulates in token
    # order, which is also the order the join path's partial agg sees
    # (explode emits a doc's pairs consecutively; the dim joins broadcast).
    # Count tables over the gate keep the distributed model + join plan.
    probe = counts_agg.limit(_BIGRAM_MAP_PAIRS_MAX + 1).collect()
    if len(probe) <= _BIGRAM_MAP_PAIRS_MAX:
        uni_c: dict[str, int] = {}
        ctx_c: dict[str, int] = {}
        big_c: dict[str, int] = {}
        n_tok = 0
        for r in probe:
            a, b, c = r["__a"], r["__b"], int(r["__c"])
            n_tok += c
            uni_c[b] = uni_c.get(b, 0) + c
            if a is not None:
                ctx_c[a] = ctx_c.get(a, 0) + c
                if c >= min_count:
                    # tokens come from a \s+ split, so they never contain
                    # whitespace — ' ' joins (a, b) injectively
                    big_c[a + " " + b] = c
        denom = float(n_tok) + alpha * (len(uni_c) + 1)
        uni_map = _count_map_literal(list(uni_c.keys()), list(uni_c.values()))
        ctx_map = _count_map_literal(list(ctx_c.keys()), list(ctx_c.values()))
        big_map = _count_map_literal(list(big_c.keys()), list(big_c.values()))

        def lp_of(pair):
            prev, cur = pair["prev"], pair["cur"]
            p_uni = (
                F.coalesce(F.try_element_at(uni_map, cur), F.lit(0)).cast(
                    "double"
                )
                + F.lit(alpha)
            ) / F.lit(denom)
            c1 = F.try_element_at(ctx_map, prev)
            c = F.try_element_at(
                big_map, F.concat(prev, F.lit(" "), cur)
            )
            p_big = F.when(prev.isNull() | c1.isNull(), p_uni).otherwise(
                F.lit(lam) * (F.coalesce(c, F.lit(0)).cast("double") / c1)
                + F.lit(1.0 - lam) * p_uni
            )
            return F.log(p_big)

        t = F.col(text_col)
        toks = F.split(F.trim(F.lower(t)), _WS)
        prevs = F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        )
        pf = F.filter(
            F.arrays_zip(prevs.alias("prev"), toks.alias("cur")),
            lambda s: s["cur"] != F.lit(""),
        )
        return (
            ensure_parallel(docs)
            .where(t.isNotNull() & (F.length(F.trim(t)) > 0))
            .select(F.col(id_col), pf.alias("__pf"))
            .where(F.size("__pf") > 0)
            .select(
                id_col,
                F.size("__pf").cast("bigint").alias("n_tokens"),
                F.size(
                    F.filter(F.col("__pf"), lambda s: s["prev"].isNotNull())
                )
                .cast("bigint")
                .alias("n_bigrams"),
                (
                    F.aggregate(
                        F.col("__pf"),
                        F.lit(0.0),
                        lambda acc, s: acc + lp_of(s),
                    )
                    / F.size("__pf").cast("double")
                ).alias("avg_logprob"),
            )
        )

    counts = counts_agg  # already persisted above, before the probe
    tot = counts.agg(
        F.sum("__c").alias("n"), F.count_distinct("__b").alias("v")
    ).first()
    n_tok, v_size = (tot["n"] or 0), tot["v"]
    denom = float(n_tok) + alpha * (v_size + 1)
    uni = counts.groupBy(F.col("__b").alias("__u")).agg(
        F.sum("__c").alias("__cb")
    )
    ctx = (
        counts.where(F.col("__a").isNotNull())
        .groupBy(F.col("__a").alias("__ctx"))
        .agg(F.sum("__c").alias("__c1"))
    )
    big = counts.where(
        F.col("__a").isNotNull() & (F.col("__c") >= min_count)
    ).select(F.col("__a").alias("__ba"), F.col("__b").alias("__bb"), "__c")

    # ---- score ---------------------------------------------------------
    pairs = pair_stream(docs)
    p_uni = (F.coalesce(F.col("__cb"), F.lit(0)).cast("double") + F.lit(alpha)) / F.lit(denom)
    p_big = F.when(
        F.col("__a").isNull() | F.col("__c1").isNull(),
        p_uni,
    ).otherwise(
        F.lit(lam)
        * (F.coalesce(F.col("__c"), F.lit(0)).cast("double") / F.col("__c1"))
        + F.lit(1.0 - lam) * p_uni
    )
    scored = (
        pairs.join(uni, pairs["__b"] == uni["__u"], "left")
        .join(ctx, pairs["__a"] == ctx["__ctx"], "left")
        .join(
            big,
            (pairs["__a"] == big["__ba"]) & (pairs["__b"] == big["__bb"]),
            "left",
        )
        .select(id_col, F.col("__a"), F.log(p_big).alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("__a").isNotNull().cast("long")).alias("n_bigrams"),
        F.avg("__lp").alias("avg_logprob"),
    )
