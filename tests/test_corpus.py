"""Corpus operators: chunking, vocabulary, contamination — vs plain-Python
twins on hand-built fixtures, plus the edge cases (empty/null/short text,
exact boundaries) and partition invariance."""

import re

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def _py_chunks(text, size, stride):
    if not text:
        return []
    out = []
    i, start = 0, 0
    while start < len(text):
        out.append((i, start + 1, text[start : start + size]))
        i, start = i + 1, start + stride
    return out


@pytest.mark.parametrize("size,stride", [(10, 10), (10, 7), (5, 3), (100, 60)])
def test_chunks_match_python(spark, size, stride):
    from sparkglm_spark.operators.corpus import chunk_documents

    rows = [
        (1, "abcdefghijklmnopqrstuvwxyz0123456789"),
        (2, "short"),
        (3, "x" * size),          # exactly one chunk
        (4, "y" * (size + 1)),    # boundary +1
        (5, ""),                  # no chunks
        (6, None),                # no chunks
    ]
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_start, r.chunk_text, r.chunk_len)
        for r in chunk_documents(
            _docs(spark, rows), chunk_size=size, stride=stride
        ).collect()
    }
    want = {}
    for doc_id, text in rows:
        for cid, start, chunk in _py_chunks(text, size, stride):
            want[(doc_id, cid)] = (start, chunk, len(chunk))
    assert got == want


def test_chunks_cover_text_with_overlap(spark):
    from sparkglm_spark.operators.corpus import chunk_documents

    text = "the quick brown fox jumps over the lazy dog" * 3
    out = (
        chunk_documents(_docs(spark, [(1, text)]), chunk_size=20, stride=15)
        .orderBy("chunk_id")
        .collect()
    )
    # stitching chunks at stride offsets reconstructs the document exactly
    rebuilt = ""
    for r in out:
        rebuilt = rebuilt[: r.chunk_start - 1] + r.chunk_text
    assert rebuilt == text
    # every chunk except possibly the last is full-size
    assert all(r.chunk_len == 20 for r in out[:-1])


def test_chunks_validation(spark):
    from sparkglm_spark.operators.corpus import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_size=0)
    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "x")]), chunk_size=5, stride=0)


# ---------------------------------------------------------------------------
# vocab_stats / top_terms
# ---------------------------------------------------------------------------


def test_vocab_matches_python(spark):
    from sparkglm_spark.operators.corpus import top_terms, vocab_stats

    rows = [
        (1, "The cat sat on the   mat"),
        (2, "the dog ate the cat food"),
        (3, "  "),
        (4, None),
        (5, "cat"),
    ]
    corpus, docfreq = {}, {}
    for _, text in rows:
        if not text or not text.strip():
            continue
        toks = re.split(r"\s+", text.strip().lower())
        for t in toks:
            corpus[t] = corpus.get(t, 0) + 1
        for t in set(toks):
            docfreq[t] = docfreq.get(t, 0) + 1
    got = {
        r.term: (r.corpus_freq, r.doc_freq)
        for r in vocab_stats(_docs(spark, rows)).collect()
    }
    assert got == {t: (corpus[t], docfreq[t]) for t in corpus}
    top = top_terms(_docs(spark, rows), k=2).collect()
    assert [(r.term, r.corpus_freq) for r in top] == [("the", 4), ("cat", 3)]


def test_vocab_partition_invariant(spark):
    from sparkglm_spark.operators.corpus import vocab_stats

    rows = [(i, f"tok{i % 7} tok{i % 3} shared") for i in range(200)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, vocab_stats(df.coalesce(1)).collect()))
    b = sorted(map(tuple, vocab_stats(df.repartition(16)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# contamination_scores
# ---------------------------------------------------------------------------


def _py_ngrams(text, n):
    if not text or not text.strip():
        return set()
    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_contamination_matches_python(spark):
    from sparkglm_spark.operators.corpus import contamination_scores

    bench_rows = [(100, "alpha beta gamma delta epsilon zeta")]
    doc_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),  # heavy overlap
        (2, "one two three four five six seven"),        # no overlap
        (3, "x alpha beta gamma delta epsilon y"),       # partial
        (4, "too short"),                                # < n tokens: excluded
        (5, None),                                       # excluded
    ]
    bench_grams = set()
    for _, t in bench_rows:
        bench_grams |= _py_ngrams(t, 3)
    want = {}
    for doc_id, t in doc_rows:
        grams = _py_ngrams(t, 3)
        if grams:
            hits = len(grams & bench_grams)
            want[doc_id] = (len(grams), hits, hits / len(grams))
    got = {
        r.doc_id: (r.n_shingles, r.n_hits, r.contamination)
        for r in contamination_scores(
            _docs(spark, doc_rows), _docs(spark, bench_rows), n=3
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2]
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-12)


def test_contamination_identical_doc_scores_one(spark):
    from sparkglm_spark.operators.corpus import contamination_scores

    text = "a b c d e f g h i j"
    out = contamination_scores(
        _docs(spark, [(1, text)]), _docs(spark, [(2, text)]), n=5
    ).collect()
    assert len(out) == 1 and out[0].contamination == 1.0


def test_contamination_plan_broadcasts_benchmark(spark):
    from sparkglm_spark.operators.corpus import contamination_scores

    plan = contamination_scores(
        _docs(spark, [(1, "a b c d e")]), _docs(spark, [(2, "a b c d e")]), n=3
    )._jdf.queryExecution().executedPlan().toString()
    # single-pass plan: the shingle join against the benchmark set is
    # broadcast, and nothing sort-merges — totals and hits come out of ONE
    # groupBy over the joined explode
    assert "BroadcastHashJoin [g" in plan
    assert "SortMergeJoin" not in plan


def test_ngrams_blank_text_yields_nothing_at_n1(spark):
    from sparkglm_spark.operators.corpus import word_ngrams_expr

    df = spark.createDataFrame(
        [("",), ("   ",), (None,), ("one",)], "text string"
    ).select(F.size(word_ngrams_expr(F.col("text"), 1)).alias("n"))
    assert [r.n for r in df.collect()] == [0, 0, 0, 1]


def test_chunks_random_corpus_matches_python(spark):
    """Seeded-random widening of the chunk twin: 60 docs of random length
    (0..400) and alphabet incl. whitespace/unicode, three (size, stride)
    shapes, all compared in ONE Spark job per shape."""
    import random

    from sparkglm_spark.operators.corpus import chunk_documents

    rng = random.Random(20260814)
    alphabet = "ab c\nd-éñ🙂 xyz"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 401))))
        for i in range(60)
    ]
    df = _docs(spark, rows)
    for size, stride in [(64, 64), (50, 37), (7, 3)]:
        got = {
            (r.doc_id, r.chunk_id): (r.chunk_start, r.chunk_text)
            for r in chunk_documents(df, chunk_size=size, stride=stride).collect()
        }
        want = {}
        for doc_id, text in rows:
            for cid, start, chunk in _py_chunks(text, size, stride):
                want[(doc_id, cid)] = (start, chunk)
        assert got == want, (size, stride)


def test_ngrams_random_corpus_matches_python(spark):
    import random

    from sparkglm_spark.operators.corpus import word_ngrams_expr

    rng = random.Random(4077)
    words = ["alpha", "beta", "Gamma", "δ", "x1", ""]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(0, 12))))
        for i in range(80)
    ]
    df = _docs(spark, rows)
    for n in [1, 2, 5]:
        got = {
            r.doc_id: set(r.g)
            for r in df.select(
                "doc_id", word_ngrams_expr(F.col("text"), n).alias("g")
            ).collect()
        }
        for doc_id, text in rows:
            assert got[doc_id] == _py_ngrams(text, n), (doc_id, n)


def test_corpus_summary_single_job_report(spark, documents):
    """One-pass corpus report: exact columns match independent computations
    and the plan is a single partial+final aggregation (no window, no
    join)."""
    from pyspark.sql import functions as F

    from sparkglm_spark.operators.corpus import corpus_summary
    from sparkglm_spark.operators.pipeline import _quality_and_lang_cols
    from sparkglm_spark.operators.text import token_count_expr

    row = corpus_summary(documents).collect()[0]
    n = documents.count()
    assert row["n_docs"] == n
    want_tokens = documents.select(
        F.sum(token_count_expr(F.col("text")).cast("long"))
    ).collect()[0][0]
    assert row["total_tokens"] == want_tokens
    # language counts match the fused projection's own distribution
    dist = {
        r["detected_lang"]: r["count"]
        for r in _quality_and_lang_cols(documents, "text")
        .groupBy("detected_lang")
        .count()
        .collect()
    }
    for lg in ("de", "en", "es", "fr", "zh"):
        assert row[f"n_{lg}"] == dist.get(lg, 0), lg
    # HLL distinct within its error bound; corpus has no exact dups
    assert abs(row["approx_distinct_docs"] - n) <= max(3, int(0.05 * n))
    q10, q50, q90 = row["quality_p10_p50_p90"]
    assert 0.0 <= q10 <= q50 <= q90 <= 1.0
    # r6 curation-readiness signals: default-Gopher pass count matches the
    # filter op; the already-clean corpus has zero normalization debt
    from sparkglm_spark.operators.text import gopher_quality_filter, normalize_text

    assert row["n_gopher_pass"] == gopher_quality_filter(documents).count()
    # changed ≠ shrunk: translate-only rewrites (curly quotes) keep length,
    # so compare against the actual rewrite, not n_chars_removed
    norm = normalize_text(documents).select(
        "doc_id", F.col("text").alias("norm_text")
    )
    dirty = (
        documents.join(norm, "doc_id")
        .where(F.col("text") != F.col("norm_text"))
        .count()
    )
    assert row["n_needs_normalize"] == dirty

    from sparkglm_spark.plans.inspect import formatted_plan

    plan = formatted_plan(corpus_summary(documents))
    assert "Window" not in plan and "Join" not in plan
    assert "partial_" in plan  # map-side combine before the one exchange


def _py_global_line_dedup(rows, delimiter="\n", min_line_chars=1):
    """Pure-Python twin: first occurrence (by (id, pos)) of each eligible
    line content survives; lines shorter than min_line_chars are exempt."""
    seen = {}
    lines_by_doc = {}
    for doc_id, text in sorted(rows):
        lines = [s.strip() for s in text.split(delimiter)]
        lines = [s for s in lines if s != ""]
        lines_by_doc[doc_id] = lines
        for pos, line in enumerate(lines):
            if len(line) >= min_line_chars and line not in seen:
                seen[line] = (doc_id, pos)
    out = {}
    for doc_id, lines in lines_by_doc.items():
        kept = [
            line
            for pos, line in enumerate(lines)
            if len(line) < min_line_chars or seen[line] == (doc_id, pos)
        ]
        out[doc_id] = delimiter.join(kept)
    return out


def test_remove_global_duplicate_lines_matches_python(spark):
    from sparkglm_spark.operators.corpus import remove_global_duplicate_lines

    rows = [
        (1, "alpha beta\ncommon line here\nunique one"),
        (2, "common line here\nsomething else\n\n  alpha beta  "),
        (3, "common line here\ncommon line here\nok"),  # intra-doc dup too
        (4, "x\ny\nx"),
        (5, ""),
        (6, "  \n\n  "),  # whitespace-only -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for min_chars in (1, 2):
        got = {
            r["doc_id"]: r["text"]
            for r in remove_global_duplicate_lines(
                df, min_line_chars=min_chars
            ).collect()
        }
        assert got == _py_global_line_dedup(rows, min_line_chars=min_chars), min_chars
    # non-text columns survive untouched, row count unchanged
    df2 = df.withColumn("extra", F.col("doc_id") * 2)
    out2 = remove_global_duplicate_lines(df2).collect()
    assert sorted((r["doc_id"], r["extra"]) for r in out2) == [
        (i, 2 * i) for i in range(1, 7)
    ]


def test_remove_global_duplicate_lines_custom_delimiter(spark):
    from sparkglm_spark.operators.corpus import remove_global_duplicate_lines

    # '|' is a regex metachar — the operator must treat it literally
    df = spark.createDataFrame(
        [(1, "a| b|c"), (2, "b|d")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in remove_global_duplicate_lines(df, delimiter="|").collect()
    }
    assert got == {1: "a|b|c", 2: "d"}


def test_remove_global_duplicate_lines_partition_invariant(spark):
    from sparkglm_spark.operators.corpus import remove_global_duplicate_lines

    import random

    rng = random.Random(7)
    vocab = ["lorem ipsum", "dolor sit", "amet consectetur", "adipiscing",
             "sed do", "eiusmod tempor", "incididunt ut", "labore"]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(0, 6))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = _py_global_line_dedup(rows)
    for npart in (1, 7):
        got = {
            r["doc_id"]: r["text"]
            for r in remove_global_duplicate_lines(df.repartition(npart)).collect()
        }
        assert got == expected, npart


def test_unigram_logprob_scores_match_python(spark):
    import math

    from sparkglm_spark.operators.corpus import unigram_logprob_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog"),
        (3, "completely NOVEL words here"),
        (4, "   "),  # blank -> no output row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    alpha = 0.5
    toks = {
        i: [t for t in txt.strip().lower().split() if t]
        for i, txt in rows
        if txt.strip()
    }
    counts: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
    n, v = sum(counts.values()), len(counts)
    denom = float(n) + alpha * (v + 1)
    expected = {
        i: (len(ts), sum(math.log((counts[t] + alpha) / denom) for t in ts) / len(ts))
        for i, ts in toks.items()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob_scores(docs).collect()
    }
    assert set(got) == set(expected)
    for i in expected:
        assert got[i][0] == expected[i][0]
        assert got[i][1] == pytest.approx(expected[i][1], rel=1e-12)


def test_unigram_logprob_scores_paths_agree(spark, monkeypatch):
    """The small-vocab map-literal fast path and the large-vocab join
    path produce the same (n_tokens, avg_logprob) rows (r14: the fast
    path scores in one scan; rel tolerance covers the join path's
    shuffle-order float summation)."""
    import sparkglm_spark.operators.corpus as corpus

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog barked AT the cat"),
            (3, "completely NOVEL words here"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    fast = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in corpus.unigram_logprob_scores(docs).collect()
    }
    monkeypatch.setattr(corpus, "_UNIGRAM_MAP_VOCAB_MAX", 0)
    join = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in corpus.unigram_logprob_scores(docs).collect()
    }
    assert set(fast) == set(join)
    for i in fast:
        assert fast[i][0] == join[i][0]
        assert fast[i][1] == pytest.approx(join[i][1], rel=1e-14)


@pytest.mark.parametrize("legacy", ["false", "true"])
def test_count_map_literal_round_trips_in_both_parser_modes(spark, monkeypatch, legacy):
    """Keys with quotes, backslashes and double quotes come back
    unchanged whether or not the legacy `escapedStringLiterals` parser
    mode is on, and the unigram fast path scores them like the join path
    (the map literal must not depend on string-literal escaping)."""
    import sparkglm_spark.operators.corpus as corpus

    counts = {
        "it's": 3,
        "''": 1,
        "a\\b": 2,
        "\\'": 4,
        '"q"': 5,
        "\\n": 6,
        "naïve": 7,
        "": 8,
    }
    docs = spark.createDataFrame(
        [(1, "it's a\\b \"q\" it's"), (2, "\\' \\n naïve a\\b")],
        "doc_id long, text string",
    )

    def scores():
        return {
            r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
            for r in corpus.unigram_logprob_scores(docs).collect()
        }

    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, legacy)
    try:
        m = corpus._count_map_literal(list(counts), list(counts.values()))
        assert spark.range(1).select(m.alias("m")).first()["m"] == counts
        fast = scores()
        monkeypatch.setattr(corpus, "_UNIGRAM_MAP_VOCAB_MAX", 0)
        join = scores()
    finally:
        spark.conf.set(key, old)
    assert set(fast) == set(join) == {1, 2}
    for i in fast:
        assert fast[i][0] == join[i][0]
        assert fast[i][1] == pytest.approx(join[i][1], rel=1e-14)


def test_unigram_logprob_scores_external_reference_oov(spark):
    import math

    from sparkglm_spark.operators.corpus import unigram_logprob_scores

    ref = spark.createDataFrame(
        [(1, "known words only"), (2, "known again")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(10, "known unknownword")], "doc_id long, text string"
    )
    alpha = 0.5
    # ref counts: known=2, words=1, only=1, again=1 -> N=5, V=4
    denom = 5.0 + alpha * 5
    want = (math.log((2 + alpha) / denom) + math.log(alpha / denom)) / 2
    row = unigram_logprob_scores(docs, reference=ref).collect()[0]
    assert row["n_tokens"] == 2
    assert row["avg_logprob"] == pytest.approx(want, rel=1e-12)
    # well-formed text outscores OOV gibberish under the same reference
    good = spark.createDataFrame([(11, "known known")], "doc_id long, text string")
    better = unigram_logprob_scores(good, reference=ref).collect()[0]
    assert better["avg_logprob"] > row["avg_logprob"]
    with pytest.raises(ValueError, match="alpha"):
        unigram_logprob_scores(docs, alpha=0.0)


def _py_subdup(texts, window):
    from collections import Counter

    wins = {}
    for i, t in texts.items():
        toks = t.lower().split() if t and t.strip() else []
        wins[i] = [
            " ".join(toks[j : j + window])
            for j in range(len(toks) - window + 1)
        ]
    global_counts = Counter(w for ws in wins.values() for w in ws)
    out = {}
    for i, ws in wins.items():
        dup = sum(1 for w in ws if global_counts[w] >= 2)
        out[i] = (len(ws), dup, (dup / len(ws)) if ws else None)
    return out


def test_substring_dup_stats_matches_python(spark):
    from sparkglm_spark.operators.corpus import substring_dup_stats

    boiler = "this footer text repeats across every page of the site"
    texts = {
        1: f"unique preamble one {boiler}",
        2: f"different preamble here {boiler}",
        3: "totally unrepeated content with enough tokens to window over fine",
        4: "short",          # fewer tokens than the window
        5: None,
        6: "self repeat self repeat self repeat self repeat self repeat",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
        for r in substring_dup_stats(df, window=4).collect()
    }
    want = _py_subdup(texts, 4)
    assert set(got) == set(want)
    for i in want:
        nw, nd, fr = want[i]
        assert got[i][0] == nw and got[i][1] == nd, (i, got[i], want[i])
        if fr is None:
            assert got[i][2] is None
        else:
            assert got[i][2] == pytest.approx(fr, rel=1e-12)
    # the boilerplate docs flag, the unique doc doesn't
    assert got[1][1] > 0 and got[2][1] > 0 and got[3][1] == 0
    assert got[6][1] > 0  # in-doc repetition counts too


def test_substring_dup_stats_real_corpus_and_plan(documents):
    from sparkglm_spark.operators.corpus import substring_dup_stats
    from sparkglm_spark.plans.inspect import assert_no_columns_in_exchanges

    out = substring_dup_stats(documents, window=8)
    rows = out.collect()
    assert len(rows) == documents.count()
    for r in rows:
        if r["n_windows"]:
            assert 0 <= r["n_dup_windows"] <= r["n_windows"]
    # the window text never shuffles — only the sha2 digest does
    assert_no_columns_in_exchanges(out, ["text", "__w"])
    with pytest.raises(ValueError, match="window"):
        substring_dup_stats(documents, window=0)


def test_corpus_summary_works_without_id_column(spark):
    from sparkglm_spark.operators.corpus import corpus_summary

    df = spark.createDataFrame(
        [("the quick brown fox is here",), ("another document of text",)],
        "text string",
    )
    row = corpus_summary(df).collect()[0]
    assert row["n_docs"] == 2 and row["total_tokens"] > 0


# ---------------------------------------------------------------------------
# remove_duplicate_substrings (r7)
# ---------------------------------------------------------------------------


def _subrm_twin(rows, w):
    """Pure-python mirror: windows of lowercased tokens, global first
    occurrence by (doc_id, pos) survives, covered tokens removed."""
    toks = {
        d: (t.split() if t and t.strip() else []) for d, t in rows
    }
    occs = {}
    for d in sorted(toks):
        low = [x.lower() for x in toks[d]]
        for p in range(len(low) - w + 1):
            occs.setdefault(tuple(low[p : p + w]), []).append((d, p))
    covered = {d: set() for d in toks}
    for key, lst in occs.items():
        for d, p in sorted(lst)[1:]:
            covered[d].update(range(p, p + w))
    out = {}
    for d, tk in toks.items():
        keep = [t for i, t in enumerate(tk) if i not in covered[d]]
        out[d] = (" ".join(keep), len(tk) - len(keep))
    return out


def test_remove_duplicate_substrings_matches_python_twin(spark):
    from sparkglm_spark.operators.corpus import remove_duplicate_substrings

    rows = [
        (1, "Alpha beta gamma delta shared run of tokens here unique tail"),
        (2, "pre amble alpha beta gamma delta shared run of tokens here post"),
        (3, "alpha beta gamma delta shared run of tokens here"),  # whole doc dup
        (4, "x " * 20),           # self-repetition within one doc
        (5, "short doc"),
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in remove_duplicate_substrings(df, window=8).collect()
    }
    exp = _subrm_twin(rows, 8)
    assert got == exp
    # the first occurrence keeps its ORIGINAL case
    assert got[1][0].startswith("Alpha")
    # the whole-doc duplicate collapses to empty
    assert got[3] == ("", 9)
    # in-doc repetition keeps one window's worth of tokens
    assert got[4][1] > 0


def test_remove_duplicate_substrings_real_corpus_and_plan(documents):
    from sparkglm_spark.operators.corpus import remove_duplicate_substrings
    from sparkglm_spark.plans.inspect import (
        assert_no_columns_in_exchanges,
        exchange_schemas,
    )

    out = remove_duplicate_substrings(documents, window=8)
    rows = out.collect()
    assert len(rows) == documents.count()
    n_in = {
        r["doc_id"]: len(r["text"].split()) if r["text"] else 0
        for r in documents.collect()
    }
    for r in rows:
        kept = len(r["text"].split()) if r["text"] else 0
        assert kept + r["n_tokens_removed"] == n_in[r["doc_id"]]
    # some removal must happen on this boilerplate-heavy corpus
    assert sum(r["n_tokens_removed"] for r in rows) > 0
    # neither raw text nor the token array crosses an exchange: digests,
    # ids and positions only (the broadcast start arrays are exempt wire)
    assert exchange_schemas(out), "expected the rank/agg exchanges"
    assert_no_columns_in_exchanges(out, ["text", "__t"])
    with pytest.raises(ValueError, match="window"):
        remove_duplicate_substrings(documents, window=0)


# ---------------------------------------------------------------------------
# bigram_logprob_scores (r7)
# ---------------------------------------------------------------------------


def _bigram_twin(rows, alpha=0.5, lam=0.7):
    import math
    from collections import Counter

    toks = {d: (t.lower().split() if t and t.strip() else []) for d, t in rows}
    uni, big, ctx = Counter(), Counter(), Counter()
    for tk in toks.values():
        uni.update(tk)
        for a, b in zip(tk, tk[1:]):
            big[(a, b)] += 1
            ctx[a] += 1
    n = sum(uni.values())
    denom = float(n) + alpha * (len(uni) + 1)

    def pu(b):
        return (uni.get(b, 0) + alpha) / denom

    out = {}
    for d, tk in toks.items():
        if not tk:
            continue
        lps = [math.log(pu(tk[0]))]
        for a, b in zip(tk, tk[1:]):
            if a in ctx:
                lps.append(
                    math.log(lam * big.get((a, b), 0) / ctx[a] + (1 - lam) * pu(b))
                )
            else:
                lps.append(math.log(pu(b)))
        out[d] = (len(tk), len(tk) - 1, sum(lps) / len(lps))
    return out


def test_bigram_scores_match_python_twin(spark):
    from sparkglm_spark.operators.corpus import bigram_logprob_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "mat the on sat cat the"),
        (4, "purely novel tokens entirely"),
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob_scores(df).collect()
    }
    exp = _bigram_twin(rows)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][:2] == exp[d][:2]
        assert got[d][2] == pytest.approx(exp[d][2], rel=1e-12)
    # word order matters: the scrambled twin of doc 1 scores strictly lower
    assert got[3][2] < got[1][2]


def test_bigram_scores_external_reference_and_validation(spark, documents):
    from sparkglm_spark.operators.corpus import bigram_logprob_scores
    from sparkglm_spark.plans.inspect import assert_no_columns_in_exchanges

    ref = documents.select("doc_id", "text").limit(300)
    probe = spark.createDataFrame(
        [(1, "key agg row scan slow fast table value"),   # in-domain order
         (2, "qqq www eee rrr ttt yyy uuu iii")],         # fully OOV
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["avg_logprob"]
        for r in bigram_logprob_scores(probe, reference=ref).collect()
    }
    assert got[1] > got[2]  # in-domain text outscores OOV gibberish
    with pytest.raises(ValueError, match="lam"):
        bigram_logprob_scores(probe, lam=1.0)
    with pytest.raises(ValueError, match="alpha"):
        bigram_logprob_scores(probe, alpha=0.0)
    with pytest.raises(ValueError, match="min_count"):
        bigram_logprob_scores(probe, min_count=0)
    # the document text never crosses an exchange — terms/ids only
    assert_no_columns_in_exchanges(
        bigram_logprob_scores(documents.limit(100)), ["text"]
    )


def test_bigram_logprob_scores_paths_agree(spark, monkeypatch):
    """The small-model map-literal fast path and the distributed join
    path produce the same rows (r14: the fast path collects the count
    table and scores in one row-local scan; rel tolerance covers the
    join path's shuffle-order float summation)."""
    import sparkglm_spark.operators.corpus as corpus

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog barked AT the cat"),
            (3, "mat the on sat cat the"),
            (4, "completely NOVEL words here"),
            (5, "   "),
            (6, None),
            (7, "single"),
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran")],
        "doc_id long, text string",
    )
    for kwargs in (
        {},
        {"reference": ref, "min_count": 2, "alpha": 0.25, "lam": 0.5},
    ):
        fast = {
            r["doc_id"]: (r["n_tokens"], r["n_bigrams"], r["avg_logprob"])
            for r in corpus.bigram_logprob_scores(docs, **kwargs).collect()
        }
        monkeypatch.setattr(corpus, "_BIGRAM_MAP_PAIRS_MAX", 0)
        join = {
            r["doc_id"]: (r["n_tokens"], r["n_bigrams"], r["avg_logprob"])
            for r in corpus.bigram_logprob_scores(docs, **kwargs).collect()
        }
        monkeypatch.undo()
        assert set(fast) == set(join)
        for i in fast:
            assert fast[i][:2] == join[i][:2]
            assert fast[i][2] == pytest.approx(join[i][2], rel=1e-14)
