"""Dedup operators vs pure-Python oracles."""

import itertools

import pytest
from pyspark.sql import functions as F

from sparkglm_spark.operators import dedup as D


def py_shingles(s, n=3):
    s = s.lower()
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def py_jaccard(a, b):
    i = len(a & b)
    return i / (len(a) + len(b) - i) if (a or b) else 0.0


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra"),  # near dup of 0
        (3, "a completely different text about spark dataframes and shuffles"),
        (4, "a completely different text about spark dataframes and shuffle"),  # near dup of 3
        (5, "yet another unrelated document mentioning nothing similar"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(dup_docs):
    out = D.exact_dedup(dup_docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 removed, doc 0 kept (min id)


def test_exact_dedup_hashed_same_result(dup_docs):
    out = D.exact_dedup_hashed(dup_docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]


def test_duplicate_groups(dup_docs):
    out = D.duplicate_groups(dup_docs, ["text"], "doc_id").collect()
    assert len(out) == 1
    assert out[0]["canonical_id"] == 0 and out[0]["group_size"] == 2


def test_exact_dedup_single_nonstring_column(spark):
    """Single numeric/date dedup keys must work: sha2 only accepts
    string/binary, so a single non-string column has to route through the
    to_json(struct) path like multi-column keys do (r5 regression: a bare
    sha2(bigint) raised DATATYPE_MISMATCH at plan time)."""
    df = spark.createDataFrame(
        [(0, 10, None), (1, 10, None), (2, 20, 5.5), (3, 30, 5.5), (4, None, 5.5)],
        "id long, category long, score double",
    )
    ids = sorted(r["id"] for r in D.exact_dedup(df, ["category"], "id").collect())
    assert ids == [0, 2, 3, 4]  # 10-dup collapsed; NULL kept as its own group
    groups = D.duplicate_groups(df, ["category"], "id").collect()
    assert len(groups) == 1 and groups[0]["canonical_id"] == 0
    # doubles too (and NULL doubles dedup as one group)
    ids = sorted(r["id"] for r in D.exact_dedup(df, ["score"], "id").collect())
    assert ids == [0, 2]


def test_shingles_match_python(dup_docs):
    sh = D.shingles(dup_docs, "doc_id", "text", n=3)
    got = {}
    for r in sh.collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    for r in dup_docs.collect():
        assert got.get(r["doc_id"], set()) == py_shingles(r["text"]), r["doc_id"]


def test_jaccard_pairs_match_python(dup_docs):
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    expected = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        j = py_jaccard(py_shingles(texts[a]), py_shingles(texts[b]))
        if j >= 0.5:
            expected[(a, b)] = j
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(dup_docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert set(got) == set(expected)
    for k in got:
        assert got[k] == pytest.approx(expected[k], rel=1e-12)


def test_minhash_equals_exact_jaccard(dup_docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(dup_docs, "doc_id", "text", threshold=0.8).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(
            dup_docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert mh == exact  # P(miss) ≈ 5e-8 at these params


def test_minhash_on_documents_table(documents):
    """Real corpus: minhash-verified pairs ≡ exact pairs (recall check)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.jaccard_pairs(documents, "doc_id", "text", threshold=0.8).collect()
    }
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(documents, "doc_id", "text", threshold=0.8).collect()
    }
    assert set(mh) == set(exact)
    for k in mh:
        assert mh[k] == pytest.approx(exact[k], rel=1e-12)


def test_simhash_near_dups(dup_docs):
    out = D.simhash_near_dup_pairs(dup_docs, "doc_id", "text", max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs  # identical docs → hamming 0
    hams = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert hams[(0, 1)] == 0


def test_simhash_signature_deterministic(dup_docs):
    s1 = {r["id"]: r["simhash"] for r in D.simhash_signatures(dup_docs, "doc_id", "text").collect()}
    s2 = {r["id"]: r["simhash"] for r in D.simhash_signatures(dup_docs, "doc_id", "text").collect()}
    assert s1 == s2
    assert s1[0] == s1[1]  # identical text → identical signature


def test_minhash_pairs_partition_invariant(spark, documents):
    """Deterministic hashes + exact verification => identical output at any
    partitioning (the reference's single/multi split made this the
    highest-value property — SURVEY §5.2)."""
    from sparkglm_spark.operators.dedup import minhash_dedup_pairs

    def pairs(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in minhash_dedup_pairs(df, "doc_id", "text", threshold=0.8).collect()
        )

    a = pairs(documents.repartition(2))
    b = pairs(documents.repartition(12))
    assert a == b and len(a) >= 0


def test_exact_dedup_partition_invariant(spark, documents):
    from sparkglm_spark.operators.dedup import exact_dedup_hashed

    def winners(df):
        return sorted(
            r["doc_id"] for r in exact_dedup_hashed(df, "text", "doc_id").collect()
        )

    assert winners(documents.repartition(3)) == winners(documents.repartition(9))


def test_jaccard_hot_shingle_cap_opt_in_preserves_testdata_result(spark, documents):
    """The cap is opt-in (default None = exact contract); on corpora where
    no shingle exceeds the cap, capped and default agree exactly."""
    from sparkglm_spark.operators.dedup import jaccard_pairs

    capped = jaccard_pairs(
        documents, "doc_id", "text", n=3, threshold=0.8, max_docs_per_shingle=1000
    )
    exact = jaccard_pairs(documents, "doc_id", "text", n=3, threshold=0.8)
    assert sorted(map(tuple, capped.collect())) == sorted(map(tuple, exact.collect()))


def test_jaccard_hot_shingle_cap_warns_on_drop(spark, caplog):
    """When the opt-in cap actually drops shingles the result is approximate
    — that must surface as an unconditional WARNING, not an opt-in INFO."""
    import logging

    from sparkglm_spark.operators.dedup import jaccard_pairs

    # 4 docs sharing shingle "abc" -> df_cnt 4 > cap 2 -> dropped + warn
    docs = spark.createDataFrame(
        [(i, "abcd" + "xyz"[i % 3]) for i in range(4)], ["doc_id", "text"]
    )
    with caplog.at_level(logging.WARNING, logger="sparkglm_spark.operators.dedup"):
        jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.1, max_docs_per_shingle=2
        ).collect()
    assert any("approximate" in r.message for r in caplog.records)


def _at_scale(monkeypatch):
    """Route minhash_dedup_pairs to its at-scale (HLL-first) branch by
    making the shared size gate report the input as too big to probe."""
    monkeypatch.setattr(D, "too_big_to_probe", lambda df: True)


def _strategy(cached):
    """Which physical plan a minhash_dedup_pairs call chose, from the
    column sets of the frames it persisted: the bitmap plans cache a `bm`
    table, the LSH plans a (band, bucket) table."""
    bitmaps = any("bm" in c for c in cached)
    lsh = any("bucket" in c for c in cached)
    if not bitmaps:
        return "lsh+inverted"
    return "lsh+bitmap" if lsh else "allpairs"


def test_minhash_planner_strategies_agree(spark, documents, monkeypatch):
    """The cost-based planner picks between three physical strategies
    (exact all-pairs bitmaps / LSH + bitmap verify / LSH + inverted-index
    verify) on two branches (probed / at-scale HLL-first). They implement
    ONE contract — force each path on the same corpus and require
    identical pairs. Every path reads ONE persisted per-doc shingle-set
    frame: each call caches exactly one frame with the `shingles` array
    column and never an exploded `shingle` copy (two corpus-sized caches
    would double executor storage at scale)."""
    docs = documents.limit(120).persist()
    vocab = D.shingles(docs, "doc_id", "text").select("shingle").distinct().count()

    def pairs(expect):
        before = D._CACHES.frames()
        out = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
        cached = [
            f.columns for f in D._CACHES.frames() if not any(f is b for b in before)
        ]
        assert sum("shingles" in c for c in cached) == 1, cached
        assert not any("shingle" in c for c in cached), cached
        assert _strategy(cached) == expect, cached
        return {(r.id_a, r.id_b): round(r.jaccard, 9) for r in out.collect()}

    def forced(expect, **consts):
        with monkeypatch.context() as m:
            for name, value in consts.items():
                m.setattr(D, name, value)
            return pairs(expect)

    try:
        brute = pairs("allpairs")  # small corpus + tiny vocab
        assert brute, "fixture produced no near-dup pairs; test is vacuous"
        results = {
            "probed lsh+bitmap": forced("lsh+bitmap", _BRUTE_ALLPAIRS_MAX_DOCS=0),
            "probed lsh+bitmap, unbroadcast": forced(
                "lsh+bitmap", _BRUTE_ALLPAIRS_MAX_DOCS=0, _BITMAP_BROADCAST_MAX_BYTES=0
            ),
            # vocab probe maxes out → inverted-index verify
            "probed lsh+inverted": forced("lsh+inverted", _BITMAP_MAX_VOCAB=0),
        }
        _at_scale(monkeypatch)
        results.update({
            # small HLL estimate → bounded vocab probe → bitmap verify
            "at-scale lsh+bitmap": forced("lsh+bitmap"),
            # estimate within the 1.2× headroom, exact probe over the cap
            "at-scale probe over cap": forced("lsh+inverted", _BITMAP_MAX_VOCAB=vocab - 1),
            # large estimate rules the bitmap plan out without a probe
            "at-scale lsh+inverted": forced("lsh+inverted", _BITMAP_MAX_VOCAB=0),
        })
        for name, got in results.items():
            assert got == brute, name
    finally:
        docs.unpersist()


def test_too_big_to_probe_gate(documents, monkeypatch):
    """The one size gate: free partition count for scans, the optimizer's
    size estimate for exchange-bearing plans, and bounded_row_probe
    reports cap+1 without counting when it fires unless told to count."""
    import sparkglm_spark.plans.partitioning as P

    agg = documents.groupBy("source").count()
    n = documents.count()
    for df in (documents, agg):
        assert not P.too_big_to_probe(df)
    assert P.bounded_row_probe(documents, 5) == 6
    assert P.bounded_row_probe(documents, 10**9) == n
    monkeypatch.setattr(P, "_PROBE_MAX_PARTITIONS", 0)
    for df in (documents, agg):
        assert P.too_big_to_probe(df)
    assert P.bounded_row_probe(documents, 10**9) == 10**9 + 1
    assert P.bounded_row_probe(documents, 10**9, always_count=True) == n


def test_bitmap_packer_rejects_shingles_outside_vocab(spark):
    """The packer sizes its long array from the planner's vocab: a shingle
    missing from it (the input changed between the probe and execution)
    must fail loudly, not pack into a silently truncated bitmap."""
    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdeg")], "doc_id long, text string"
    )
    sets = D._shingle_sets(docs, "doc_id", "text", 3)
    with pytest.raises(Exception, match="absent from the planner's vocab scan"):
        D._bitmap_pairs_from_sets(sets, ["abc", "bcd"], 0.5).collect()


def test_short_and_empty_texts_yield_no_shingles_any_strategy(spark):
    """Texts shorter than n have no n-grams: the JVM shingles() (guarded
    against Spark's descending sequence(1,0)), the Python brute-path twin,
    and the DuckDB range() oracles must all agree those docs produce no
    shingles and no pairs."""
    import sparkglm_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, ""), (4, ""), (5, None),
         (6, "abcabc"), (7, "abcabc")],
        "doc_id long, text string",
    )
    sh = {(r.id, r.shingle) for r in D.shingles(docs, "doc_id", "text", n=3).collect()}
    assert {i for i, _ in sh} == {6, 7}
    # brute plan (default for this tiny corpus)
    brute = {(r.id_a, r.id_b) for r in
             D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    assert brute == {(6, 7)}
    # jaccard inverted-index plan agrees
    jac = {(r.id_a, r.id_b) for r in
           D.jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    assert jac == {(6, 7)}


def test_brute_plan_handles_empty_vocab(spark):
    import sparkglm_spark.operators.dedup as D

    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "jaccard"]


def test_at_scale_plan_handles_empty_vocab(spark, monkeypatch):
    """The at-scale branch sees a zero HLL estimate and an empty exact
    vocab; it must return an empty pair frame without running any
    strategy (no LSH bucket table, no bitmaps)."""
    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None)], "doc_id long, text string"
    )
    _at_scale(monkeypatch)
    before = D._CACHES.frames()
    out = D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    cached = [f.columns for f in D._CACHES.frames() if not any(f is b for b in before)]
    assert cached == [["id", "shingles"]]
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "jaccard"]


def test_simhash_excludes_empty_docs(spark):
    from sparkglm_spark.operators.dedup import simhash_signatures

    docs = spark.createDataFrame(
        [(1, "the same text"), (2, "the same text"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    for mode in ("xxhash64", "portable"):
        ids = {r.id for r in simhash_signatures(docs, "doc_id", "text",
                                                hash_fn=mode).collect()}
        assert ids == {1, 2}, mode


def test_unicode_lowercasing_identical_across_strategies(spark):
    """Lowercasing must happen in exactly one implementation (JVM F.lower)
    for every physical strategy: Python str.lower() full-maps İ→i+combining
    dot and ẞ→ß where JVM semantics can differ, which would make the brute
    bitmap plan disagree with the inverted-index plan on non-ASCII text."""
    import sparkglm_spark.operators.dedup as D

    texts = ["İSTANBUL ẞETA ΣΙΣΥΦΟΣ okay", "Fußball STRASSE ÄÖÜ here",
             "ΑΒΓΔΕΖΗΘΙΚΛΜΝΞ mixed CASE"]
    rows = [(i * 2 + j, t) for i, t in enumerate(texts) for j in (0, 1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    brute = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
             D.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    jac = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
           D.jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()}
    assert brute == jac
    assert {(0, 1), (2, 3), (4, 5)} <= set(brute)


def test_repeated_invocations_do_not_accumulate_caches(spark, documents):
    """The planner persists shingle frames for intra-plan reuse; each new
    top-level invocation must release the previous one's caches (a corpus-
    shard loop would otherwise pin executor storage without bound)."""
    from sparkglm_spark.operators.dedup import _CACHES, minhash_dedup_pairs

    minhash_dedup_pairs(documents, "doc_id", "text").count()
    first = len(_CACHES)
    assert first > 0  # the planner did register its reuse caches
    prior = _CACHES.frames()
    for _ in range(3):
        minhash_dedup_pairs(documents, "doc_id", "text").count()
    # live caches bounded at keep_last (=2) invocations' worth
    assert len(_CACHES) <= 2 * first
    # every frame from the FIRST invocation is actually uncached now
    # (ensure_parallel's localCheckpoint RDDs are separate and reclaimed
    # by the ContextCleaner once unreferenced — not asserted here)
    for cached in prior:
        lvl = cached.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)


def test_direct_lsh_candidates_calls_are_cache_bounded(spark, documents):
    """minhash_lsh_candidates is public API; called directly in a loop it
    must age out its own cache groups like the other top-level ops."""
    from sparkglm_spark.operators.dedup import (
        _CACHES, minhash_lsh_candidates, minhash_signatures, shingles,
    )

    sh = shingles(documents.limit(50), "doc_id", "text")
    sig = minhash_signatures(sh)
    # identical plans re-persist into the SAME CacheManager entry, so an
    # old frame's storageLevel can look live after a newer call re-caches
    # it — boundedness shows in the persistent-RDD count instead
    minhash_lsh_candidates(sig).count()
    n_after_first = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(4):
        minhash_lsh_candidates(sig).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= n_after_first


def test_exact_dedup_random_corpora_match_python_twin(spark):
    """Seeded random corpora with heavy duplication: the fingerprint
    keeper selection (winners AND group summary) must equal a pure-python
    dict oracle — including multi-column keys, null texts, and the
    non-broadcast fallback path."""
    import random

    rng = random.Random(1205)
    vocab = ["alpha", "beta", "gamma", "delta", None]
    rows = []
    for i in range(300):
        # ~40% duplicates by construction; ids shuffled so min-key winners
        # are not simply the first-seen row
        t = rng.choice(vocab) if rng.random() < 0.3 else f"doc body {rng.randrange(40)}"
        lang = rng.choice(["en", "de"])
        rows.append((i * 7 % 2099, t, lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def py_winners(key_of):
        best = {}
        for did, t, lang in rows:
            k = key_of(t, lang)
            if k not in best or did < best[k]:
                best[k] = did
        return sorted(best.values())

    from sparkglm_spark.operators import dedup as D

    got = sorted(r["doc_id"] for r in D.exact_dedup_hashed(df, "text", "doc_id").collect())
    assert got == py_winners(lambda t, lang: t)

    got_nb = sorted(
        r["doc_id"]
        for r in D.exact_dedup_hashed(
            df, "text", "doc_id", broadcast_drop_list=False
        ).collect()
    )
    assert got_nb == got

    got2 = sorted(
        r["doc_id"] for r in D.exact_dedup(df, ["text", "lang"], "doc_id").collect()
    )
    assert got2 == py_winners(lambda t, lang: (t, lang))

    groups = {}
    for did, t, lang in rows:
        groups.setdefault(t, []).append(did)
    want_groups = sorted(
        (min(ids), len(ids)) for ids in groups.values() if len(ids) > 1
    )
    got_groups = sorted(
        (r["canonical_id"], r["group_size"])
        for r in D.duplicate_groups(df, ["text"], "doc_id").collect()
    )
    assert got_groups == want_groups


def test_exact_dedup_incremental_matches_python(spark):
    """Batch-vs-index dedup: rows colliding with the known index drop, the
    within-batch winners are min-key, and the composition over two batches
    equals a full-corpus dedup."""
    from sparkglm_spark.operators.dedup import (
        content_fingerprints,
        exact_dedup_hashed,
        exact_dedup_incremental,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "alpha")],
        "doc_id long, text string",
    )
    s1 = exact_dedup_hashed(b1, "text", "doc_id")
    idx = content_fingerprints(s1, "text", "doc_id")
    s2 = exact_dedup_incremental(b2, idx, "text", "doc_id")
    got = sorted(r["doc_id"] for r in s2.collect())
    assert got == [11]  # beta/alpha known; gamma keeps min key 11

    # composition == full dedup of the union
    full = exact_dedup_hashed(b1.unionByName(b2), "text", "doc_id")
    union_ids = sorted(r["doc_id"] for r in s1.collect()) + got
    assert sorted(union_ids) == sorted(r["doc_id"] for r in full.collect())

    # non-broadcast path agrees
    nb = exact_dedup_incremental(
        b2, idx, "text", "doc_id", broadcast_drop_list=False
    )
    assert sorted(r["doc_id"] for r in nb.collect()) == got


# ---------------------------------------------------------------------------
# Incremental near-dup (minhash index)
# ---------------------------------------------------------------------------


def test_minhash_index_round_trips_signatures(documents):
    idx = D.minhash_index(documents, "doc_id", "text")
    rows = idx.limit(5).collect()
    assert all(len(r["sig"]) == 128 for r in rows)
    # deterministic: rebuilding yields identical signatures
    again = {r["id"]: r["sig"] for r in D.minhash_index(
        documents, "doc_id", "text").collect()}
    for r in idx.collect():
        assert again[r["id"]] == r["sig"]


def test_minhash_match_pairs_recall_and_precision(documents):
    """Cross-matching odd-id docs against an even-id index at threshold 1:
    identical shingle sets agree on every permutation, so est = 1 pairs
    must COVER all cross-parity set-equal pairs (recall 1, deterministic).
    est = 1 does NOT imply set equality — a j≈0.99 pair agrees on all 128
    mins with probability j^128 ≈ 0.28, and this small-vocab corpus has
    such pairs — so precision is asserted as exact Jaccard ≥ 0.95 for
    every emitted pair, not set identity."""
    ref = documents.where(F.col("doc_id") % 2 == 0)
    new = documents.where(F.col("doc_id") % 2 == 1)
    idx = D.minhash_index(ref, "doc_id", "text")
    new_idx = D.minhash_index(new, "doc_id", "text")
    got = {
        (r["id_new"], r["id_known"])
        for r in D.minhash_match_pairs(new_idx, idx, threshold=1.0).collect()
    }
    sets = {
        r["doc_id"]: frozenset(
            r["text"].lower()[i : i + 3] for i in range(len(r["text"]) - 2)
        )
        for r in documents.select("doc_id", "text").collect()
        if r["text"] and len(r["text"]) >= 3
    }
    expect = {
        (i, j)
        for i in sets
        for j in sets
        if i % 2 == 1 and j % 2 == 0 and sets[i] == sets[j]
    }
    # recall: every set-equal cross pair is found (vacuous at SFs where
    # the planted duplicates never span the parity split — got > 0 still
    # proves the near-identical pairs surface)
    assert got >= expect and len(got) > 0
    for i, j in got:
        jac = len(sets[i] & sets[j]) / len(sets[i] | sets[j])
        assert jac >= 0.95, (i, j, jac)


def test_minhash_dedup_against_drops_matched_new_docs(documents):
    ref = documents.where(F.col("doc_id") % 2 == 0)
    new = documents.where(F.col("doc_id") % 2 == 1)
    idx = D.minhash_index(ref, "doc_id", "text")
    hits = D.minhash_match_pairs(
        D.minhash_index(new, "doc_id", "text"), idx, threshold=1.0
    )
    matched = {r["id_new"] for r in hits.collect()}
    kept = {
        r["doc_id"]
        for r in D.minhash_dedup_against(
            new, idx, "doc_id", "text", threshold=1.0
        ).collect()
    }
    all_new = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert kept == all_new - matched and matched


def test_minhash_match_est_jaccard_tracks_exact(spark):
    """Estimator sanity on non-identical near-dups: est within 4σ of the
    exact Jaccard for a pair sharing most shingles."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    variant = base[:-10] + " extra tail"
    df = spark.createDataFrame(
        [(1, base), (2, variant)], "doc_id long, text string"
    )
    idx1 = D.minhash_index(df.where("doc_id = 1"), "doc_id", "text")
    idx2 = D.minhash_index(df.where("doc_id = 2"), "doc_id", "text")
    got = D.minhash_match_pairs(idx2, idx1, threshold=0.0, bands=32).collect()
    assert len(got) == 1
    s1 = {base.lower()[i : i + 3] for i in range(len(base) - 2)}
    s2 = {variant.lower()[i : i + 3] for i in range(len(variant) - 2)}
    exact = len(s1 & s2) / len(s1 | s2)
    sigma = (exact * (1 - exact) / 128) ** 0.5
    assert abs(got[0]["est_jaccard"] - exact) <= 4 * sigma + 1e-9


def test_minhash_match_pairs_never_joins_signatures_through_bands(documents, monkeypatch):
    """The exchange plan's banded fan-out must carry (id, band, bucket)
    only — the ~1KB signature arrays enter the two final id-equi joins,
    not the exploded candidate join. A zero doc cap forces the exchange
    plan (the kernel path has no exchanges to inspect)."""
    from sparkglm_spark.plans.inspect import exchange_schemas

    monkeypatch.setattr(D, "_BRUTE_ALLPAIRS_MAX_DOCS", 0)
    ref = documents.where(F.col("doc_id") % 2 == 0)
    new = documents.where(F.col("doc_id") % 2 == 1)
    out = D.minhash_match_pairs(
        D.minhash_index(new, "doc_id", "text"),
        D.minhash_index(ref, "doc_id", "text"),
        threshold=0.9,
    )
    banded = [
        ex
        for ex in exchange_schemas(out)
        if "band" in ex["columns"] or "bucket" in ex["columns"]
    ]
    assert banded, "expected the banded candidate exchange"
    for ex in banded:
        assert "sig" not in ex["columns"] and "__sa" not in ex["columns"]


def test_minhash_match_hot_bucket_cap(spark, caplog):
    """The cap drops hot buckets (WARNING) but keeps pairs whose buckets
    stay cold: 30 identical stop-gram docs per side flood their buckets
    past the cap, while one unique near-identical pair survives."""
    import logging

    hot_text = "xyzxyzxyzxyzxyzxyz"
    uniq = "the unique sentinel document about spark clusters and parquet"
    ref = spark.createDataFrame(
        [(2 * i, hot_text) for i in range(30)] + [(998, uniq)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2 * i + 1, hot_text) for i in range(30)] + [(999, uniq)],
        "doc_id long, text string",
    )
    idx = D.minhash_index(ref, "doc_id", "text")
    nidx = D.minhash_index(new, "doc_id", "text")
    with caplog.at_level(logging.WARNING):
        capped = {
            (r["id_new"], r["id_known"])
            for r in D.minhash_match_pairs(
                nidx, idx, threshold=1.0, max_docs_per_bucket=5
            ).collect()
        }
    assert any("band buckets" in r.message for r in caplog.records)
    assert capped == {(999, 998)}  # hot-doc pairs capped away, cold pair kept
    # uncapped finds the hot pairs too
    full = {
        (r["id_new"], r["id_known"])
        for r in D.minhash_match_pairs(nidx, idx, threshold=1.0).collect()
    }
    assert (999, 998) in full and len(full) == 30 * 30 + 1


def _kernel_match(new_idx, known_idx, **kw):
    """minhash_match_pairs on the kernel path, asserting its single-scan
    invariant: the call caches no frame, and the result plan has no
    exchange (the known index is streamed once, never shuffled)."""
    from sparkglm_spark.plans.inspect import exchange_schemas

    before = D._CACHES.frames()
    out = D.minhash_match_pairs(new_idx, known_idx, **kw)
    added = [f for f in D._CACHES.frames() if not any(f is b for b in before)]
    assert not added, [f.columns for f in added]
    assert exchange_schemas(out) == []
    return out


def test_minhash_match_empty_sides(spark, documents, tmp_path):
    """Empty new batch or empty index → empty matches, no errors, on the
    kernel path (no cache, no exchange)."""
    D.minhash_index(documents, "doc_id", "text").write.parquet(str(tmp_path / "idx"))
    idx = spark.read.parquet(str(tmp_path / "idx"))
    empty = idx.where("id < 0")
    assert _kernel_match(empty, idx).count() == 0
    assert _kernel_match(idx, empty).count() == 0
    # dedup against an empty index keeps everything
    kept = D.minhash_dedup_against(
        documents, empty, "doc_id", "text"
    ).count()
    assert kept == documents.count()


def test_banding_validation(documents):
    idx = D.minhash_index(documents.limit(5), "doc_id", "text")
    for bad in (0, 48, 200):
        with pytest.raises(ValueError, match="bands"):
            D.minhash_match_pairs(idx, idx, bands=bad).collect()
    with pytest.raises(ValueError, match="bands"):
        D.minhash_lsh_candidates(
            D.minhash_signatures(D.shingles(documents.limit(5), "doc_id", "text")),
            bands=3,
        )


def test_index_signatures_equal_wide_signatures_portable(documents):
    """The Arrow index path and the wide-column groupBy path must stay
    bit-identical in BOTH hash modes — guards future refactors of either."""
    sh = D.shingles(documents, "doc_id", "text")
    for mode in ("xxhash64", "portable"):
        wide = {
            r["id"]: [r[f"mh_{i}"] for i in range(128)]
            for r in D.minhash_signatures(sh, hash_fn=mode).collect()
        }
        arr = {
            r["id"]: list(r["sig"])
            for r in D.minhash_index(documents, "doc_id", "text", hash_fn=mode).collect()
        }
        assert wide == arr, mode


def _sorted_rows(df):
    return (
        df.toPandas()
        .sort_values(["id_new", "id_known"])
        .reset_index(drop=True)
    )


def _assert_same_rows(got, want):
    assert len(got) == len(want) and len(got) > 0
    assert got["id_new"].tolist() == want["id_new"].tolist()
    assert got["id_known"].tolist() == want["id_known"].tolist()
    assert got["est_jaccard"].tolist() == want["est_jaccard"].tolist()


@pytest.fixture(scope="module")
def match_indexes(spark, documents, tmp_path_factory):
    """Parquet-backed (new, known) indexes in the ingest shape: a quarter
    of the docs form the batch, the rest the known index."""
    base = tmp_path_factory.mktemp("match")
    out = []
    for name, cond in (("new", "doc_id % 4 = 1"), ("known", "doc_id % 4 != 1")):
        D.minhash_index(documents.where(cond), "doc_id", "text").write.parquet(
            str(base / name)
        )
        out.append(spark.read.parquet(str(base / name)))
    return tuple(out)


def test_match_pairs_arrow_and_exchange_paths_agree(documents, monkeypatch):
    """The numpy kernel must produce the same (id_new, id_known,
    est_jaccard) rows as the exchange-based LSH plan (forced by a zero
    doc cap) — est bit-identical."""
    odd = documents.where(documents.doc_id % 2 == 1)
    even = documents.where(documents.doc_id % 2 == 0)
    idx_new = D.minhash_index(odd, "doc_id", "text")
    idx_known = D.minhash_index(even, "doc_id", "text")
    fast = _sorted_rows(
        D.minhash_match_pairs(idx_new, idx_known, threshold=0.6, bands=16)
    )
    monkeypatch.setattr(D, "_BRUTE_ALLPAIRS_MAX_DOCS", 0)
    slow = _sorted_rows(
        D.minhash_match_pairs(idx_new, idx_known, threshold=0.6, bands=16)
    )
    _assert_same_rows(fast, slow)


def test_match_pairs_ingest_shape_paths_agree(match_indexes, monkeypatch):
    """The ingest shape: the known index is over the doc cap and the new
    batch under it. The kernel streams the over-cap known side; a cap
    just below the batch size forces the exchange plan. Same rows."""
    new, known = match_indexes
    n_new = new.count()
    assert known.count() > n_new
    monkeypatch.setattr(D, "_BRUTE_ALLPAIRS_MAX_DOCS", n_new)
    fast = _sorted_rows(_kernel_match(new, known, threshold=0.6, bands=16))
    monkeypatch.setattr(D, "_BRUTE_ALLPAIRS_MAX_DOCS", n_new - 1)
    slow = _sorted_rows(D.minhash_match_pairs(new, known, threshold=0.6, bands=16))
    _assert_same_rows(fast, slow)


@pytest.mark.parametrize("rows_per_block", [1, 2, 3])
def test_match_pairs_kernel_blocks_agree(match_indexes, monkeypatch, rows_per_block):
    """The op budget bounds the kernel's streamed blocks to
    budget // (num_perm · n_new) rows; blocks of 1-3 rows must give the
    rows of the default (one block per Arrow batch)."""
    new, known = match_indexes
    want = _sorted_rows(_kernel_match(new, known, threshold=0.6, bands=16))
    monkeypatch.setattr(
        D, "_BRUTE_ALLPAIRS_OPS_BUDGET", 128 * new.count() * rows_per_block
    )
    got = _sorted_rows(_kernel_match(new, known, threshold=0.6, bands=16))
    _assert_same_rows(got, want)
