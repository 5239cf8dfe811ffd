"""Deduplication operators for training-data pipelines, designed shuffle-
first for 100 TB:

- exact_dedup       sha2-256 fingerprint projection → groupBy-min keeper →
                    broadcast anti-join of loser keys (the content column
                    never enters an exchange)
- shingle/jaccard   inverted index (shingle → docs) self-join; frequent-
                    shingle cap bounds the pair blow-up (standard prefix-
                    filtering trick)
- minhash_lsh       one persisted per-doc shingle-set frame feeds
                    everything: zero-shuffle Arrow signatures → band
                    bucket self-join for candidates → exact-Jaccard
                    verification (packed bitmaps for tiny vocabularies,
                    candidate ⋈ exploded sets otherwise); tiny-vocab small
                    corpora skip LSH for exact all-pairs bitmaps
- simhash           64-bit sign-aggregated token-hash signature, JVM-side
                    (64 sum aggs), chunk-banded candidate join for
                    Hamming ≤ 3

All stages are DataFrame ops (hash partial aggs, AQE-sized shuffles,
broadcastable small sides). No Python in any row loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.caching import CacheRegistry
from sparkglm_spark.plans.partitioning import ensure_parallel, too_big_to_probe

# Caches persisted by the pair-finding operators for intra-plan reuse
# (probe → strategy → verification all read the same shingle scan); each
# top-level operator invocation releases the previous one's — see
# plans/caching.py for the lifecycle rationale.
_CACHES = CacheRegistry()
_op_persist = _CACHES.persist

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _content_fp(df: DataFrame, cols: list[str]) -> Column:
    """Collision-proof 256-bit content fingerprint. sha2-256, NOT xxhash64:
    64-bit fingerprints birthday-collide near 2³² rows, which is exactly
    the regime a 100 TB corpus lives in; 256 bits make hash-equality a safe
    stand-in for value-equality, so no stage downstream ever has to touch
    the raw content again. Single string/binary columns hash directly
    (sha2's input domain); anything else — multi-column keys, and single
    columns of numeric/date/complex type, which sha2 rejects with
    DATATYPE_MISMATCH — goes through to_json(struct) (injective per fixed
    schema: values escape, null fields drop out deterministically). The
    dtype check is why this takes the DataFrame, not bare Columns."""
    dtypes = dict(df.dtypes)
    if len(cols) == 1 and dtypes.get(cols[0]) in ("string", "binary"):
        payload = F.col(cols[0])
    else:
        payload = F.to_json(F.struct(*[F.col(c) for c in cols]))
    # NULL content must dedup as ONE group (GROUP BY / window-partition
    # semantics treat NULLs as equal) but sha2(NULL) is NULL and the
    # drop-list equi-join would never match it — every NULL-content
    # duplicate would survive. A non-hex sentinel cannot collide with a
    # real 64-hex-char digest. (Caught by the random-corpus twin test.)
    return F.coalesce(F.sha2(payload, 256), F.lit("<NULL>"))


def _dedup_drop_list(
    df: DataFrame, fp: Column, key_col: str
) -> DataFrame:
    """The (tiny) list of keys to DROP: every member of a duplicate
    fingerprint group except the min-key winner.

    Every exchange here carries ~40-byte (fingerprint, key) rows — never
    the content. Plan: project (fp, key) off the scan → partial-aggregable
    groupBy(fp).min(key) → re-join the projection to the >1-member groups
    on fp (both sides are the tiny projection; the groupBy's exchange is
    reused) → keep keys ≠ winner."""
    proj = df.select(fp.alias("__fp"), F.col(key_col).alias("__k"))
    dup_groups = (
        proj.groupBy("__fp")
        .agg(F.min("__k").alias("__keep"), F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("__fp", "__keep")
    )
    return (
        proj.join(dup_groups, "__fp")
        .where(F.col("__k") != F.col("__keep"))
        .select(F.col("__k").alias(key_col))
    )


def _drop_keys(df: DataFrame, drop: DataFrame, key_col: str, broadcast_drop_list: bool) -> DataFrame:
    side = F.broadcast(drop) if broadcast_drop_list else drop
    return df.join(side, key_col, "left_anti")


def exact_dedup(
    df: DataFrame,
    cols: list[str],
    key_col: str,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """Keep, per duplicate group over `cols`, the row with the smallest
    `key_col` (deterministic winner; `key_col` must be unique — an id).

    No full rows ever cross the wire: a (sha2-256 fingerprint, key)
    projection is what shuffles (groupBy-min keeper selection —
    `_dedup_drop_list`), and the loser keys come back as a broadcast
    anti-join, so the corpus itself never exchanges. With
    `broadcast_drop_list=False` (corpora whose duplicate count outgrows
    the driver) the anti-join becomes a shuffled join — the unavoidable
    cost of an arbitrarily large drop list; prefer re-running per
    partition-pruned slice at that scale."""
    drop = _dedup_drop_list(df, _content_fp(df, cols), key_col)
    return _drop_keys(df, drop, key_col, broadcast_drop_list)


def exact_dedup_hashed(
    df: DataFrame,
    text_col: str,
    key_col: str,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """Exact text dedup shuffling only (fingerprint, key): sha2-256 the
    text, groupBy(fp).min(key) picks the keeper, and the loser keys return
    as a broadcast anti-join — the text column never enters an exchange
    (plan-asserted in tests/test_plans.py). Same winners as `exact_dedup`
    on the text column; `key_col` must be unique."""
    return exact_dedup(df, [text_col], key_col, broadcast_drop_list)


def duplicate_groups(
    df: DataFrame,
    cols: list[str],
    key_col: str,
    broadcast_groups: bool = True,
) -> DataFrame:
    """Summary of duplicate groups: the group's `cols` values + canonical
    (min) key + group size, only groups with >1 member.

    The aggregation runs over the (fingerprint, key) projection — partial
    aggregation applies and the content never shuffles; the `cols` values
    are recovered by joining the duplicate-group list back onto the corpus
    at the canonical row. `broadcast_groups=True` (default) hints that
    join — right for the usual small dup-group count; set False for
    corpora whose duplicate-group list outgrows the driver (the join then
    shuffles, which is the unavoidable cost of recovering content for an
    arbitrarily large group list)."""
    fp = _content_fp(df, cols)
    groups = (
        df.select(fp.alias("__fp"), F.col(key_col).alias("__k"))
        .groupBy("__fp")
        .agg(F.min("__k").alias("canonical_id"), F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") > 1)
        .select("canonical_id", "group_size")
    )
    side = F.broadcast(groups) if broadcast_groups else groups
    return (
        df.join(side, df[key_col] == groups["canonical_id"])
        .select(*cols, "canonical_id", "group_size")
    )


# ---------------------------------------------------------------------------
# character shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _size_prefilter(threshold: float, a: str = "sz_a", b: str = "sz_b") -> Column:
    """EXACT size prefilter shared by every pair verifier: jaccard ≥ t
    forces |∩| ≤ min(|A|,|B|) hence min/max ≥ t, so two integer
    comparisons reject size-mismatched pairs before any popcount /
    intersection join runs. ONE definition on purpose — four hand-kept
    copies could silently drift (the _grams_expr lesson)."""
    return (F.col(a) * F.lit(float(threshold)) <= F.col(b)) & (
        F.col(b) * F.lit(float(threshold)) <= F.col(a)
    )


def _grams_expr(t: Column, n: int) -> Column:
    """Distinct character n-gram array of an ALREADY-LOWERCASED column —
    the ONE definition both the explode path (`shingles`) and the
    set-keeping planner path (`_shingle_sets`) compile; two hand-kept
    copies could silently drift the bitmap plan from the explode plan.

    sequence 1..len-n+1 → substr positions; transform is JVM-side. Texts
    shorter than n yield NO shingles (the when-guard matters:
    sequence(1, 0) is DESCENDING [1, 0] in Spark, which would emit
    partial shingles for short texts — diverging from the DuckDB range()
    oracles). Per-doc dedup happens in the array (array_distinct) — the
    set is per-document, so a global .distinct() downstream would be a
    full shuffle for nothing. The caller must lower in its own projection
    BELOW this transform: a lower() referenced inside the lambda
    re-evaluates per position (no CSE across lambda scopes) — O(len²)
    per doc, measured 3× slower."""
    return F.when(
        F.length(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    lowercase: bool = True,
    with_sizes: bool = False,
) -> DataFrame:
    """Distinct character n-gram shingles per doc: (id, shingle). With
    `with_sizes`, each exploded row also carries the doc's shingle-set
    size `sz` — free at generation time (the array length is known before
    the explode), which lets pair-join consumers size-prefilter WITHOUT a
    per-doc sizes join (at scale, that join is a corpus-sized shuffle or
    an impossible broadcast)."""
    # tiny inputs arrive as one split → the whole shingle/signature chain
    # would run on one core; fan out first (no-op at real scale)
    pre = ensure_parallel(df).select(
        F.col(id_col).alias("id"),
        (F.lower(F.col(text_col)) if lowercase else F.col(text_col)).alias("__t"),
    )
    if not with_sizes:
        return pre.select(
            "id", F.explode(_grams_expr(F.col("__t"), n)).alias("shingle")
        )
    g = pre.select("id", _grams_expr(F.col("__t"), n).alias("__g"))
    return g.select(
        "id", F.size("__g").alias("sz"), F.explode("__g").alias("shingle")
    )


@_CACHES.scoped
def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_docs_per_shingle: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with n-gram Jaccard ≥ threshold.

    Plan shape: explode (each row carrying the doc's set size — computed
    before the explode, so there is NO per-doc sizes join anywhere),
    optional hot-shingle cap, self-join on shingle (AQE-skew-handled) with
    an exact size prefilter in the join condition (jaccard ≥ t forces
    min(|A|,|B|)/max ≥ t — size-mismatched pairs never reach the pair
    aggregation), pair-count aggregation with the sizes riding the
    grouping keys. Jaccard = |∩| / (|A|+|B|−|∩|) — exact integer counts,
    single final division.

    `max_docs_per_shingle` (default None = exact: the contract above holds
    for EVERY pair) drops shingles shared by more docs than the cap BEFORE
    the self-join: a shingle in d docs contributes d² candidate pairs, so
    one stop-gram on a 10⁹-doc corpus is an unrunnable join. The cap is
    opt-in because it silently weakens the ≥-threshold contract to
    approximate; callers at scale should set it (1000 is a good value) and
    accept the WARNING log emitted whenever shingles are actually dropped
    (the count costs one bounded aggregation job — you already paid for
    the cap scan). The per-row `sz` is the PRE-cap set size, so capped
    jaccard = capped-|∩| / exact-union is a strict UNDERESTIMATE of exact
    jaccard: the cap can only MISS pairs, never emit a pair whose exact
    jaccard is below the threshold (one-sided error — the r6 rework; the
    earlier post-cap sizes could overshoot).
    """
    sh = shingles(df, id_col, text_col, n=n, with_sizes=True)
    if max_docs_per_shingle is not None:
        # drop shingles present in too many docs (stopword-grams): they add
        # candidate pairs but little similarity signal at scale
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .where(F.col("df_cnt") > max_docs_per_shingle)
            .select("shingle")
        )
        import logging

        # the cap makes hot small by construction; persist so the count
        # below and the anti-join read one computed result, not two full
        # shingle-count aggregations
        hot = _op_persist(hot)
        n_hot = hot.count()
        if n_hot:
            logging.getLogger(__name__).warning(
                "jaccard_pairs: dropping %d shingles shared by > %d docs — "
                "output is approximate (pairs whose overlap was only in "
                "dropped shingles may be missed)",
                n_hot,
                max_docs_per_shingle,
            )
        # no broadcast hint: the hot-shingle list is usually tiny but is
        # not bounded by construction — AQE broadcasts it when it is small
        sh = sh.join(hot, "shingle", "left_anti")
    # materialize before the self-join so both sides read the cache instead
    # of racing to recompute the shingle projection
    sh = _op_persist(sh)
    sh.count()

    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            # rejected pairs never enter the aggregation
            & _size_prefilter(threshold, "a.sz", "b.sz"),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_at_least(common, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE_P = (1 << 61) - 1


def _perm_params(num_perm: int, seed: int) -> tuple[list[int], list[int]]:
    # a < 2^29 and h < 2^32 keep a·h + b < 2^63 (ANSI-safe, no overflow)
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 29, size=num_perm, dtype=np.int64).tolist()
    b = rng.integers(0, _MERSENNE_P, size=num_perm, dtype=np.int64).tolist()
    return a, b


def _portable_shingle_hash(s: Column) -> Column:
    """31-bit engine-portable shingle hash: the simhash char-polynomial
    (channel-0 constants) WITHOUT the 16-bit fold — mod P = 2^31−1 keeps
    enough range that shingle collisions stay negligible while every term
    is reproducible in plain SQL (list_reduce over ord(ch))."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(_SIMHASH_SEED[0]).cast("bigint"),
        lambda acc, ch: (acc * F.lit(_SIMHASH_M[0]) + F.ascii(ch))
        % F.lit(_SIMHASH_P),
    )


def minhash_signatures(
    sh: DataFrame, num_perm: int = 128, seed: int = 42, hash_fn: str = "xxhash64"
) -> DataFrame:
    """MinHash signature per id from a (id, shingle) DataFrame: ONE groupBy
    with num_perm min-aggregations (partial agg map-side → tiny shuffle).

    h_i(s) = (a_i · h32(s) + b_i) mod p  (p = 2^61−1, h32 = xxhash64 folded
    to 32 bits), min over the doc's shingles. xxhash64 is Spark-builtin and
    deterministic across runs/executors. hash_fn='portable' swaps h32 for
    the 31-bit char-polynomial hash (`_portable_shingle_hash`) — slower
    per shingle but reproducible in plain SQL, the oracle mode (the
    simhash convention); a_i·h stays < 2^60 either way (ANSI-safe)."""
    if hash_fn == "portable":
        h = _portable_shingle_hash(F.col("shingle"))
    elif hash_fn == "xxhash64":
        h = F.pmod(F.xxhash64(F.col("shingle")), F.lit(1 << 32))
    else:
        raise ValueError("hash_fn must be 'xxhash64' or 'portable'")
    a, b = _perm_params(num_perm, seed)
    # hash once per row in a projection; the num_perm aggs reuse the column
    # (inlining h32 into every agg re-hashes num_perm× per row)
    pre = sh.select("id", h.alias("__h32"))
    aggs = [
        F.min((F.col("__h32") * F.lit(a[i]) + F.lit(b[i])) % F.lit(_MERSENNE_P)).alias(
            f"mh_{i}"
        )
        for i in range(num_perm)
    ]
    return pre.groupBy("id").agg(*aggs)


@_CACHES.scoped
def minhash_lsh_candidates(
    sig: DataFrame, num_perm: int = 128, bands: int = 32, distinct: bool = True
) -> DataFrame:
    """Band the wide signature (`minhash_signatures`' mh_0..mh_{num_perm-1}
    columns; bands × rows_per_band = num_perm) and bucket-join: docs
    sharing any band bucket are candidates. The columns pack into one
    `sig` array and go through the same band-bucket self-join as the
    planner's array signatures (`_lsh_candidates_from_sigarr`).

    `distinct=False` skips the cross-band pair dedup shuffle — correct (and
    much cheaper) when the downstream verifier is a map-side filter that
    dedups its (tiny) output instead of its (huge) input."""
    sigarr = sig.select(
        "id", F.array(*[F.col(f"mh_{i}") for i in range(num_perm)]).alias("sig")
    )
    return _lsh_candidates_from_sigarr(sigarr, num_perm, bands, distinct)


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) rows with jaccard ≥ threshold from a pair
    frame carrying the intersection `inter` and the set sizes sz_a/sz_b:
    |∩| / (|A|+|B|−|∩|) over exact integer counts, one final division."""
    return (
        pairs.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_pairs_by_shingle_join(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification via the inverted index: candidate pairs ⋈
    the exploded `_shingle_sets` frame. Cost ∝ |candidates| × shingles/doc
    — the scalable path when LSH prunes well (large-vocab corpora:
    candidates ≈ output).

    Candidates are SIZE-PREFILTERED before the expensive shingle join
    (r6): jaccard ≥ t forces min(|A|,|B|)/max ≥ t, so joining the two
    per-doc sizes (`size(shingles)`, a projection of the sets — no
    aggregation) onto each candidate and comparing two ints eliminates
    size-mismatched pairs from the |candidates| × shingles/doc work —
    exact, never drops an eligible pair. The sizes ride the grouping keys
    through the intersection count, so they are joined once, not twice."""
    sizes = sets.select("id", F.size("shingles").alias("sz"))
    sh = sets.select("id", F.explode("shingles").alias("shingle"))
    a = sh.withColumnRenamed("id", "id_a")
    b = sh.withColumnRenamed("id", "id_b")
    # per-doc sizes are corpus-sized: no forced broadcast (AQE decides)
    cand2 = (
        cand.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .where(_size_prefilter(threshold))
    )
    inter = (
        cand2.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_at_least(inter, threshold)


def _popcount_inter_expr(L: int) -> Column:
    """|A∩B| for two packed bitmaps bm_a/bm_b — unrolled AND+popcount that
    stays inside whole-stage codegen (no per-pair array allocation)."""
    return F.expr(" + ".join(f"bit_count(bm_a[{i}] & bm_b[{i}])" for i in range(L)))


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingles array<string>) — each doc's distinct lowercased
    n-gram set, in ONE whole-stage-codegen projection (same
    sequence→substr→array_distinct expression as `shingles`, minus the
    explode; r5 replaced the original Arrow/Python pass — pure-Python
    slicing over the whole corpus owned most of the minhash runtime and
    JVM codegen does the identical set ~5× faster). Sorted for
    deterministic array order; docs with no shingles (len < n) are
    excluded, matching the explode-based `shingles` path.
    `minhash_dedup_pairs` persists this frame as its ONE corpus-sized
    cache: the vocab probe, signatures, bitmaps and the inverted-index
    verify all derive from it, so the shingling runs once."""
    pre = ensure_parallel(df).select(
        F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("__t")
    )
    return pre.select(
        "id", F.sort_array(_grams_expr(F.col("__t"), n)).alias("shingles")
    ).where(F.size("shingles") > 0)


def _vocab_from_sets(sets: DataFrame, limit: int) -> list[str] | None:
    """Distinct shingle vocabulary from a `_shingle_sets` frame IF it is
    small: JVM-side explode + distinct, capped at limit+1 rows. Returns
    None when the vocab exceeds `limit` (large-vocab corpora take the LSH
    plan; driver memory stays bounded either way). Collecting here also
    MATERIALIZES the persisted sets frame, so every later consumer reads
    the cache."""
    rows = (
        sets.select(F.explode("shingles").alias("shingle"))
        .distinct()
        .limit(limit + 1)
        .collect()
    )
    if len(rows) > limit:
        return None
    return sorted(r[0] for r in rows)


def _signatures_from_sets(
    sets: DataFrame,
    num_perm: int = 128,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures from a `_shingle_sets`
    frame — ZERO shuffle: a signature is a pure per-doc function, so the
    shingle array is hashed in one codegen projection and the num_perm
    permutation minima come from a vectorized Arrow pass (per doc, a
    (shingles × perms) numpy broadcast). Replaces the explode →
    num_perm-min-agg groupBy, whose wide aggregate buffers — not the
    arithmetic — owned the runtime (measured 1.9 s → 0.65 s per sf0.1
    corpus side, bit-identical integers, partition-invariant)."""
    if hash_fn == "portable":
        helem = _portable_shingle_hash
    elif hash_fn == "xxhash64":

        def helem(s: Column) -> Column:
            return F.pmod(F.xxhash64(s), F.lit(1 << 32))

    else:
        raise ValueError("hash_fn must be 'xxhash64' or 'portable'")
    pre = sets.select(
        "id", F.transform("shingles", lambda s: helem(s)).alias("__hs")
    )
    a, b = _perm_params(num_perm, seed)
    a_np = np.asarray(a, dtype=np.int64)
    b_np = np.asarray(b, dtype=np.int64)
    id_type = sets.schema["id"].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            sigs = []
            for hs in pdf["__hs"]:
                h = np.asarray(hs, dtype=np.int64)
                # h < 2^32, a < 2^29 → h·a < 2^61; +b < 2^62: no overflow
                sigs.append(
                    ((h[:, None] * a_np[None, :] + b_np[None, :]) % _MERSENNE_P)
                    .min(axis=0)
                    .tolist()
                )
            if len(pdf):
                yield pd.DataFrame({"id": pdf["id"], "sig": sigs})

    return pre.mapInPandas(gen, f"id {id_type}, sig array<long>")


def _lsh_candidates_from_sigarr(
    sigarr: DataFrame, num_perm: int = 128, bands: int = 32, distinct: bool = True
) -> DataFrame:
    """LSH candidates from (id, sig array<long>) signatures: docs sharing
    any band bucket. Pairs via self-join on (band, bucket) — the classic
    LSH plan; the bucket key is a hash of the band slice so the shuffle
    carries 16 bytes, not the slice. The bucket table is persisted before
    the self-join: otherwise BOTH join sides recompute the signatures
    (the most expensive upstream stage); it is tiny — bands × docs rows."""
    buckets = _op_persist(_band_buckets(sigarr, num_perm, bands))
    buckets.count()
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    return pairs.distinct() if distinct else pairs


def _bitmap_pairs_from_sets(
    sets: DataFrame,
    vocab: list[str],
    threshold: float,
    cand: DataFrame | None = None,
    broadcast_bitmaps: bool = True,
) -> DataFrame:
    """Exact Jaccard over packed per-doc shingle bitmaps — the plan for
    tiny vocabularies (≤ _BITMAP_MAX_VOCAB), where each doc's set packs
    into ceil(V/64) longs and |A∩B| is a handful of AND+popcount ops per
    pair: no join explosion, no per-pair hash set.

    Bitmaps come from ONE Arrow pass over the cached `_shingle_sets` frame
    against the driver-collected vocab — no shuffle. Then:
      - `cand` None → EXACT all-pairs: a broadcast nested-loop join with
        the size prefilter in the join condition. The cost-based plan when
        LSH banding degenerates: on a tiny vocab the possible shingle sets
        are few, docs collide in nearly every band, and LSH candidate
        generation EXCEEDS the full pair count (sf0.1 documents corpus,
        vocab=377: 59.2M LSH candidate pairs vs 12.5M total pairs);
      - `cand` given → verify those candidates. With `broadcast_bitmaps`
        (the bitmap table fits the broadcast budget) verification is
        map-side — two broadcast hash joins + a codegen popcount filter —
        and the pair dedup runs on the (tiny) OUTPUT, so the caller can
        skip the cross-band candidate `distinct` shuffle."""
    id_type = sets.schema["id"].dataType.simpleString()
    L = (len(vocab) + 63) // 64
    index = {s: i for i, s in enumerate(vocab)}

    def to_bitmaps(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # vectorized across the whole batch: one flat Series.map for
            # the vocab lookup (C-level hash probes) + one bitwise_or.at
            # scatter — the per-doc/per-shingle Python loop this replaces
            # owned ~half the all-pairs stage's runtime
            lens = pdf["shingles"].map(len).to_numpy()
            flat = pd.Series(
                np.concatenate([np.asarray(s, dtype=object) for s in pdf["shingles"]])
                if lens.sum()
                else [],
                dtype=object,
            )
            codes = flat.map(index)
            if codes.isna().any():
                # an index past L·64 would be silently dropped: the vocab
                # sizes the packed array, so a mismatch must fail loudly
                raise ValueError(
                    "shingle absent from the planner's vocab scan — "
                    "the input DataFrame changed between evaluations "
                    "(nondeterministic source?); persist it first"
                )
            idx = codes.to_numpy(dtype=np.int64)
            doc_of = np.repeat(np.arange(len(pdf)), lens)
            words = np.zeros((len(pdf), L), dtype=np.uint64)
            np.bitwise_or.at(
                words,
                (doc_of, idx >> 6),
                np.uint64(1) << (idx & 63).astype(np.uint64),
            )
            # int64 view folds bit 63 into the sign bit (signed array<long>)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "sz": lens.astype("int32"),
                    "bm": list(words.view(np.int64)),
                }
            )

    # persist: bm feeds BOTH join sides, so without the cache the Arrow
    # bitmap pass runs twice per consumer (measured ~0.5 s/extra pass
    # warm at sf0.1 — §2.4 "don't recompute")
    bm = _op_persist(
        sets.mapInPandas(to_bitmaps, f"id {id_type}, sz int, bm array<long>")
    )
    a, b = (
        bm.select(
            F.col("id").alias(f"id_{s}"),
            F.col("sz").alias(f"sz_{s}"),
            F.col("bm").alias(f"bm_{s}"),
        )
        for s in "ab"
    )
    if cand is None:
        # size prefilter in the join condition (the similarity-join
        # standard): the popcount projection never runs for rejected pairs
        pairs = a.join(
            F.broadcast(b), (F.col("id_a") < F.col("id_b")) & _size_prefilter(threshold)
        )
    else:
        if broadcast_bitmaps:
            a, b = F.broadcast(a), F.broadcast(b)
        pairs = cand.join(a, "id_a").join(b, "id_b").where(_size_prefilter(threshold))
    out = _jaccard_at_least(pairs.withColumn("inter", _popcount_inter_expr(L)), threshold)
    if cand is not None and broadcast_bitmaps:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


# Gates of the minhash_dedup_pairs planner. Every strategy returns the same
# pairs; each one stays because it wins on an input the repo has (4 cores,
# pair sets identical):
#   - tiny-vocab corpus over the doc cap: LSH + bitmap verify 14.7 s vs
#     LSH + inverted-index verify 146.5 s;
#   - tiny-vocab small corpus (sf0.1 documents, 5,000 docs, vocab 377):
#     all-pairs bitmaps 4.7 s vs LSH + bitmap verify 11.5 s;
#   - large vocabularies have only the inverted-index verify (bitmaps
#     would exceed 64 words per doc).
# minhash_match_pairs keeps both of its plans too. Its numpy kernel (the
# new batch broadcast, the known index streamed once) runs for an index of
# any size while the batch is under _BRUTE_ALLPAIRS_MAX_DOCS: on
# perfbench dedup_ingest inputs (600-doc batches vs a 33,000-doc index,
# seed 1, 4 cores) a warm minhash_dedup_against took 1.38-1.57 s and
# 5 jobs vs 2.83-4.17 s and 11 jobs on the exchange plan, with identical
# (id_new, id_known, est_jaccard) rows; ten alternating untraced
# dedup_ingest runs against the exchange plan (seeds 11-20) moved the
# median throughput from 112.9 to 165.4 rows/s, ahead on every pair. The
# exchange plan stays for batches over the cap (the kernel would collect
# them to the driver) and for max_docs_per_bucket. Replacing its HOF est
# fold with an unrolled 128-term codegen sum made it SLOWER (52.9 s) — do
# not.

# vocab sizes up to this pack into ≤64 longs per doc: bitmap verification is
# strictly faster than joining candidates against the inverted index
_BITMAP_MAX_VOCAB = 4096

# byte budget for broadcasting the bitmap table (verification becomes
# fully map-side); per-doc cost is ~24 bytes + 8·ceil(V/64), so the doc
# cap is derived from the actual vocab size rather than a fixed count
_BITMAP_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

# below this doc count, tiny-vocab corpora skip LSH entirely: a tiny vocab
# admits few distinct shingle sets, docs collide in nearly every band, and
# LSH emits MORE pairs than brute force (measured: 59.2M candidates vs
# 12.5M all-pairs on 5k docs / vocab 377) — exact all-pairs popcount over
# broadcast bitmaps is strictly cheaper and shuffle-free. It also caps the
# new batch minhash_match_pairs collects and broadcasts to its kernel.
_BRUTE_ALLPAIRS_MAX_DOCS = 32_768
# …and the all-pairs plan must also fit an op budget: n²/2 pair-evals ×
# ceil(V/64) popcount words ≤ ~4e9 keeps it in low seconds on ~32 cores.
# The match kernel streams the known index in blocks of
# budget // (num_perm · n_new) rows, so its candidate arrays stay in it too.
_BRUTE_ALLPAIRS_OPS_BUDGET = 4_000_000_000


@_CACHES.scoped
def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → LSH candidates →
    exact-Jaccard verification of candidates only. With (128, 32) params,
    P(miss) at j=0.8 is ≈5e-8 → output ≡ exact jaccard_pairs, at a fraction
    of the pair-comparison cost (verification touches only candidates).

    Every strategy reads ONE persisted `_shingle_sets` frame (id, sorted
    distinct shingle array): the vocab probe, the signatures, the bitmaps
    and the inverted-index verify all derive from it, so the corpus is
    shingled once and no exploded copy is ever cached. The physical
    strategy is cost-based on corpus statistics, gated by
    `too_big_to_probe` (zero jobs):
      - probed corpora run the bounded vocab probe (≤ _BITMAP_MAX_VOCAB
        distinct shingles collected, which also materializes the cache);
      - at-scale corpora run one HLL pass over the cache first, and the
        bounded vocab probe only when the estimate leaves the bitmap plan
        plausible (1.2× headroom ≈ 4σ at rsd 5%) — the exact vocab is a
        correctness input to the bitmap packer, so an estimate never
        sizes it.
    Only a tiny vocab pays a count of the cached sets (the all-pairs op
    budget and the bitmap broadcast budget need it). Strategies:
      - tiny vocab AND small probed corpus → EXACT all-pairs popcount over
        broadcast bitmaps, no LSH: with few possible shingle sets docs
        collide in nearly every band and LSH candidate generation exceeds
        the full pair count (see `_bitmap_pairs_from_sets`) — the exact
        plan is cheaper and shuffle-free;
      - tiny vocab otherwise → LSH candidates + bitmap verification;
      - large vocab → LSH candidates + candidate ⋈ inverted-index join,
        whose cost scales with |candidates| ≈ |output| on natural corpora.
    All produce the same pairs (candidate recall ≈ 1 at threshold,
    verification exact)."""
    sets = _op_persist(_shingle_sets(df, id_col, text_col, n))
    at_scale = too_big_to_probe(df)
    # the first job over `sets` (HLL pass or vocab probe) materializes the
    # cache every later consumer reads
    if at_scale and (
        sets.select(F.explode("shingles").alias("shingle"))
        .agg(F.approx_count_distinct("shingle"))
        .first()[0]
        > _BITMAP_MAX_VOCAB * 1.2
    ):
        vocab = None
    else:
        vocab = _vocab_from_sets(sets, _BITMAP_MAX_VOCAB)
    if vocab == []:
        # no doc has any shingle (all texts shorter than n) → no pairs, and
        # no strategy runs (an empty vocab would pack zero-word bitmaps)
        id_type = sets.schema["id"].dataType.simpleString()
        return sets.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    sig = _signatures_from_sets(sets, num_perm=num_perm, seed=seed)
    if vocab is None:
        cand = _lsh_candidates_from_sigarr(sig, num_perm=num_perm, bands=bands)
        return _verify_pairs_by_shingle_join(cand, sets, threshold)
    n_docs = sets.count()
    L = (len(vocab) + 63) // 64
    # all-pairs cost ≈ n²/2 · L word-ops; stay under a few-second budget
    if (
        not at_scale
        and n_docs <= _BRUTE_ALLPAIRS_MAX_DOCS
        and n_docs * n_docs * L <= _BRUTE_ALLPAIRS_OPS_BUDGET
    ):
        return _bitmap_pairs_from_sets(sets, vocab, threshold)
    # broadcast verify is map-side → skip the candidate distinct shuffle
    # and dedup the (tiny) verified output instead
    small_corpus = n_docs * (24 + 8 * L) <= _BITMAP_BROADCAST_MAX_BYTES
    cand = _lsh_candidates_from_sigarr(
        sig, num_perm=num_perm, bands=bands, distinct=not small_corpus
    )
    return _bitmap_pairs_from_sets(
        sets, vocab, threshold, cand=cand, broadcast_bitmaps=small_corpus
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Portable-hash parameters for SimHash: four independent 16-bit channels,
# each a char-polynomial hash mod the Mersenne prime 2^31-1. acc < 2^31 and
# M < 2^20 keep every product < 2^51 (ANSI-safe int64 in any engine), so a
# SQL oracle (DuckDB list_reduce) reproduces the signature bit-for-bit —
# unlike xxhash64, which only Spark implements.
_SIMHASH_P = 2_147_483_647
_SIMHASH_M = (1_000_003, 999_983, 999_979, 999_961)
_SIMHASH_SEED = (12_345_701, 98_765_431, 55_555_333, 77_777_477)


def _portable_token_hash(tok: Column, channel: int) -> Column:
    """(…((seed·M + c₀)·M + c₁)…) mod P, folded over the token's chars,
    then taken mod 2^16 — one 16-bit hash channel."""
    chars = F.split(tok, "")
    h = F.aggregate(
        chars,
        F.lit(_SIMHASH_SEED[channel]).cast("bigint"),
        lambda acc, ch: (acc * F.lit(_SIMHASH_M[channel]) + F.ascii(ch))
        % F.lit(_SIMHASH_P),
    )
    return h % F.lit(65536)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum ±1 of each
    token-hash's bit; sign → signature bit. One explode + one groupBy with
    `bits` integer sums (all JVM-side).

    hash_fn='xxhash64' (default): Spark's builtin — fastest, JVM-only.
    hash_fn='portable': four 16-bit char-polynomial channels (engine-
    portable arithmetic, reproducible in plain SQL — the oracle mode).
    Empty tokens are dropped in both modes; consequently docs whose text is
    empty/whitespace-only have NO tokens, get no signature row, and never
    appear in near-dup pairs (deliberate: a signature of nothing carries no
    similarity information — pin-tested in tests/test_dedup.py)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    if hash_fn == "portable":
        if bits != 64:
            raise ValueError("portable simhash is fixed at 64 bits (4×16)")
        pre = toks.select(
            "id", *[_portable_token_hash(F.col("tok"), c).alias(f"h{c}") for c in range(4)]
        )
        aggs = [
            F.sum(
                F.when(
                    F.shiftright(F.col(f"h{j // 16}"), j % 16).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b_{j}")
            for j in range(bits)
        ]
        sums = pre.groupBy("id").agg(*aggs)
    else:
        h = F.xxhash64(F.col("tok"))
        aggs = [
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b_{i}")
            for i in range(bits)
        ]
        sums = toks.groupBy("id").agg(*aggs)

    def bit_value(i: int):
        # bit 63 of a signed int64 is the sign bit: its two's-complement
        # contribution is -2^63 (1 << 63 would overflow F.lit)
        v = (1 << i) if i < 63 else -(1 << 63)
        return F.when(F.col(f"b_{i}") > 0, F.lit(v)).otherwise(F.lit(0).cast("bigint"))

    sig = sums.select(
        "id",
        sum([bit_value(i) for i in range(1, bits)], bit_value(0)).alias("simhash"),
    )
    return sig


@_CACHES.scoped
def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via 4×16-bit
    chunk banding (pigeonhole: ≤3 differing bits → ≥1 identical chunk).
    Candidates join on chunk equality; exact popcount verifies."""
    sig = _op_persist(simhash_signatures(df, id_col, text_col, hash_fn=hash_fn))
    sig.count()  # materialize: the chunk self-join reads sig twice
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("simhash"), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", F.col("cc.chunk_id").alias("chunk_id"), F.col("cc.chunk").alias("chunk"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def content_fingerprints(
    df: DataFrame, text_col: str, key_col: str
) -> DataFrame:
    """(key_col, fingerprint) projection of a corpus — the persisted index
    side of `exact_dedup_incremental`. sha2-256 (`_content_fp`), so the
    stored index never needs the text to resolve collisions."""
    return df.select(
        F.col(key_col), _content_fp(df, [text_col]).alias("fingerprint")
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    known_fps: DataFrame,
    text_col: str,
    key_col: str,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without re-touching the
    corpus — the daily-ingest pattern: drop new rows whose content
    fingerprint is already in `known_fps` (a `content_fingerprints` table,
    column `fingerprint`), then keep-min-key within the remaining batch.

    Wire discipline matches `exact_dedup_hashed`: only (fingerprint, key)
    projections enter keyed exchanges — the index side ships 32-byte
    fingerprints, the new batch's text never shuffles, and the final
    removal is a broadcast anti-join of loser keys. Returns the surviving
    new rows; append `content_fingerprints(survivors, ...)` to the index
    for the next batch."""
    fp = _content_fp(new_df, [text_col])
    proj = new_df.select(fp.alias("__fp"), F.col(key_col).alias("__k"))
    # new rows colliding with the existing index: join on fingerprints only
    seen = (
        proj.join(
            known_fps.select(F.col("fingerprint").alias("__fp")), "__fp", "left_semi"
        )
        .select(F.col("__k").alias(key_col))
    )
    # plus within-batch losers (among ALL new rows; a row colliding with
    # the index is dropped anyway, so double-listing is harmless)
    batch_drop = _dedup_drop_list(new_df, fp, key_col)
    drop = seen.unionByName(batch_drop)
    return _drop_keys(new_df, drop, key_col, broadcast_drop_list)


# ---------------------------------------------------------------------------
# Incremental near-dup: new batch vs a persisted MinHash index
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 128,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) — the persisted near-dup index side of
    `minhash_match_pairs`: one compact signature row per document,
    ~8·num_perm bytes, writable to parquet and reusable across ingest
    batches (the `content_fingerprints` pattern, lifted to NEAR-dup). The
    index stores signatures only — never shingles or text — so its size is
    O(docs · num_perm), independent of document length. `hash_fn` follows
    `minhash_signatures` ('portable' = SQL-reproducible signatures) and is
    part of the index's schema: both sides of a match must agree.

    Plan: ZERO shuffle — a signature is a pure per-doc function, so
    instead of the explode → 128-min-agg groupBy (whose wide aggregate
    buffers, not the arithmetic, owned the runtime: measured 1.9 s/side
    warm at sf0.1 vs 0.6 s for this form), the doc's shingle set is built
    as one codegen array, hashed in the same projection, and the 128
    permutation minima come out of a vectorized Arrow pass
    ((shingles × perms) numpy broadcast per doc — identical integers,
    partition-invariant). Docs with no shingles (len < n) get no row,
    matching `minhash_signatures` over the explode."""
    sets = _shingle_sets(df, id_col, text_col, n)
    return _signatures_from_sets(sets, num_perm=num_perm, seed=seed, hash_fn=hash_fn)


def _require_banding(num_perm: int, bands: int) -> None:
    """bands must evenly divide num_perm: a non-divisor silently ignores
    the trailing signature components (the documented recall math no
    longer applies), and bands > num_perm makes r = 0 — an empty slice
    hashes to one constant bucket and the candidate join degenerates to a
    full cross product with no warning. Fail loudly instead."""
    if bands < 1 or bands > num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} must be in [1, num_perm] and divide "
            f"num_perm={num_perm} exactly (r = num_perm/bands rows per band)"
        )


def _band_buckets(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) from an array-signature table — 16-byte bucket
    keys; the one banding shared by every LSH candidate plan
    (`_lsh_candidates_from_sigarr`, `minhash_match_pairs`)."""
    _require_banding(num_perm, bands)
    r = num_perm // bands
    bb = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(F.slice("sig", bi * r + 1, r)).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select("id", F.explode(bb).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _match_pairs_arrow_verify(
    new_index: DataFrame,
    new_rows,
    known_index: DataFrame,
    threshold: float,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """`minhash_match_pairs`' plan for any index: the NEW side's collected
    signatures (`new_rows`, gate-bounded — ≤ ~33 MB at the 32k-doc cap)
    are broadcast, and ONE zero-exchange mapInPandas pass over the KNOWN
    index does the whole band-collision + est verification in numpy. The
    known side is streamed once, whatever its size: it is never
    persisted, counted or shuffled.

    Per band, the new side's slices are pre-sorted as byte keys once per
    task and the streamed rows' slices binary-search them (collisions =
    exact r-slice equality); collision pairs dedup with np.unique per
    block (each known doc's pairs are complete within its block, so
    per-block dedup IS the global dedup), and the est count is a
    vectorized (pairs × num_perm) equality sum, chunked to bound the
    temporary. Blocks hold ⌊_BRUTE_ALLPAIRS_OPS_BUDGET / (num_perm ·
    n_new)⌋ streamed rows, so a block's n_new · rows · num_perm stays
    within the op budget whatever the known side's size. est values are
    matches/num_perm — the identical division the exchange plan computes
    — and the row set is the banded-collision set: exact slice equality
    implies bucket-hash equality, so this emits exactly the pairs the
    exchange plan's xxhash64 bucket join emits, minus only phantom 2⁻⁶⁴
    hash-collision candidates (which the est filter would almost surely
    have dropped anyway)."""
    nid_t = new_index.schema["id"].dataType.simpleString()
    kid_t = known_index.schema["id"].dataType.simpleString()
    schema = f"id_new {nid_t}, id_known {kid_t}, est_jaccard double"
    if not len(new_rows):
        return known_index.sparkSession.createDataFrame([], schema)
    r = num_perm // bands
    A = np.vstack(new_rows["sig"].to_numpy())
    ids_a = new_rows["id"].to_numpy()
    n_a = len(A)
    block = max(1, _BRUTE_ALLPAIRS_OPS_BUDGET // (num_perm * n_a))
    # a band's r values as one opaque byte key: sort and search compare
    # with memcmp, ~4× faster than a structured (r-field) dtype
    band_key = np.dtype((np.void, A.dtype.itemsize * r))
    a_bcast = known_index.sparkSession.sparkContext.broadcast((A, ids_a))
    thr = float(threshold)

    def gen(batches):
        import pandas as pd

        A_, idsa = a_bcast.value
        band_maps = []
        for b0 in range(bands):
            sl = np.ascontiguousarray(A_[:, b0 * r : (b0 + 1) * r])
            keys = sl.view(band_key).ravel()
            order = np.argsort(keys, kind="stable")
            band_maps.append((keys[order], order))
        for pdf in batches:
            for s0 in range(0, len(pdf), block):
                blk = pdf.iloc[s0 : s0 + block]
                B = np.vstack(blk["sig"].to_numpy())
                pis, pjs = [], []
                for b0, (skeys, order) in enumerate(band_maps):
                    sb = np.ascontiguousarray(B[:, b0 * r : (b0 + 1) * r])
                    kb = sb.view(band_key).ravel()
                    left = np.searchsorted(skeys, kb, side="left")
                    right = np.searchsorted(skeys, kb, side="right")
                    cnt = right - left
                    hit = np.flatnonzero(cnt > 0)
                    if not len(hit):
                        continue
                    lens = cnt[hit]
                    starts = left[hit]
                    total = int(lens.sum())
                    # flatten the [start, start+len) ranges without a loop
                    base = np.repeat(
                        starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens
                    )
                    pis.append(order[np.arange(total) + base])
                    pjs.append(np.repeat(hit, lens))
                if not pis:
                    continue
                pi = np.concatenate(pis)
                pj = np.concatenate(pjs)
                _, idx = np.unique(pj.astype(np.int64) * n_a + pi, return_index=True)
                pi, pj = pi[idx], pj[idx]
                outs_i, outs_j, outs_e = [], [], []
                # chunk small: the fancy-indexed A/B copies are (CH × num_perm)
                # int64 — 8 MB each at 8192, cache-friendly and GC-light even
                # with 32 concurrent worker processes (65536 caused ~4 GB of
                # transient churn per match and context-dependent 2× swings)
                CH = 8_192
                for s in range(0, len(pi), CH):
                    a = A_[pi[s : s + CH]]
                    b = B[pj[s : s + CH]]
                    est = (a == b).sum(axis=1) / float(num_perm)
                    keep = est >= thr
                    outs_i.append(pi[s : s + CH][keep])
                    outs_j.append(pj[s : s + CH][keep])
                    outs_e.append(est[keep])
                ki = np.concatenate(outs_i)
                if not len(ki):
                    continue
                yield pd.DataFrame(
                    {
                        "id_new": idsa[ki],
                        "id_known": blk["id"].to_numpy()[np.concatenate(outs_j)],
                        "est_jaccard": np.concatenate(outs_e),
                    }
                )

    return known_index.select("id", "sig").mapInPandas(gen, schema)


@_CACHES.scoped
def minhash_match_pairs(
    new_index: DataFrame,
    known_index: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 128,
    bands: int = 32,
    max_docs_per_bucket: int | None = None,
) -> DataFrame:
    """Near-dup matches between a NEW batch and an EXISTING corpus, from
    their `minhash_index` tables alone — the daily-ingest twin of
    `minhash_dedup_pairs` that never re-touches the reference corpus.
    Returns (id_new, id_known, est_jaccard).

    Verification is the SIGNATURE-ESTIMATED Jaccard (matching components
    / num_perm): unbiased, std ≈ √(j(1−j)/num_perm) — 0.035 at j=0.8 with
    128 perms; est = 1.0 iff the signatures agree on every permutation,
    which pins identical shingle sets with error ~j^num_perm ≈ 0. This is
    APPROXIMATE by contract (the index holds no shingles to verify
    exactly); batch-mode `minhash_dedup_pairs` remains the exact path.

    Plan, for an index of any size: the new batch is the small side. Its
    signatures are collected (at most _BRUTE_ALLPAIRS_MAX_DOCS + 1 rows)
    and broadcast, and `_match_pairs_arrow_verify` streams the known
    index once through a numpy band-collision + est kernel — zero
    exchanges, and the known index is never persisted, counted or
    shuffled, so a reference corpus costs one scan per batch.

    The exchange plan is the fallback for new sides over the doc cap
    (either index may then be large) and for `max_docs_per_bucket`:
    band-bucket equi-join over (id, band, bucket) projections — 16-byte
    keys, candidate pairs dedup'd BEFORE the signatures are fetched, so
    the ~8·num_perm-byte sig rows enter only the two final id-equi joins,
    never the banded fan-out. Both plans return the same rows (see
    `_match_pairs_arrow_verify`).

    `max_docs_per_bucket` (default None = every band collision becomes a
    candidate) drops (band, bucket) keys holding more than the cap on
    EITHER side before the join — the standard LSH hot-bucket cap. A
    bucket with d docs contributes up to d² candidate pairs, and on a
    degenerate (tiny-vocab, highly self-similar) corpus most buckets hold
    large corpus fractions, driving the candidate join toward all-pairs —
    the regime batch-mode `minhash_dedup_pairs` detects and routes to its
    bitmap plan, which an index-only matcher cannot. The cap is opt-in
    because it weakens recall (a pair whose every shared band is hot is
    missed — on natural large-vocab corpora hot buckets are stop-gram
    noise and the loss is negligible); capping logs a WARNING with the
    dropped-bucket count (the `jaccard_pairs` cap contract)."""
    _require_banding(num_perm, bands)
    if max_docs_per_bucket is None and not too_big_to_probe(new_index):
        # a limit-capped collect, not a count: the kernel needs the rows
        # anyway, and a new side under the cap is computed exactly once
        new_rows = (
            new_index.select("id", "sig")
            .limit(_BRUTE_ALLPAIRS_MAX_DOCS + 1)
            .toPandas()
        )
        if len(new_rows) <= _BRUTE_ALLPAIRS_MAX_DOCS:
            return _match_pairs_arrow_verify(
                new_index, new_rows, known_index, threshold, num_perm, bands
            )
    # each index is consumed twice (band buckets + the final sig fetch) —
    # and a derived index (minhash_index straight off a corpus) would
    # otherwise re-run its whole signature aggregation per consumer
    new_index = _op_persist(new_index)
    known_index = _op_persist(known_index)
    bn = _band_buckets(new_index, num_perm, bands).withColumnsRenamed(
        {"id": "id_new"}
    )
    bk = _band_buckets(known_index, num_perm, bands).withColumnsRenamed(
        {"id": "id_known"}
    )
    if max_docs_per_bucket is not None:
        hot = (
            bn.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .unionByName(
                bk.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__n"))
            )
            .where(F.col("__n") > max_docs_per_bucket)
            .select("band", "bucket")
            .distinct()
        )
        hot = _op_persist(hot)
        n_hot = hot.count()
        if n_hot:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_match_pairs: dropping %d band buckets holding > %d "
                "docs — output is approximate (pairs whose every shared "
                "band is hot are missed)",
                n_hot,
                max_docs_per_bucket,
            )
        bn = bn.join(hot, ["band", "bucket"], "left_anti")
        bk = bk.join(hot, ["band", "bucket"], "left_anti")
    cand = (
        bn.join(bk, ["band", "bucket"])
        .select("id_new", "id_known")
        .distinct()
    )
    a = new_index.select(F.col("id").alias("id_new"), F.col("sig").alias("__sa"))
    b = known_index.select(
        F.col("id").alias("id_known"), F.col("sig").alias("__sb")
    )
    matches = F.expr(
        "aggregate(zip_with(__sa, __sb, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (a, b) -> a + b)"
    )
    return (
        cand.join(a, "id_new")
        .join(b, "id_known")
        .withColumn("est_jaccard", matches / F.lit(float(num_perm)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_new", "id_known", "est_jaccard")
    )


@_CACHES.scoped
def minhash_dedup_against(
    new_df: DataFrame,
    known_index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_docs_per_bucket: int | None = None,
    broadcast_drop_list: bool = True,
) -> DataFrame:
    """The surviving rows of a NEW batch after near-dup matching against an
    existing corpus's `minhash_index` — the ingest gate: a new doc is
    dropped iff some already-indexed doc matches it at est_jaccard ≥
    threshold. Within-batch near-dups are NOT resolved here (run
    `minhash_dedup_pairs` on the survivors if the batch itself needs it);
    `n`/`num_perm`/`seed`/`hash_fn` must equal the index's build parameters or the
    signatures are incomparable — there is no in-band way to detect a
    mismatch, so treat them as part of the index's schema.

    The batch text never shuffles: its signatures are built by the same
    zero-shuffle `minhash_index` pass as the reference's, matching ships
    ids only, and removal is a broadcast anti-join of matched ids."""
    new_index = minhash_index(
        new_df, id_col, text_col, n=n, num_perm=num_perm, seed=seed, hash_fn=hash_fn
    )
    hits = minhash_match_pairs(
        new_index,
        known_index,
        threshold=threshold,
        num_perm=num_perm,
        bands=bands,
        max_docs_per_bucket=max_docs_per_bucket,
    )
    drop = hits.select(F.col("id_new").alias(id_col)).distinct()
    return _drop_keys(new_df, drop, id_col, broadcast_drop_list)
