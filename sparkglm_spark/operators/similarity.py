"""Similarity search over embedding columns (array<float>).

Execution strategies, one semantic:

- brute-force top-k (`cosine_topk`) — the query side (small by contract,
  like a broadcast-join build side) is collected to one numpy matrix and
  broadcast; the corpus is scanned ONCE by an Arrow-batched `mapInPandas`
  that BLAS-matmuls each batch against the query matrix and emits only the
  per-batch top-k candidates per query (ties included). A final window
  top-k over this tiny candidate set is exact. At 1000 executors the only
  shuffle carries ≈ |queries|·k rows per input split — the corpus itself
  never moves, and the per-row cost is a dgemm, not an interpreted
  expression tree. Exact; the baseline and the verifier for the
  approximate paths.

- IVF (`ivf_topk`) — k-means centroids (driver-trained on a sample, like
  model coefficients) partition the corpus into lists; each query probes
  its `n_probe` nearest lists. Executed with ZERO corpus shuffle: the same
  single `mapInPandas` scan assigns each batch row to its list and scores
  it only against the queries probing that list — work drops to
  ≈ n_probe/n_lists of brute force while the plan shape is unchanged.

- LSH-bucketed (random hyperplane signatures) — signature via one
  Arrow-batched pandas UDF (matrix multiply per batch), band-bucket join
  for candidates, exact re-rank of candidates only. The all-pairs path for
  corpora where neither side is small: candidate generation is a
  hash-partitioned equi-join instead of a cross product.

(Reference repo has no similarity ops; these are north-star extensions —
BASELINE.json. Public grounding: random-hyperplane LSH, Charikar 2002;
IVF, Sivic & Zisserman 2003 "Video Google".)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sparkglm_spark.plans.caching import CacheRegistry

# signature-table cache, released at the next lsh_near_dup_pairs call
# (see plans/caching.py for the lifecycle rationale)
_CACHES = CacheRegistry()
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — JVM-side left-to-right fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Probe the (fixed) embedding dimension — one 1-row job."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def _collect_query_matrix(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_collect_rows: int = 2_000_000,
):
    """Driver-collect the small side as (ids, unit-normalized matrix).
    O(|queries|·d) driver/broadcast state — the same contract as the build
    side of a broadcast join. The corpus side is never collected.

    SIZE-GATED like `cosine_near_dup_pairs`: an oversized queries frame
    raises (naming the scale alternatives) instead of OOMing the driver.
    Gate and collect are ONE job — limit(cap+1).collect() — so a derived
    queries frame pays its upstream computation once, not once for a
    count probe and again for the collect (r5 review)."""
    rows = queries.select(id_col, vec_col).limit(max_collect_rows + 1).collect()
    if len(rows) > max_collect_rows:
        raise ValueError(
            f"top-k similarity: queries frame exceeds max_collect_rows="
            f"{max_collect_rows} (the query matrix is driver-collected and "
            "broadcast); batch the queries, or for corpus-vs-corpus "
            "matching use near_dup_pairs / lsh_near_dup_pairs"
        )
    ids = np.array([r[0] for r in rows])
    if len(rows) == 0:
        return ids, np.zeros((0, 0), dtype=np.float64)
    Q = np.array([list(r[1]) for r in rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    return ids, Q


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Tiny inputs arrive as one parquet split → one task. Fan out to the
    session's parallelism so the scan-side matmul uses every core. At real
    scale the input has >> cores splits and this is a no-op (no shuffle).
    The partition count is read only when free (r15: `.rdd` under AQE
    EXECUTES exchange-bearing plans — see plans.partitioning); derived
    frames keep their post-shuffle partitioning untouched."""
    from sparkglm_spark.plans.partitioning import _rdd_partitions_if_free

    ncores = df.sparkSession.sparkContext.defaultParallelism
    n = _rdd_partitions_if_free(df)
    if n is not None and n < ncores:
        return df.repartition(ncores)
    return df


def _topk_with_ties(S: np.ndarray, k: int):
    """Row-wise boolean mask selecting every score ≥ the k-th largest
    (ties inclusive — the global window pass resolves them exactly).
    Non-finite scores (masked self-matches) are never selected."""
    kk = min(k, S.shape[1])
    thresh = -np.partition(-S, kk - 1, axis=1)[:, kk - 1]
    mask = S >= thresh[:, None]
    mask &= np.isfinite(S)
    return mask


def _empty_topk(spark, qid_type, nid_type) -> DataFrame:
    schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", nid_type),
            StructField("cosine", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    return spark.createDataFrame([], schema)


def _finalize_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact global top-k over the (tiny) per-partition candidate set."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_collect_rows: int = 2_000_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    Plan: broadcast(query matrix) → single corpus scan → per-Arrow-batch
    dgemm + local top-k (ties kept) → window over ≈ |q|·k·splits candidate
    rows. Ties broken by corpus id (deterministic, partition-invariant).
    The queries frame is driver-collected and therefore size-gated at
    `max_collect_rows` — past the gate this raises rather than OOMs."""
    spark = corpus.sparkSession
    qids, Qn = _collect_query_matrix(queries, id_col, vec_col, max_collect_rows)
    qid_type = queries.schema[id_col].dataType
    nid_type = corpus.schema[id_col].dataType
    if len(qids) == 0:
        return _empty_topk(spark, qid_type, nid_type)
    bq = spark.sparkContext.broadcast((qids, Qn))

    cand_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", nid_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        q_ids, Q = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = Q @ M.T  # |q| × batch
            S[q_ids[:, None] == ids[None, :]] = -np.inf  # self-matches
            mask = _topk_with_ties(S, k)
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": ids[ci],
                    "cosine": S[qi, ci],
                }
            )

    cand = _ensure_parallel(corpus.select(id_col, vec_col)).mapInPandas(
        gen, cand_schema
    )
    return _finalize_topk(cand, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_collect_rows: int = 2_000_000,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding-based near-dup
    detection, exact. One side is broadcast as a numpy matrix (O(n·d)
    driver state), the other side streams through a single mapInPandas
    dgemm scan. Exact-but-quadratic by nature: SIZE-GATED at
    `max_collect_rows` (default 2M rows ≈ 1 GB at d=64 — the broadcast-join
    build-side contract). Beyond the gate this raises instead of OOMing the
    driver; `near_dup_pairs` is the auto-routing entry point that degrades
    to `lsh_near_dup_pairs` (equi-join candidates, same exact re-rank)
    instead of raising."""
    from sparkglm_spark.plans.partitioning import bounded_row_probe

    # always_count: this gate's contract REQUIRES the count (it must
    # raise past the gate, not guess)
    over = bounded_row_probe(df.select(id_col), max_collect_rows, always_count=True)
    if over > max_collect_rows:
        raise ValueError(
            f"cosine_near_dup_pairs: corpus exceeds max_collect_rows="
            f"{max_collect_rows} (exact all-pairs requires driver-collecting "
            "one side); use near_dup_pairs / lsh_near_dup_pairs for corpora "
            "this large"
        )
    return _cosine_all_pairs_broadcast(df, id_col, vec_col, threshold)


def _cosine_all_pairs_broadcast(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """The exact all-pairs plan body (no size gate — callers gate)."""
    spark = df.sparkSession
    ids_all, Xn = _collect_query_matrix(df, id_col, vec_col)
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    if len(ids_all) == 0:
        return spark.createDataFrame([], out_schema)
    bx = spark.sparkContext.broadcast((ids_all, Xn))

    def gen(batches):
        import pandas as pd

        a_ids, A = bx.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = A @ M.T  # all × batch
            keep = (S >= threshold) & (a_ids[:, None] < ids[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": ids[bi],
                    "cosine": S[ai, bi],
                }
            )

    return _ensure_parallel(df.select(id_col, vec_col)).mapInPandas(
        gen, out_schema
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate top-k
# ---------------------------------------------------------------------------


def _train_centroids_sample(
    df: DataFrame, vec_col: str, n_lists: int, seed: int, sample_cap: int = 20000
) -> np.ndarray:
    """K-means centroids (unit-normalized, for cosine) trained on a
    driver-collected sample — centroids are O(n_lists·d) model state, like
    coefficients; the full corpus is never collected. Deterministic:
    seeded init, fixed iteration count, ties to lowest index."""
    frac_rows = df.select(vec_col).limit(sample_cap).collect()
    M = np.array([list(r[0]) for r in frac_rows], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = M[rng.choice(len(M), size=min(n_lists, len(M)), replace=False)]
    for _ in range(10):
        assign = np.argmax(M @ C.T, axis=1)
        for j in range(len(C)):
            members = M[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    sample_cap: int = 20000,
) -> np.ndarray:
    """Train (and return) the IVF centroid matrix separately so many
    `ivf_topk` calls can reuse one index — the build-once/serve-many
    workflow a real ANN deployment uses. O(n_lists·d) model state; the
    corpus is sampled (bounded), never collected."""
    return _train_centroids_sample(corpus, vec_col, n_lists, seed, sample_cap)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_collect_rows: int = 2_000_000,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Approximate top-k cosine via an inverted file, with ZERO corpus
    shuffle: one mapInPandas scan assigns each batch row to its nearest
    centroid list (numpy argmax — deterministic, partition-invariant) and
    scores it ONLY against the queries probing that list. Scoring work ≈
    brute force × n_probe/n_lists; the emitted candidate set (≈ |q|·k per
    split) feeds the same exact window top-k.

    Recall < 1 by design (tested ≥ 0.9 at 4/16 on the driver corpus);
    precision is 1 (exact scoring of every emitted candidate). With
    n_probe = n_lists every pair is scored → identical to `cosine_topk`."""
    spark = corpus.sparkSession
    # `centroids` (train_ivf_centroids output) reuses a prebuilt index —
    # the 100 TB workflow trains once and serves many query batches; when
    # omitted, a fresh deterministic sample-train runs per call
    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _train_centroids_sample(corpus, vec_col, n_lists, seed)
    )
    qids, Qn = _collect_query_matrix(queries, id_col, vec_col, max_collect_rows)
    qid_type = queries.schema[id_col].dataType
    nid_type = corpus.schema[id_col].dataType
    if len(qids) == 0:
        return _empty_topk(spark, qid_type, nid_type)

    n_probe = min(n_probe, len(C))
    # probe lists per query (driver: |q| × n_lists matmul)
    order = np.argsort(-(Qn @ C.T), kind="stable", axis=1)[:, :n_probe]
    # invert: list_id -> row indices of the queries probing it
    probes = {
        j: np.nonzero((order == j).any(axis=1))[0] for j in range(len(C))
    }
    probes = {j: sel for j, sel in probes.items() if len(sel)}
    bq = spark.sparkContext.broadcast((qids, Qn, C, probes))

    cand_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", nid_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        q_ids, Q, cents, probe_map = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            assign = np.argmax(M @ cents.T, axis=1)
            frames = []
            for j in np.unique(assign):
                qsel = probe_map.get(int(j))
                if qsel is None:
                    continue
                msel = np.nonzero(assign == j)[0]
                S = Q[qsel] @ M[msel].T  # probing queries × list members
                S[q_ids[qsel][:, None] == ids[msel][None, :]] = -np.inf
                mask = _topk_with_ties(S, k)
                qi, ci = np.nonzero(mask)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qsel][qi],
                            "neighbor_id": ids[msel][ci],
                            "cosine": S[qi, ci],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = _ensure_parallel(corpus.select(id_col, vec_col)).mapInPandas(
        gen, cand_schema
    )
    return _finalize_topk(cand, k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (approximate path)
# ---------------------------------------------------------------------------


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """sign(R·v) packed into n_bits/16 16-bit bucket chunks. One pandas UDF
    (Arrow batch → numpy matmul) — the only Python in the pipeline, O(n·d·b)
    flops done by BLAS."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType as AT, LongType

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bits))
    n_chunks = n_bits // 16
    weights = (1 << np.arange(16, dtype=np.int64))

    def _sig_fn(vecs):
        M = np.vstack(vecs.to_numpy())  # batch × dim
        bits = (M @ planes) > 0  # batch × n_bits
        chunks = [
            (bits[:, c * 16 : (c + 1) * 16] @ weights).astype(np.int64)
            for c in range(n_chunks)
        ]
        return pd.Series(list(np.stack(chunks, axis=1)))

    _sig = pandas_udf(_sig_fn, returnType=AT(LongType()))

    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _sig(F.col(vec_col)).alias("chunks"),
    )


@_CACHES.scoped
def lsh_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup: candidates share ≥1 signature chunk
    (16 random hyperplanes agreeing → cos likely high); exact cosine
    re-rank keeps only true pairs ≥ threshold. Recall for θ=0.95
    (angle ≈ 18°): P(chunk match) = (1−18/180)^16 ≈ 0.19 per chunk,
    ≥1-of-4 ≈ 0.57 — raise n_bits/chunks for higher recall; exact re-rank
    keeps precision at 1.0."""
    sig = hyperplane_signatures(df, dim, id_col, vec_col, n_bits, seed)
    sig = _CACHES.persist(sig)
    sig.count()  # materialize: the chunk self-join reads sig twice (pandas UDF)
    n_chunks = n_bits // 16
    exploded = sig.select(
        "id",
        "vec",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.col("chunks")[c].alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "vec", "cc.chunk_id", "cc.chunk")
    a = exploded.alias("a")
    b = exploded.alias("b")
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
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            cosine_expr(
                F.col("va").cast(ArrayType(DoubleType())),
                F.col("vb").cast(ArrayType(DoubleType())),
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    exact_max_rows: int = 2_000_000,
    n_bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs with a size-probing physical planner — ONE
    entry point, two plans (the `minhash_dedup_pairs` planner shape):

    - corpus within `exact_max_rows` → exact all-pairs: broadcast matrix +
      single mapInPandas dgemm scan (`cosine_near_dup_pairs`' plan);
    - larger → hyperplane-LSH bucket join + exact cosine re-rank
      (`lsh_near_dup_pairs`): recall < 1 by construction (1.0 for exact
      duplicates — identical vectors share every signature chunk),
      precision exactly 1 (every emitted pair is re-scored). Routing to
      the approximate plan is logged at WARNING, with the recall math —
      never a silent degradation (same contract as jaccard_pairs' cap).

    The probe is bounded (`plans.partitioning.bounded_row_probe`): a
    limit-capped count, skipped outright (assume large) for many-split
    inputs. Same output columns either way (id_a, id_b, cosine with
    id_a < id_b)."""
    from sparkglm_spark.plans.partitioning import bounded_row_probe

    cap = exact_max_rows
    n_rows = bounded_row_probe(df.select(id_col), cap)
    if n_rows <= cap:
        return _cosine_all_pairs_broadcast(df, id_col, vec_col, threshold)
    import logging
    import math as _math

    n_chunks = n_bits // 16
    p_chunk = (1.0 - _math.acos(min(max(threshold, -1.0), 1.0)) / _math.pi) ** 16
    recall = 1.0 - (1.0 - p_chunk) ** n_chunks
    logging.getLogger(__name__).warning(
        "near_dup_pairs: corpus exceeds exact_max_rows=%d (or arrived with "
        "too many partitions to probe) — degrading to hyperplane-LSH: "
        "precision stays 1.0 but expected recall at threshold %.3f with "
        "%d bits is ≈%.2f (1.0 for exact duplicates). Raise n_bits for "
        "higher recall, or call cosine_near_dup_pairs for the exact plan.",
        cap,
        threshold,
        n_bits,
        recall,
    )
    return lsh_near_dup_pairs(
        df,
        _vec_dim(df, vec_col),
        id_col,
        vec_col,
        threshold=threshold,
        n_bits=n_bits,
        seed=seed,
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× embedding
    compression before an ANN index: scale = max|x|/127, q_i = round(x_i/
    scale) ∈ [−127, 127]. Returns (id, scale, q) with q as array<tinyint>
    — one BYTE per element, so the column really is 4× smaller than the
    float32 input on disk and on the shuffle wire. `keep_vec=True` also
    returns the double-cast input as `vec` (for reconstruction-error
    checks in the same projection — no re-scan + join to recover it).

    A pure projection: zero shuffles, whole-stage codegen, streams at scan
    speed over any corpus size. `scale` is computed in a projection BELOW
    the transform — referencing it inside the lambda would re-evaluate
    the array_max per element (no CSE across lambda scopes; same lesson
    as the shingle lowercasing). Edge semantics: all-zero vectors get
    scale 0 and an all-zero q; NULL or EMPTY vectors are dropped (no
    elements → nothing to quantize, and engines disagree on empty-list
    aggregates); a non-finite scale (NaN/Inf element — corrupt data)
    yields q = NULL rather than a silent zero mask. Finite arithmetic is
    plain IEEE double (cast from float32 input first), so any engine
    reproduces q bit-for-bit."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pre = df.where(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col),
        v.alias("__v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    finite = ~F.isnan("scale") & (F.col("scale") < F.lit(float("inf")))
    q = (
        F.when(
            finite & (F.col("scale") > 0),
            F.transform(
                F.col("__v"),
                lambda x: F.round(x / F.col("scale")).cast("tinyint"),
            ),
        )
        .when(
            finite,  # scale == 0: the all-zero vector
            F.transform(F.col("__v"), lambda x: F.lit(0).cast("tinyint")),
        )
        .otherwise(F.lit(None).cast("array<tinyint>"))
    )
    cols = [F.col(id_col), F.col("scale"), q.alias("q")]
    if keep_vec:
        cols.append(F.col("__v").alias("vec"))
    return pre.select(*cols)


def cosine_topk_quantized(
    corpus_q: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_collect_rows: int = 2_000_000,
) -> DataFrame:
    """Exact top-k over an int8-QUANTIZED corpus (`quantize_int8` output:
    id, scale, q) — the serving composition behind the 4× compression:
    quantize once, search many times against the compact table.

    Same plan shape as `cosine_topk` (broadcast query matrix, one corpus
    scan, per-batch dgemm + local top-k, exact window finish) but the scan
    reads 1-byte codes and reconstructs `q·scale` inside the Arrow batch —
    at 100 TB the scan I/O and any upstream shuffle both shrink 4×.
    Scores are cosines of the RECONSTRUCTED vectors (exact for the
    quantized table; within quantization error of the float corpus —
    recall vs the float baseline is tested). Ties break by corpus id."""
    spark = corpus_q.sparkSession
    qids, Qn = _collect_query_matrix(queries, id_col, vec_col, max_collect_rows)
    qid_type = queries.schema[id_col].dataType
    nid_type = corpus_q.schema[id_col].dataType
    if len(qids) == 0:
        return _empty_topk(spark, qid_type, nid_type)
    bq = spark.sparkContext.broadcast((qids, Qn))

    cand_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", nid_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        q_ids, Q = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            codes = np.array([list(v) for v in pdf["q"]], dtype=np.float64)
            scales = pdf["scale"].to_numpy(dtype=np.float64)[:, None]
            M = codes * scales  # reconstruct q·scale per row
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = Q @ M.T
            S[q_ids[:, None] == ids[None, :]] = -np.inf  # self-matches
            mask = _topk_with_ties(S, k)
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "neighbor_id": ids[ci],
                    "cosine": S[qi, ci],
                }
            )

    cand = _ensure_parallel(
        corpus_q.where(F.col("q").isNotNull()).select(id_col, "scale", "q")
    ).mapInPandas(gen, cand_schema)
    return _finalize_topk(cand, k)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster, then prune within clusters)
# ---------------------------------------------------------------------------


def assign_clusters(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, id, unit: array<double>) — each row assigned to its
    max-cosine centroid (ties to the lowest centroid index, numpy argmax).
    ONE Arrow-batched mapInPandas scan, zero shuffle: assignment is a pure
    per-row function of the vector, so it is partition-invariant and the
    corpus never moves. The unit-normalized float64 vector rides along so
    downstream per-cluster scoring needs no second normalization pass.

    Centroid state is O(k·d) — broadcast like model coefficients. Cosine
    assignment is scale-invariant, so `centroids` need not be normalized
    (they are normalized here once, on the driver)."""
    spark = df.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    if C.ndim != 2 or len(C) == 0:
        raise ValueError("centroids must be a non-empty (k, d) matrix")
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast(Cn)
    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("id", id_type),
            StructField("unit", ArrayType(DoubleType())),
        ]
    )

    def gen(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            assign = np.argmax(M @ cents.T, axis=1)
            yield pd.DataFrame(
                {
                    "cluster": assign.astype("int32"),
                    "id": pdf[id_col].to_numpy(),
                    "unit": list(M),
                }
            )

    return _ensure_parallel(df.select(id_col, vec_col)).mapInPandas(gen, schema)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 16,
    centroids: "np.ndarray | None" = None,
    seed: int = 42,
    max_cluster_rows: int = 200_000,
    block: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then find near-duplicate pairs ONLY within clusters —
    the pair search drops from O(n²) to Σ n_c², with cross-cluster pairs
    deliberately out of contract (a near-dup pair lands in one cluster
    when the clustering is finer than the dup radius, the regime the
    paper's k ≈ n/100k targets). Returns (cluster, id_a, id_b, cosine)
    with id_a < id_b and cosine ≥ threshold.

    Plan, 100 TB shape:
      1. centroids: caller-provided (`train_ivf_centroids` — build once,
         serve many) or a deterministic seeded sample k-means; O(k·d)
         driver/broadcast state either way.
      2. `assign_clusters`: one mapInPandas scan, zero shuffle.
      3. ONE hash shuffle on `cluster` carrying (int, id, d doubles) —
         bounded row width, no raw content; then a per-cluster blocked
         numpy gram (`applyInPandas`): U·Uᵀ in `block`-row tiles, so peak
         memory is |cluster|·d + block² doubles, never |cluster|². Only
         threshold survivors are emitted (output ≈ the duplicate set).
    A cluster larger than `max_cluster_rows` raises with the remedy
    (raise n_clusters / retrain with a finer index) instead of silently
    attempting an n_c² that cannot finish — size the cluster count so
    n/k ≪ this cap (the paper's n/100k rule lands well inside it)."""
    C = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else _train_centroids_sample(df, vec_col, n_clusters, seed)
    )
    assigned = assign_clusters(df, C, id_col, vec_col)
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    thr = float(threshold)
    cap = int(max_cluster_rows)
    blk = int(block)

    def pairs_in_cluster(key, pdf):
        import pandas as pd

        n = len(pdf)
        if n > cap:
            raise ValueError(
                f"semantic_dedup_pairs: cluster {key[0]} holds {n} rows "
                f"(> max_cluster_rows={cap}) — the within-cluster pair "
                "search is quadratic per cluster; raise n_clusters (or "
                "pass finer `centroids`) so clusters stay bounded"
            )
        if n < 2:
            return pd.DataFrame(
                {"cluster": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cluster": "int32"})
        # deterministic output regardless of shuffle arrival order
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        U = np.array([list(v) for v in pdf["unit"]], dtype=np.float64)[order]
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, blk):
            i1 = min(i0 + blk, n)
            for j0 in range(i0, n, blk):
                j1 = min(j0 + blk, n)
                S = U[i0:i1] @ U[j0:j1].T
                ai, bj = np.nonzero(S >= thr)
                # strict upper triangle in GLOBAL indices: id_a < id_b
                keep = (i0 + ai) < (j0 + bj)
                ai, bj = ai[keep], bj[keep]
                out_a.append(ids[i0 + ai])
                out_b.append(ids[j0 + bj])
                out_c.append(S[ai, bj])
        if not out_a:
            return pd.DataFrame(
                {"cluster": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cluster": "int32"})
        return pd.DataFrame(
            {
                "cluster": np.full(sum(map(len, out_a)), key[0], dtype="int32"),
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    from sparkglm_spark.plans.partitioning import fanout_groups

    return (
        fanout_groups(assigned, ["cluster"])
        .groupBy("cluster")
        .applyInPandas(pairs_in_cluster, out_schema)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 16,
    centroids: "np.ndarray | None" = None,
    seed: int = 42,
    max_cluster_rows: int = 200_000,
) -> DataFrame:
    """Rows of `df` surviving semantic dedup: of every within-cluster pair
    with cosine ≥ threshold, the larger id is dropped (the single-hop
    keeper policy of `pipeline.prepare_training_corpus` — canonical docs
    are exactly those with no smaller semantic neighbor in their cluster;
    no transitive closure). The corpus itself never shuffles: the drop
    list is the (tiny) distinct id_b set of `semantic_dedup_pairs`,
    removed with a broadcast anti-join."""
    pairs = semantic_dedup_pairs(
        df,
        id_col,
        vec_col,
        threshold=threshold,
        n_clusters=n_clusters,
        centroids=centroids,
        seed=seed,
        max_cluster_rows=max_cluster_rows,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(F.broadcast(drop), id_col, "left_anti")


def ann_recall(
    exact: DataFrame, approx: DataFrame, k: int | None = None
) -> dict:
    """Recall@k of an approximate neighbor list against the exact one —
    the index-quality gate for `ivf_topk`/`cosine_topk_quantized`/LSH
    tuning ("does n_probe=4 keep recall above 0.95?"):

        per query:  |approx ∩ exact| / |exact|
        macro_recall = mean over queries    (every query counts equally)
        micro_recall = Σ hits / Σ exact     (big-result queries dominate)

    Both frames are (query_id, neighbor_id[, rank, …]) as produced by
    the top-k operators; `k` truncates BOTH to rank ≤ k first (requires
    the rank column) — omit it to compare the lists as given. A query
    present in `exact` but missing from `approx` counts as recall 0 (the
    honest failure mode for an index that drops queries).

    Plan: one (query_id, neighbor_id) equi-join + two bounded
    aggregations — the frames are top-k lists (≤ k rows per query), so
    everything downstream of the producers is small."""
    if k is not None:
        if k < 1:
            raise ValueError("k must be >= 1")
        exact = exact.where(F.col("rank") <= k)
        approx = approx.where(F.col("rank") <= k)
    # distinct both pair sets: a duplicated (query, neighbor) row — an LSH
    # candidate list emitting the same pair twice, a rank tie surviving the
    # k-truncation — would otherwise fan the join out and inflate BOTH
    # hits and the exact count
    ex = exact.select("query_id", "neighbor_id").distinct()
    ap = (
        approx.select("query_id", "neighbor_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_q = (
        ex.join(ap, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double").alias(
                "hits"
            ),
        )
    )
    row = per_q.agg(
        F.avg(F.col("hits") / F.col("n_exact")).alias("macro"),
        F.sum("hits").alias("h"),
        F.sum("n_exact").alias("e"),
        F.count(F.lit(1)).alias("nq"),
    ).collect()[0]
    if not row["nq"]:
        raise ValueError("exact neighbor list is empty")
    return {
        "macro_recall": float(row["macro"]),
        "micro_recall": float(row["h"]) / float(row["e"]),
        "n_queries": int(row["nq"]),
        "n_exact_pairs": int(float(row["e"])),
        "n_hits": int(float(row["h"])),
    }
