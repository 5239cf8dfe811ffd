"""Streaming corpus ingest: micro-batch dedup against a persisted index —
the daily/continuous-ingest twin of the batch dedup family
(`operators/dedup.py`). Two gates share one store layout and retry
discipline: EXACT (`dedup_ingest_*` — sha2 fingerprint index) and
NEAR-dup (`neardup_ingest_*` — MinHash signature index,
`minhash_match_pairs` semantics).

Pattern: `foreachBatch` + `exact_dedup_incremental`. Each micro-batch is
deduped (a) against every fingerprint the index has accumulated and
(b) within itself (min-key winner), then the survivors land in the
accepted store and their fingerprints extend the index — so the NEXT
batch sees them as known. The wire discipline is inherited from the batch
operator: only (fingerprint, key) projections enter keyed exchanges; the
batch text never shuffles and the index side ships 32-byte sha2-256
digests.

Idempotence (the part `foreachBatch` does NOT give you for free):
Structured Streaming re-runs a batch after a failure, and a naive append
sink would then double-write survivors. Both stores are therefore laid
out as one directory PER BATCH (`batch_id=N/`), written with per-batch
OVERWRITE — a retried batch replaces its own directory instead of
appending next to its first attempt, making the sink effectively
exactly-once while readers just load the parent directory. A re-run
reads the index EXCLUDING its own `batch_id=N` directory (a
partition-pruned != filter), so the retry deduplicates against exactly
the state the first attempt saw and rewrites identical survivors.

CAUTION — batch_id is the idempotence NAMESPACE, owned by the stream's
checkpoint: resetting/replacing `checkpointLocation` while keeping
`index_path`/`accepted_path` restarts batch numbering at 0, and the new
batch 0 will (by the retry rule above) exclude the OLD `batch_id=0`
fingerprints, re-accept content already accepted there, and OVERWRITE the
old directory — destroying committed history. One checkpoint ↔ one store
pair, forever. Backfills via `dedup_ingest_batch` share the same
namespace: give them ids a live stream will never reach (negative ids
work), or run them into their own store pair before the stream starts.

Reference parity: the reference (alteryx/sparkGLM) has no streaming
surface; this extends the dedup family (SURVEY.md §2 extension ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


def _read_index(spark, index_path: str, exclude_batch_id: int) -> DataFrame | None:
    """The accumulated fingerprint index, or None before the first batch
    lands. Reads only the `fingerprint` column — at scale the index dir
    holds one parquet directory per processed batch and the reader prunes
    to the 32-byte digest column.

    `exclude_batch_id` guards RETRIES: a re-run of batch N must not see
    the fingerprints its own first attempt wrote (it would collide every
    row with itself and overwrite the accepted dir with nothing). The
    batch_id dirname is a partition column, so the != filter prunes that
    directory at the scan."""
    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException as e:
        # ONLY a missing path means "first batch". Anything else (storage
        # error, corrupt footer, permissions) must propagate and fail the
        # batch — swallowing it would silently skip dedup against every
        # prior batch and permanently admit duplicates.
        cond = getattr(e, "getCondition", lambda: None)() or str(e)
        if "PATH_NOT_FOUND" in cond:
            return None
        raise
    return idx.where(F.col("batch_id") != exclude_batch_id).select("fingerprint")


def dedup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    accepted_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    prepare=None,
) -> None:
    """Process ONE micro-batch: drop rows whose content fingerprint is in
    the index or repeated within the batch (min-key winner survives),
    write survivors to `accepted_path/batch_id=N` and their fingerprints
    to `index_path/batch_id=N` — both with overwrite, so a Structured
    Streaming retry of the same batch_id replaces rather than duplicates.
    Usable directly for a batch backfill loop too (it is a plain
    DataFrame function — nothing streaming-specific inside).

    `prepare` (optional, DataFrame → DataFrame) is the curation hook, run
    BEFORE dedup so fingerprints see the curated text (normalize-then-
    dedup is the pipeline standard — whitespace/punctuation variants of
    one document must collide): e.g.
    `lambda b: gopher_quality_filter(normalize_text(b).drop("n_chars_removed"))`.
    It MUST be a pure per-row map/filter — deterministic, no cross-batch
    state, no aggregation over the batch — or the store's
    order-invariance guarantee (and retry idempotence) no longer holds;
    batch-global curation belongs in a batch pass over the accepted
    store."""
    from sparkglm_spark.operators.dedup import (
        content_fingerprints,
        exact_dedup_hashed,
        exact_dedup_incremental,
    )

    if prepare is not None:
        batch = prepare(batch)
    spark = batch.sparkSession
    known = _read_index(spark, index_path, exclude_batch_id=int(batch_id))
    if known is None:
        survivors = exact_dedup_hashed(batch, text_col, key_col)
    else:
        survivors = exact_dedup_incremental(batch, known, text_col, key_col)
    # survivors is consumed twice (accepted write + fingerprint write);
    # persist so the dedup joins run once, and write accepted FIRST — a
    # crash between the writes re-runs the batch, and the second attempt's
    # index read predates its own batch_id dir either way
    survivors = survivors.persist()
    try:
        survivors.write.mode("overwrite").parquet(
            f"{accepted_path}/batch_id={int(batch_id)}"
        )
        content_fingerprints(survivors, text_col, key_col).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/batch_id={int(batch_id)}")
    finally:
        survivors.unpersist()


def _read_sig_index(
    spark, index_path: str, exclude_batch_id: int
) -> DataFrame | None:
    """The accumulated MinHash signature index (id, sig), or None before
    the first batch lands. Same retry discipline as `_read_index`: a
    re-run of batch N prunes its own `batch_id=N` directory at the scan,
    and only a missing path means "first batch"."""
    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)() or str(e)
        if "PATH_NOT_FOUND" in cond:
            return None
        raise
    return idx.where(F.col("batch_id") != exclude_batch_id).select("id", "sig")


def neardup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_docs_per_bucket: int | None = None,
    prepare=None,
) -> None:
    """Process ONE micro-batch through the NEAR-dup ingest gate — the
    MinHash twin of `dedup_ingest_batch`: drop rows whose estimated
    Jaccard against any already-indexed document is ≥ `threshold`
    (`minhash_match_pairs` semantics: signature-estimated, approximate by
    contract), write survivors to `accepted_path/batch_id=N` and their
    SIGNATURES to `index_path/batch_id=N` — per-batch overwrite, so a
    Structured Streaming retry replaces rather than duplicates.

    The batch's signatures are computed ONCE (the zero-shuffle
    `minhash_index` Arrow pass) and reused for both the match and the
    index append — the batch text never shuffles, matching broadcasts the
    batch's signatures and streams the index once without shuffling it
    (batches under the doc cap), and removal is a
    broadcast anti-join of matched ids, so the 100 TB wire profile is the
    batch operator's. Within-batch near-dups are NOT resolved — the
    `minhash_dedup_against` contract (run `minhash_dedup_pairs` over the
    accepted store if the batch itself needs resolving); replayed batches
    therefore converge to exactly the sequential batch-mode composition
    survivors(B_k) = minhash_dedup_against(B_k, index(B_0..B_{k-1})).

    `n`/`num_perm`/`seed`/`hash_fn` are part of the index's schema (the
    `minhash_dedup_against` caveat): every batch and backfill writing to
    one `index_path` must use identical values — signatures built under
    different parameters are incomparable with no in-band error.
    `prepare` is the per-row curation hook of `dedup_ingest_batch`."""
    from sparkglm_spark.operators.dedup import minhash_index, minhash_match_pairs

    if prepare is not None:
        batch = prepare(batch)
    spark = batch.sparkSession
    sig = minhash_index(
        batch, id_col, text_col, n=n, num_perm=num_perm, seed=seed, hash_fn=hash_fn
    ).persist()
    drop = None
    try:
        known = _read_sig_index(spark, index_path, exclude_batch_id=int(batch_id))
        if known is None:
            survivors, surviving_sig = batch, sig
        else:
            hits = minhash_match_pairs(
                sig,
                known,
                threshold=threshold,
                num_perm=num_perm,
                bands=bands,
                max_docs_per_bucket=max_docs_per_bucket,
            )
            # matched ids feed TWO anti-joins (rows + signatures): persist
            # so the banded candidate join runs once per batch
            drop = hits.select(F.col("id_new").alias("id")).distinct().persist()
            survivors = batch.join(
                F.broadcast(drop.withColumnRenamed("id", id_col)),
                id_col,
                "left_anti",
            )
            surviving_sig = sig.join(F.broadcast(drop), "id", "left_anti")
        # accepted FIRST (the dedup_ingest_batch crash-ordering argument)
        survivors.write.mode("overwrite").parquet(
            f"{accepted_path}/batch_id={int(batch_id)}"
        )
        surviving_sig.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={int(batch_id)}"
        )
    finally:
        sig.unpersist()
        if drop is not None:
            drop.unpersist()


def neardup_ingest_writer(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_docs_per_bucket: int | None = None,
    prepare=None,
) -> "pyspark.sql.streaming.DataStreamWriter":  # noqa: F821 (doc type)
    """`foreachBatch` writer running `neardup_ingest_batch` per
    micro-batch — the near-dup twin of `dedup_ingest_writer`, same
    trigger/checkpoint contract and the same checkpoint↔store-pair
    CAUTION (batch_id is the idempotence namespace)."""
    if not stream.isStreaming:
        raise TypeError(
            "neardup_ingest_writer needs a streaming DataFrame (readStream); "
            "for batch corpora call operators.dedup.minhash_dedup_against, "
            "or neardup_ingest_batch per backfill slice"
        )

    def _process(batch: DataFrame, batch_id: int) -> None:
        neardup_ingest_batch(
            batch,
            batch_id,
            index_path,
            accepted_path,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            n=n,
            num_perm=num_perm,
            bands=bands,
            seed=seed,
            hash_fn=hash_fn,
            max_docs_per_bucket=max_docs_per_bucket,
            prepare=prepare,
        )

    return stream.writeStream.foreachBatch(_process)


def dedup_ingest_writer(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    prepare=None,
) -> "pyspark.sql.streaming.DataStreamWriter":  # noqa: F821 (doc type)
    """`foreachBatch` writer running `dedup_ingest_batch` per micro-batch.
    The caller picks trigger/checkpoint and calls `.start()`:

        q = (dedup_ingest_writer(stream, idx, acc)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())

    End state: `accepted_path` holds exactly one copy of every distinct
    content (first-arriving batch wins; min key within a batch), and
    `index_path` holds its fingerprint — the same invariant the batch
    `exact_dedup_incremental` composition test pins, order-invariantly.
    `prepare` is the per-row curation hook documented on
    `dedup_ingest_batch` (normalize/gate/redact before dedup)."""
    if not stream.isStreaming:
        raise TypeError(
            "dedup_ingest_writer needs a streaming DataFrame (readStream); "
            "for batch corpora call operators.dedup.exact_dedup_hashed, or "
            "dedup_ingest_batch per backfill slice"
        )

    def _process(batch: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(
            batch, batch_id, index_path, accepted_path, text_col, key_col,
            prepare=prepare,
        )

    return stream.writeStream.foreachBatch(_process)
