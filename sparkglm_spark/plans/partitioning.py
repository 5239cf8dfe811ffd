"""Partitioning helpers shared by operators.

Spark sizes map-stage parallelism by input splits. Small inputs (one parquet
file → one task) serialize every downstream per-row computation onto a
single core, which is exactly wrong for compute-dense operators (shingling,
minhash, vectorized scans). `ensure_parallel` fans such inputs out to the
session's parallelism; at real scale inputs already have >> cores splits and
it is a no-op (no shuffle inserted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row


def _rdd_partitions_if_free(df: DataFrame) -> int | None:
    """Post-plan partition count via `.rdd`, but ONLY when converting to
    an RDD runs no jobs. Under AQE, `df.rdd` MATERIALIZES every exchange
    below the final stage as real Spark jobs (measured in r15: 7 jobs /
    ~0.8 s warm just to read the partition count of the corpus-prep
    survivor frame — the whole quality projection + drop-list aggregation
    executed and was thrown away). Rendering the executed-plan string
    runs nothing (the AQE wrapper prints `isFinalPlan=false`), so probe
    that first and return None ("unknown, not free to find out") for any
    exchange-bearing plan."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    if "Exchange" in plan:
        return None
    return df.rdd.getNumPartitions()


def _plan_size_estimate(df: DataFrame) -> int:
    """The optimizer's sizeInBytes estimate for the plan — pure logical-
    plan statistics, no execution. Used as the at-scale guard when the
    partition count is not free to read (`_rdd_partitions_if_free` →
    None): estimates are inexact for derived frames, but the guard only
    decides whether a bounded probe is WORTH running, never what a query
    computes."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 62  # unknown → treat as huge (skip the probe)


def collect_small(df: DataFrame) -> list[Row]:
    """Collect a result of a few rows (a one-row aggregate, per-fold or
    per-group totals) with adaptive query execution off. This is the one
    writer of `spark.sql.adaptive.enabled` in the package.

    Why: AQE turns every aggregate collect into TWO jobs (map-stage
    materialization, then the final read) with a scheduling barrier
    between them. For a result of a handful of rows there is nothing to
    adapt — the exchange carries numPartitions rows at any data scale — so
    the barrier is pure latency (measured: GLM IRLS 12 jobs → 5,
    bit-identical results). The previous value is restored in a `finally`,
    also when the collect raises.

    PRECONDITION: not thread-safe — the flag is session-global, so a
    concurrent query on the same session that NEEDS AQE (skew joins,
    coalescing) may plan without it while this collect runs. The fitters
    calling this run their loops single-threaded by construction."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    has fewer partitions (tiny local inputs); no-op otherwise. Streaming
    frames are returned untouched (no .rdd access on a streaming plan).

    The repartition is followed by a LAZY materialization barrier
    (`localCheckpoint(eager=False)`): a bare `repartition(n)` is
    pushdown-transparent, so Catalyst moves any downstream deterministic
    filter BELOW the exchange — right back onto the under-split scan,
    where its expressions (quality scoring, language ID, term matching)
    serialize on one core; the exchange then only fans out the survivors
    whose heavy columns get recomputed above. Measured on the corpus
    pipeline: the entire quality+language filter ran as 1 task at 32
    cores. The checkpoint pins the plan boundary (filters evaluate on the
    fanned-out partitions) at the cost of materializing the SMALL input
    once — and at real scale this whole function is a no-op, so neither
    the exchange nor the barrier exists."""
    if df.isStreaming:
        return df
    ncores = df.sparkSession.sparkContext.defaultParallelism
    # exchange-bearing plans: reading the partition count would EXECUTE
    # the plan (see _rdd_partitions_if_free) — and their output already
    # carries post-shuffle partitioning, so leave them alone; the
    # under-split problem this function fixes is a property of raw scans
    n = _rdd_partitions_if_free(df)
    if n is not None and n < ncores:
        return df.repartition(ncores).localCheckpoint(eager=False)
    return df


def fanout_groups(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Pre-partition a grouped-applyInPandas input by its keys with an
    EXPLICIT width.

    Why: AQE's partition coalescing targets BYTES
    (advisoryPartitionSizeInBytes ≈ 64 MB), which is the wrong cost
    model for Python-bound per-key folds — a 5 MB shuffle coalesces to
    1-2 partitions and every Arrow batch's interpreter work serializes
    onto 1-2 cores of a 32-core box (measured: the r10 timeseries bench
    line ran its 1500 per-key folds as 2 tasks, 3-4 s per operator;
    explicit fan-out cut it ~4×). An explicit numPartitions repartition
    is exempt from AQE coalescing, and the downstream
    groupBy(keys).applyInPandas reuses the clustering — hashpartitioning
    on the keys satisfies its required distribution, so NO second
    exchange appears (same exchange count as before, just a pinned
    width).

    Width = spark.sql.shuffle.partitions — the user's parallelism knob,
    already sized to the cluster; at real scale this matches what the
    exchange would have had before coalescing. Streaming frames pass
    through untouched.

    `key_cols=[]` → round-robin: for fanning out an ALREADY-REDUCED
    tiny table (e.g. a per-group Gram frame feeding mapInPandas solves)
    where a keyed repartition would match the upstream aggregation's
    output partitioning and be optimizer-eliminated — round-robin is a
    genuinely different distribution, so the exchange survives, and the
    downstream mapInPandas needs no clustering."""
    if df.isStreaming:
        return df
    from pyspark.sql import functions as F

    try:
        # non-integer values exist in the wild (e.g. "auto" under
        # auto-optimized shuffle) — fall back to the core count
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = df.sparkSession.sparkContext.defaultParallelism
    if not key_cols:
        return df.repartition(n)
    return df.repartition(n, *[F.col(c) for c in key_cols])


def apply_grouped(
    frame: DataFrame, key_schema, group_cols: list[str], cols, fields,
    fit_group,
) -> DataFrame:
    """The grouped-fit harness: run `fit_group(pdf) -> rows` once per
    group over the group keys plus `cols` (None entries skipped), fanned
    out to the shuffle width (`fanout_groups`). Each returned row is a
    tuple of the values of `fields` (a DDL column list); the harness
    prepends the group key (read once per group) and builds the
    long-format frame, whose schema is the key fields of `key_schema`
    (the caller's input) then `fields`."""
    import pandas as pd
    from pyspark.sql import types as T

    gcols = list(group_cols)
    schema = T.StructType(
        [key_schema[c] for c in gcols] + T.StructType.fromDDL(fields).fields
    )
    names = schema.fieldNames()

    def run(pdf):
        key = tuple(pdf[c].iloc[0] for c in gcols)
        return pd.DataFrame(
            [key + tuple(r) for r in fit_group(pdf)], columns=names
        )

    sel = [*gcols, *[c for c in cols if c]]
    return fanout_groups(frame.select(*sel), gcols).groupBy(
        *gcols
    ).applyInPandas(run, schema)


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def require_integral_id(df: DataFrame, col: str, op_name: str) -> None:
    """Raise a clear plan-time error when `col` is not an integral type.

    Operators whose arithmetic is defined over integer ids (bucket routing,
    min-label components) would otherwise cast strings/doubles with
    engine-mode-dependent results: under ANSI a bad cast fails deep inside
    a running job; with ANSI off it silently NULLs every id — an empty
    clustering or a single NULL bucket with no error. Failing here, with
    the remedy in the message, is the only mode-independent behavior."""
    t = df.schema[col].dataType.simpleString()
    if t not in _INTEGRAL_TYPES:
        raise TypeError(
            f"{op_name} requires an integral id column; {col!r} has type "
            f"{t}. Map non-integer ids to stable longs first (e.g. "
            f"F.xxhash64(col) for hashing, or a precomputed dense id)."
        )


# the size gate's threshold: more splits than this (or, for exchange-
# bearing plans, more estimated bytes than this many 128 MB splits) and a
# driver-side probe is not worth its jobs
_PROBE_MAX_PARTITIONS = 256


def too_big_to_probe(df: DataFrame) -> bool:
    """The one size gate of the cost-based planners: True when `df` is
    certainly too large for a bounded driver-side probe (a vocab scan, a
    row count), decided with ZERO jobs. The partition count is read only
    when free (`_rdd_partitions_if_free`); exchange-bearing plans gate on
    the optimizer's size estimate instead. Derived (post-shuffle) frames
    report spark.sql.shuffle.partitions regardless of row count, and at
    real scale even a limit-capped count pays the full upstream
    computation, so the gate only picks which probing strategy runs,
    never what a query computes."""
    n = _rdd_partitions_if_free(df)
    if n is None:
        return _plan_size_estimate(df) > _PROBE_MAX_PARTITIONS * (128 << 20)
    return n > _PROBE_MAX_PARTITIONS


def bounded_row_probe(df: DataFrame, cap: int, always_count: bool = False) -> int:
    """Row count for cost-based planners, bounded two ways: the count runs
    under limit(cap+1) so a huge input stops counting at cap+1 instead of
    scanning everything, and inputs `too_big_to_probe` skip the probe
    outright and report cap+1. Pass always_count=True for callers whose
    contract REQUIRES the answer (e.g. a hard size gate). Returns the
    exact count when it is ≤ cap, and any value > cap means "larger than
    cap"."""
    if not always_count and too_big_to_probe(df):
        return cap + 1
    return df.limit(cap + 1).count()
