"""Time-series utilities over event tables: fixed-grid resampling with
gap fill, and frame-based moving aggregates.

The reference has no temporal operators (SURVEY §2.5/§2.9 — none); these
are north-star extensions for event/telemetry pipelines. Both are built
from declarative primitives so Catalyst keeps pushdown/pruning:

- `resample_counts` — two aggregations over the same shuffle key family
  (the raw table is shuffled ONCE, on (group, bucket); the per-group
  bounds aggregate runs over the already-reduced bucket table, which is
  O(groups × buckets), not O(rows)). The dense grid is generated with
  `sequence()` + `explode` — per GROUP, not per row — and the counts
  re-attach with a join on the grid side (tiny relation at any data
  scale: 1000 event types × 10 years of hours ≈ 9e7 rows, independent
  of the 100 TB fact table).
- `moving_aggregate` — one window pass with a RANGE frame over an
  integer day index; runs over a pre-aggregated daily table, so state
  per partition is bounded by the frame width.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkglm_spark.plans.caching import CacheRegistry
from sparkglm_spark.plans.partitioning import fanout_groups

_UNIT_SECONDS = {"hour": 3600, "day": 86400, "minute": 60}

_CACHES = CacheRegistry()


def _sorted_output(out: DataFrame, key_col: str) -> DataFrame:
    """The cosmetic key sort on a per-key result, without re-running its
    producer (r14, guide §2.4/§5): `orderBy` plans a range exchange whose
    bounds sampling executes the CHILD a second time — for the per-key
    Arrow folds here that doubles the whole Python pass (measured ~0.7 s
    per operator at sf0.1). Persisting the compact per-key frame first
    (one row per key; registry-scoped so a long session stays bounded)
    makes the sampling read the cache. Values and row set unchanged."""
    return _CACHES.persist(out).orderBy(key_col)


def _fold_partitions(base, key_col, sort_cols, make_fold, schema):
    """Per-key fold engine over key-partitioned, key-sorted partitions
    (r14, guide §4): ONE mapInPandas pass instead of
    groupBy().applyInPandas(). applyInPandas pays a Python call, a
    per-group pandas sort and a 1-row DataFrame construction per KEY —
    measured ~0.8 s of pure dispatch for the sf0.1 events table's 1500
    keys before any fold work — while this engine sorts ONCE in the JVM
    (sortWithinPartitions rides the fanout exchange; nulls-last to match
    pandas sort_values) and hands each key a contiguous [s, e) slice.
    fanout_groups pins the partition width exactly as the applyInPandas
    shape did.

    MEMORY CONTRACT (r15, ADVICE r14): Arrow batches stream through a
    carry buffer — complete keys are folded and yielded per input batch,
    only the (possibly batch-spanning) FINAL key of each batch is held
    back — so a task holds one Arrow batch plus the largest single key's
    history, the same bound as the grouped-map shape it replaced, not the
    whole partition. Output frames are per-batch too, so per-row folds
    never emit one partition-sized record batch.

    NULL vs NaN keys (ADVICE r14): for float keys, Spark NULL converts to
    the same pandas NaN as a real NaN key, and the nulls-last sort makes
    the two blocks adjacent — a JVM-computed null-indicator column rides
    along (float keys only) so the boundary detection keeps them separate
    folds, matching groupBy semantics. (The key VALUE emitted for a NULL
    group is still pandas NaN — the same Arrow conversion artifact the
    applyInPandas shape had.)

    `make_fold(pdf)` runs once per processed slice (hoist .to_numpy()
    here) and returns `fold(s, e) -> dict[col, list]` — equal-length
    column lists for one key's output rows, keys in SCHEMA ORDER (the
    frame is built from the first key's dict order)."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, FloatType

    key_is_float = isinstance(
        base.schema[key_col].dataType, (DoubleType, FloatType)
    )
    if key_is_float:
        base = base.withColumn("__knull", F.col(key_col).isNull())
    ranged = fanout_groups(base, [key_col]).sortWithinPartitions(
        F.col(key_col).asc_nulls_last(),
        *[F.col(c).asc_nulls_last() for c in sort_cols],
    )

    def run(batches):
        import numpy as np

        def starts_of(pdf):
            # use_na_sentinel=False: NA keys get a real code, so an
            # all-NA block is one fold, not a -1 run merged with nothing
            codes = pd.factorize(pdf[pdf.columns[0]], use_na_sentinel=False)[0]
            change = codes[1:] != codes[:-1]
            if key_is_float:
                kn = pdf["__knull"].to_numpy()
                change = change | (kn[1:] != kn[:-1])
            return np.flatnonzero(np.concatenate(([True], change)))

        def emit(pdf):
            starts = starts_of(pdf)
            ends = np.append(starts[1:], len(pdf))
            fold = make_fold(
                pdf.drop(columns="__knull") if key_is_float else pdf
            )
            pieces = [fold(int(s), int(e)) for s, e in zip(starts, ends)]
            cols = {c: [] for c in pieces[0]}
            for p in pieces:
                for c, vals in p.items():
                    cols[c].append(vals)

            # a piece may be a plain list (scalar folds), a pandas Series
            # slice (per-row folds keeping the input dtype) or an extension
            # array — pd.concat of fresh-indexed Series covers all three
            # (indexes are dropped: column-wise slices must align by POSITION)
            def col_of(vs):
                if len(vs) == 1:
                    return pd.Series(vs[0]).reset_index(drop=True)
                return pd.concat(
                    [pd.Series(v) for v in vs], ignore_index=True
                )

            return pd.DataFrame({c: col_of(vs) for c, vs in cols.items()})

        carry = None
        for chunk in batches:
            if carry is not None:
                chunk = pd.concat([carry, chunk], ignore_index=True)
                carry = None
            if not len(chunk):
                continue
            starts = starts_of(chunk)
            last = int(starts[-1])
            if last == 0:
                # one key so far — it may continue into the next batch
                carry = chunk
                continue
            carry = chunk.iloc[last:].reset_index(drop=True)
            yield emit(chunk.iloc[:last].reset_index(drop=True))
        if carry is not None and len(carry):
            yield emit(carry)

    return ranged.mapInPandas(run, schema)


def _drop_null_values(df: DataFrame, value_expr) -> DataFrame:
    """Family-wide null policy for the per-key smoothing operators
    (ewma_latest / ewma_series / holt_series / holt_forecast and their
    streaming twins): rows whose VALUE is null or NaN are DROPPED before
    the fold — they carry no information for the smoothing state, and
    letting them through would either bias the weight denominator
    (ewma_latest) or NaN-poison the rest of the key's recursion (Holt).
    A key whose values are all null/NaN disappears from the output."""
    return df.where(value_expr.isNotNull() & ~F.isnan(value_expr))


def _ts_axis(df: DataFrame, ts_col: str):
    """The family's time axis as a number, for ordering and for the
    regular-grid checks: epoch micros of the instant for TIMESTAMP (LTZ),
    epoch micros of the wall clock for TIMESTAMP_NTZ, epoch micros of
    midnight for DATE (the unit the streams' grid trackers have always
    stored in their checkpoints), the value cast to double otherwise.
    No timestamp goes through the session zone: Spark's LTZ−LTZ
    subtraction reads local wall clocks (a regular hourly grid across a
    DST fall-back showed a 0-second spacing), `timestamp_diff` maps NTZ
    through the zone (02:00 and 03:00 on a spring-forward day came out
    equal), and pandas' zone-local naive datetimes mis-sort the repeated
    fall-back hour.
    NTZ − NTZ is a pure wall-clock interval, read out exactly as
    decimal seconds."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    c = F.col(ts_col)
    t = df.schema[ts_col].dataType
    if isinstance(t, TimestampType):
        return F.unix_micros(c)
    if isinstance(t, TimestampNTZType):
        wall = c - F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
        secs = wall.cast("interval second").cast("decimal(20,6)")
        return (secs * 1000000).cast("long")
    if isinstance(t, DateType):
        return F.unix_date(c).cast("long") * 86400000000
    return c.cast("double")


def _fold_base(df, key_col, ts_col, value_col, tiebreak_col):
    """The ordered per-key input of a sequential fold: family null policy,
    then (key, __ts, __x[, __tb]). Returns (base, sort_cols, key_type)."""
    df = _drop_null_values(df, F.col(value_col).cast("double"))
    sort_cols = ["__ts"] + (["__tb"] if tiebreak_col else [])
    base = df.select(
        F.col(key_col),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__x"),
        *([F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []),
    )
    return base, sort_cols, base.schema[key_col].dataType.simpleString()


def _interval_z(interval: bool, level: float):
    """The two-sided normal quantile of a prediction interval at `level`,
    None when no interval is asked (`level` is validated either way)."""
    if not 0.0 < level < 1.0:
        raise ValueError("level must be in (0, 1)")
    if not interval:
        return None
    from sparkglm_spark.functions.special import norm_ppf

    return float(norm_ppf(0.5 + level / 2.0))


def resample_counts(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    unit: str = "hour",
) -> DataFrame:
    """Per-group counts on a fixed `unit` grid with missing buckets
    zero-filled over each group's own [min, max] span.

    Output: group_cols + `bucket` (timestamp) + `n_events` (0 for gaps).
    """
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported unit {unit!r}; use {sorted(_UNIT_SECONDS)}")
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    counts = df.groupBy(*group_cols, bucket).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = counts.groupBy(*group_cols).agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        *group_cols,
        F.explode(F.expr(f"sequence(lo, hi, interval 1 {unit})")).alias("bucket"),
    )
    return grid.join(counts, on=[*group_cols, "bucket"], how="left").select(
        *group_cols,
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


def moving_aggregate(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    window_days: int = 7,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Trailing `window_days`-day moving sum/avg via a RANGE frame over an
    integer day index (gap-aware: a RANGE frame over days-since-epoch sees
    calendar days, not physical rows, so date gaps shrink the window
    instead of silently widening it like a ROWS frame would).

    `daily` must already be one row per (partition…, day) — aggregate first
    so the window pass streams a small relation.

    `partition_cols` is required: a windowed pass with no partition key
    plans a single-partition WindowExec — every row through one task, the
    100 TB anti-pattern. For a genuinely global series, pre-aggregate to
    one row per day first (the result is then tiny) and pass
    `partition_cols=[]` explicitly to acknowledge the single-partition run.
    """
    if partition_cols is None:
        raise ValueError(
            "moving_aggregate requires partition_cols (pass [] explicitly "
            "for a pre-aggregated global series — single-partition window)"
        )
    base = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    )
    day_num = F.datediff(F.col(day_col), F.lit("1970-01-01")).cast("long")
    w = base.orderBy(day_num.asc()).rangeBetween(
        -(window_days - 1), Window.currentRow
    )
    return daily.select(
        "*",
        F.sum(value_col).over(w).alias(f"{value_col}_mov_sum"),
        F.avg(value_col).over(w).alias(f"{value_col}_mov_avg"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


def latest_state(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Changelog compaction: the most recent row per key, "most recent" =
    lexicographic max over `order_cols` (include a unique tiebreaker, e.g.
    an event id, to make the winner deterministic).

    Plan shape: groupBy(key).agg(max_by(struct(values), struct(order))) —
    a PARTIAL-AGGREGABLE single shuffle. The alternative row_number()
    window needs a full sort of every key's history; max_by reduces
    map-side, so the wire carries one candidate row per (key, map
    partition) no matter how long each key's changelog is — the right
    plan for compacting a 100 TB event log into current state.

    Streaming twin: `streaming.events.latest_state_stream` (O(1)-state
    applyInPandasWithState; last update per key converges to this batch
    result — equivalence asserted in tests/test_streaming.py)."""
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    val_struct = F.struct(*[F.col(c) for c in order_cols + value_cols])
    agg = df.groupBy(*key_cols).agg(
        F.max_by(val_struct, ord_struct).alias("__latest")
    )
    return agg.select(
        *key_cols,
        *[F.col(f"__latest.{c}").alias(c) for c in order_cols + value_cols],
    )


def rolling_event_window(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    window_seconds: int,
) -> DataFrame:
    """Per-event trailing-window aggregates: for every event, the count
    and value-sum of the SAME key's events in the closed interval
    [ts − window, ts]. One window pass with a RANGE frame over exact
    epoch MICROSECONDS (integer arithmetic — engine-portable, no
    float-second truncation), state per partition bounded by the frame
    width. Appends `n_window` and `sum_window`.

    A NUMERIC `ts_col` is taken in its own units (the frame offset is
    `window_seconds` unscaled) — the same convention as asof_join's
    tolerance; only timestamp columns get the µs scaling.

    BATCH-ONLY BY CONTRACT. Per-event trailing aggregates are not exactly
    computable under Structured Streaming's no-retraction model: an event
    arriving late (but inside the watermark) falls inside the trailing
    window of events whose rows were ALREADY emitted, so their n/sum would
    need retraction — exactly what update/append sinks cannot do. Any
    streaming "twin" is therefore either wrong on late data or a different
    operator. The streaming-native alternatives are
    `streaming.events.windowed_event_stats` (tumbling windows + watermark,
    one row per window — emitted once the watermark closes it) and
    `streaming.events.latest_state_stream` (per-key champion state); for
    true per-event trailing aggregates, run this operator in batch over the
    landed event log."""
    from sparkglm_spark.operators.asof import _TS_TYPES, _ts_num

    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    dtype = df.schema[ts_col].dataType
    # NTZ-safe epoch-µs ordering key (timezone-independent; see asof.py);
    # numeric ts columns pass through, so their frame must NOT be scaled
    micros = _ts_num(F.col(ts_col), dtype)
    scale = 1_000_000 if isinstance(dtype, _TS_TYPES) else 1
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(micros)
        .rangeBetween(-window_seconds * scale, 0)
    )
    return df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.sum(value_col).over(w).alias("sum_window"),
    )


def ewma_latest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key CURRENT exponentially-weighted moving average — the
    "adjusted" EWMA (pandas `ewm(adjust=True)` convention):

        s = Σᵢ (1−α)^(rankᵢ) · xᵢ  /  Σᵢ (1−α)^(rankᵢ)

    with rank 0 = the key's newest event. Output: (key, n_events, ewma,
    last_ts). The state every online feature store keeps per entity,
    computed batch-side.

    Plan: ONE hash shuffle on the key (the row_number window); the
    follow-up groupBy(key) reuses that partitioning — Catalyst inserts no
    second exchange (plan-asserted). Weights (1−α)^rank UNDERFLOW to zero
    for ancient events (harmless — they contribute nothing), never
    overflow. Ancient history costs nothing numerically but still scans;
    pre-filter by a ts horizon when the table is truly unbounded.

    Ordering ties: same-key same-ts rows get an arbitrary rank order.
    Pass `tiebreak_col` (e.g. an event id) for a total order — required
    for deterministic results when duplicate timestamps exist.

    NULL POLICY (family-wide — see `_drop_null_values`): rows with a
    null/NaN value are dropped before ranking; `n_events` and `last_ts`
    count only retained rows; an all-null key is absent from the
    output."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    df = _drop_null_values(df, F.col(value_col).cast("double"))
    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    decay = F.pow(F.lit(1.0 - alpha), F.row_number().over(w) - F.lit(1))
    ranked = df.select(
        F.col(key_col),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__x"),
        decay.alias("__w"),
    )
    return (
        ranked.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("__w") * F.col("__x")) / F.sum("__w")).alias("ewma"),
            F.max("__ts").alias("last_ts"),
        )
        .orderBy(key_col)
    )


def ewma_series(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    adjust: bool = False,
    output_col: str = "ewma",
) -> DataFrame:
    """Full per-row EWMA trajectory per key — the recursive form
    s_t = α·x_t + (1−α)·s_{t−1} (adjust=False, s_1 = x_1), or the
    adjusted weighted-mean form (pandas `ewm` semantics for either flag).

    The recursion is inherently sequential PER KEY, so this runs as an
    Arrow-batched per-key fold (`_fold_partitions`) — the shape for
    per-entity stateful passes (each key's history must fit one executor's
    Arrow batch; keys are independent, so 100 TB of keys parallelizes).
    Appends `output_col` to (key, ts, value) rows.

    NULL POLICY (family-wide — see `_drop_null_values`): rows with a
    null/NaN value are dropped before the fold (they are NOT in the
    output and do not advance the EWMA state); an all-null key is
    absent from the output."""
    import pandas as pd

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    df = _drop_null_values(df, F.col(value_col).cast("double"))
    base = df.select(
        F.col(key_col),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__x"),
    )
    schema = (
        f"{key_col} {base.schema[key_col].dataType.simpleString()}, "
        f"__ts {base.schema['__ts'].dataType.simpleString()}, "
        f"__x double, {output_col} double"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]]
        tss = pdf["__ts"]
        xcol = pdf["__x"]
        return lambda s, e: {
            key_col: ks.iloc[s:e],
            "__ts": tss.iloc[s:e],
            "__x": xcol.iloc[s:e],
            output_col: xcol.iloc[s:e].ewm(alpha=alpha, adjust=adjust).mean(),
        }

    out = _fold_partitions(base, key_col, ["__ts"], make_fold, schema)
    return out.select(
        F.col(key_col),
        F.col("__ts").alias(ts_col),
        F.col("__x").alias(value_col),
        F.col(output_col),
    )


@_CACHES.scoped
def ewma_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    horizons: list[int] = (1,),
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Per-key simple-exponential-smoothing END STATE + flat h-step
    forecasts ŷ_{T+h} = l_T (SES forecasts are constant in h — use
    `holt_forecast` when series drift) — completes the smoothing
    family's forecast surface below Holt/Holt-Winters. Recursion
    l_t = α·x_t + (1−α)·l_{t−1}, l₁ = x₁ (the `ewma_series`
    adjust=False form).

    `interval=True` adds (se_<h>, lo_<h>, hi_<h>): the innovations
    interval with c_j = α for every lag (a one-step error moves the
    level by α and the flat forecast carries it), so
    Var(ŷ_{T+h}) = σ̂²·(1 + (h−1)·α²) with σ̂² the mean squared
    one-step residual (n−1 of them); normal-quantile bounds; single-row
    keys report NULL se/lo/hi.

    NULL POLICY (family-wide — see `_drop_null_values`): null/NaN value
    rows are dropped before the fold."""
    import numpy as np
    import pandas as pd

    if not horizons:
        raise ValueError("horizons must be non-empty")
    if any(int(h) < 1 for h in horizons):
        raise ValueError("horizons must be >= 1")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    hs = [int(h) for h in horizons]
    zq = _interval_z(interval, level)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    fcols = ", ".join(f"forecast_{h} double" for h in hs)
    if interval:
        fcols += ", " + ", ".join(
            f"se_{h} double, lo_{h} double, hi_{h} double" for h in hs
        )
    schema = (
        f"{key_col} {key_t}, "
        f"n_events bigint, level double, {fcols}"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]].to_numpy()
        xs = pdf["__x"].to_numpy(np.float64)
        return lambda s, e: fold_one(ks, xs, s, e)

    def fold_one(ks, xs, s, e):
        x = xs[s:e]
        n = e - s
        lvl = x[0]
        sse = 0.0
        for i in range(1, n):
            sse += (x[i] - lvl) * (x[i] - lvl)
            lvl = alpha * x[i] + (1.0 - alpha) * lvl
        row = {
            key_col: [ks[s]],
            "n_events": [n],
            "level": [lvl],
        }
        for h in hs:
            row[f"forecast_{h}"] = [lvl]
        if interval:
            sig2 = sse / (n - 1) if n > 1 else None
            for h in hs:
                se = (
                    None
                    if sig2 is None
                    else float(np.sqrt(sig2 * (1.0 + (h - 1) * alpha * alpha)))
                )
                row[f"se_{h}"] = [se]
                row[f"lo_{h}"] = [None if se is None else lvl - zq * se]
                row[f"hi_{h}"] = [None if se is None else lvl + zq * se]
        return row

    return _fold_partitions(
        base, key_col, sort_cols, make_fold, schema
    ).transform(_sorted_output, key_col)



# (z, p, q, n, nd, bad, sse, me): size and interval/probability smoothers,
# periods since the last demand, periods, demands, the negative-demand
# flag and the interval error accumulators
_INTERMITTENT_INIT = (None, None, 0, 0, 0, False, 0.0, 0)


def _intermittent_step(method, state, x, alpha, beta, factor, interval):
    """One Croston ("croston") or TSB ("tsb") fold over the ordered demands
    `x` from `state` (`_INTERMITTENT_INIT` layout) — the batch forecasters
    fold a key's whole history in one call, the streaming twins one
    micro-batch per call, so both run the same scalar expressions in the
    same order and agree bit for bit. A negative demand sets `bad` for
    good (the key reports NULL state); later calls only count periods.
    With `interval`, each period's one-step error against the state
    ENTERING it accumulates into (sse, me) once state exists."""
    z, p, q, n, nd, bad, sse, me = state
    n += len(x)
    if bad or bool(np.any(x < 0.0)):
        return z, p, q, n, nd, True, sse, me
    croston = method == "croston"
    for v in x.tolist():
        if interval and z is not None:
            e = v - (factor * z / p if croston else p * z)
            sse += e * e
            me += 1
        if croston:
            q += 1
            if v > 0.0:
                nd += 1
                if z is None:
                    z, p = v, float(q)
                else:
                    z = alpha * v + (1.0 - alpha) * z
                    p = alpha * float(q) + (1.0 - alpha) * p
                q = 0
        elif z is None:
            q += 1
            if v > 0.0:
                nd += 1
                z, p = v, 1.0 / float(q)
        else:
            p = beta * (1.0 if v > 0.0 else 0.0) + (1.0 - beta) * p
            if v > 0.0:
                nd += 1
                z = alpha * v + (1.0 - alpha) * z
    return z, p, q, n, nd, False, sse, me


def _intermittent_row(method, state, factor, interval, zq):
    """The output columns of an `_intermittent_step` state (no key):
    n_periods, n_demands, size, interval|probability, forecast and, with
    `interval`, se/lo/hi (NULL below 2 measured errors)."""
    z, p, _q, n, nd, bad, sse, me = state
    if bad:
        nd = z = p = None
    fc = None if z is None else factor * z / p if method == "croston" else p * z
    row = {
        "n_periods": n,
        "n_demands": nd,
        "size": z,
        "interval" if method == "croston" else "probability": p,
        "forecast": fc,
    }
    if interval:
        se = float(np.sqrt(sse / (me - 1))) if fc is not None and me >= 2 else None
        row["se"] = se
        row["lo"] = None if se is None else fc - zq * se
        row["hi"] = None if se is None else fc + zq * se
    return row


def _intermittent_forecast(
    df, key_col, ts_col, value_col, tiebreak_col, method, alpha, beta,
    factor, interval, level,
):
    """Batch driver of `croston_forecast`/`tsb_forecast`: family null
    policy, one `_intermittent_step` over each key's ordered history,
    one `_intermittent_row` per key."""
    import pandas as pd

    zq = _interval_z(interval, level)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    second = "interval" if method == "croston" else "probability"
    schema = (
        f"{key_col} {key_t}, "
        f"n_periods bigint, n_demands bigint, size double, {second} double, "
        "forecast double"
        + (", se double, lo double, hi double" if interval else "")
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]].to_numpy()
        xs = pdf["__x"].to_numpy(np.float64)

        def fold(s, e):
            st = _intermittent_step(
                method, _INTERMITTENT_INIT, xs[s:e], alpha, beta, factor,
                interval,
            )
            row = _intermittent_row(method, st, factor, interval, zq)
            return {key_col: [ks[s]], **{c: [v] for c, v in row.items()}}

        return fold

    return _fold_partitions(
        base, key_col, sort_cols, make_fold, schema
    ).transform(_sorted_output, key_col)


@_CACHES.scoped
def croston_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    variant: str = "classic",
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Croston's method per key — the standard forecaster for
    INTERMITTENT demand (series that are mostly zero with occasional
    positive demands: spare parts, long-tail SKUs, rare-event counts),
    where SES/Holt systematically lag to near-zero between demands
    (public convention: Croston 1972; Syntetos & Boylan 2005 for the
    "sba" bias correction; statsmodels has no Croston — R's tsintermittent
    / forecast::croston):

        at each period with demand d > 0 (q = periods since the
        previous demand, starting at the first demand with q = its
        1-based position):
            z ← α·d + (1−α)·z        (demand-SIZE smoother, z₁ = d₁)
            p ← α·q + (1−α)·p        (inter-demand INTERVAL smoother,
                                      p₁ = q₁)
        per-period forecast = z/p   ("classic")
                            = (1 − α/2)·z/p   ("sba" — Syntetos-Boylan
                              approximately-unbiased correction)

    Zero periods update NOTHING (Croston's defining property). A key
    containing a NEGATIVE demand reports NULL state (n_demands/size/
    interval/forecast NULL with n_periods kept — the grouped NULL
    policy; intermittent demand is non-negative by definition, and the
    per-key check costs no extra data pass, r12); an all-zero key
    reports NULL state (nothing to size). Returns one compact row per
    key: (n_periods, n_demands, size, interval, forecast).

    `interval=True` (r14) adds (se, lo, hi) — the PER-PERIOD demand
    prediction interval, flat in h like the point forecast:
    σ̂² is the mean squared one-step in-sample error e_t = d_t − f_{t−1}
    measured at EVERY period once state exists (zero periods included —
    the forecast is a per-period demand rate, so a zero is a real
    observation of it), normal-quantile bounds forecast ± z·σ̂. This is
    the family's empirical-residual convention (`ewma_forecast`), not
    the parametric Syntetos-Boylan variance — under lumpy zero-inflated
    demand the residual mix IS the uncertainty, and the in-sample MSE
    captures it without a distributional assumption on sizes. Keys with
    fewer than 2 measured errors (or NULL state) report NULL se/lo/hi.

    Same per-key-sequential fold shape as `ewma_forecast`;
    NULL POLICY (family-wide — `_drop_null_values`): null/NaN value
    rows are dropped before the fold (they are MISSING periods, not
    zero-demand periods)."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    if variant not in ("classic", "sba"):
        raise ValueError(f"variant must be 'classic' or 'sba', got {variant!r}")
    factor = 1.0 - alpha / 2.0 if variant == "sba" else 1.0
    return _intermittent_forecast(
        df, key_col, ts_col, value_col, tiebreak_col, "croston", alpha, None,
        factor, interval, level,
    )


@_CACHES.scoped
def tsb_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    beta: float = 0.1,
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Teunter-Syntetos-Babai (TSB, 2011) per key — the
    OBSOLESCENCE-AWARE intermittent-demand forecaster. Croston's
    interval smoother only updates at demand points, so its forecast
    never decays during a demand pause (a discontinued SKU forecasts
    its last rate forever); TSB smooths the demand PROBABILITY every
    period instead:

        every period:       p ← β·1{d > 0} + (1−β)·p
        at demand periods:  z ← α·d + (1−α)·z
        per-period forecast = p·z

    Init convention (documented — R tsintermittent's `tsb` initializes
    similarly from the first demand): at the FIRST demand with q = its
    1-based position, z₁ = d₁ and p₁ = 1/q₁ (the reciprocal of the
    observed first interval); the every-period p-recursion runs from
    the NEXT period on. Same contracts as `croston_forecast`
    otherwise: a key with a negative demand NULL-degrades (per-key
    check, no extra pass — r12), all-zero keys report NULL state, the
    family null policy drops null/NaN periods. Returns one row per
    key: (n_periods, n_demands, size, probability, forecast).

    `interval=True` (r14): (se, lo, hi) exactly as `croston_forecast` —
    empirical one-step per-period MSE (errors e_t = d_t − p·z measured
    against the state ENTERING period t, every period once state
    exists), normal-quantile bounds, NULL below 2 measured errors."""
    for nm, v in (("alpha", alpha), ("beta", beta)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{nm} must be in (0, 1), got {v!r}")
    return _intermittent_forecast(
        df, key_col, ts_col, value_col, tiebreak_col, "tsb", alpha, beta,
        1.0, interval, level,
    )


def holt_series(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    tiebreak_col: str | None = None,
    phi: float = 1.0,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key — level AND
    trend state, the next step up from EWMA when series drift (public
    convention: Holt 1957; statsmodels `Holt` with the simple
    initialization), with the optional DAMPED trend of Gardner &
    McKenzie 1985 (`phi` < 1; statsmodels `Holt(damped_trend=True)`):

        l_t = α·x_t + (1−α)·(l_{t−1} + φ·b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}

    `phi=1` (the default) is EXACTLY undamped Holt — the φ=1 code path
    multiplies by 1.0, which is bit-identical, so existing pins and
    stream continuations are unaffected. φ ∈ (0, 1] per the
    Gardner-McKenzie convention (φ > 1 explodes; use plain Holt for
    locally-linear growth).

    initialized l_1 = x_1, b_1 = x_2 − x_1 (a single-row key gets
    b = 0). Appends `level`, `trend` and the one-step-ahead `fitted`
    (= l_{t−1} + φ·b_{t−1}, NULL for the first row — the standard
    in-sample forecast for residual diagnostics).

    The recursion is sequential PER KEY (like `ewma_series`): one
    Arrow-batched per-key fold pass — each key's history contiguous,
    keys parallelize. Rows are ordered by (ts[, tiebreak]); pass the
    tiebreaker when duplicate timestamps exist.

    NULL POLICY (family-wide — see `_drop_null_values`): rows with a
    null/NaN value are dropped before the fold — a null no longer
    NaN-poisons the rest of the key's level/trend trajectory; dropped
    rows are NOT in the output, and the init (l₁ = x₁, b₁ = x₂ − x₁)
    uses the first two RETAINED values."""
    import numpy as np
    import pandas as pd

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    if not 0.0 < beta < 1.0:
        raise ValueError(f"beta must be in (0, 1), got {beta!r}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi!r}")
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    schema = (
        f"{key_col} {key_t}, "
        f"__ts {base.schema['__ts'].dataType.simpleString()}, "
        "__x double, level double, trend double, fitted double"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]]
        tss = pdf["__ts"]
        xcol = pdf["__x"]
        xs = xcol.to_numpy(np.float64)
        return lambda s, e: fold_one(ks, tss, xcol, xs, s, e)

    def fold_one(ks, tss, xcol, xs, s, e):
        x = xs[s:e]
        n = e - s
        lvl = np.empty(n)
        trd = np.empty(n)
        fit = np.full(n, np.nan)
        lvl[0] = x[0]
        trd[0] = (x[1] - x[0]) if n > 1 else 0.0
        for i in range(1, n):
            fit[i] = lvl[i - 1] + phi * trd[i - 1]
            lvl[i] = alpha * x[i] + (1.0 - alpha) * fit[i]
            trd[i] = beta * (lvl[i] - lvl[i - 1]) + (1.0 - beta) * (
                phi * trd[i - 1]
            )
        return {
            key_col: ks.iloc[s:e],
            "__ts": tss.iloc[s:e],
            "__x": xcol.iloc[s:e],
            "level": lvl,
            "trend": trd,
            # pandas nullable Float64 so the first row's missing fitted
            # value crosses Arrow as a real SQL NULL (a float-ndarray NaN
            # would be a non-null double that isNull consumers miss)
            "fitted": pd.array(
                [None if np.isnan(v) else v for v in fit], dtype="Float64"
            ),
        }

    out = _fold_partitions(base, key_col, sort_cols, make_fold, schema)
    return out.select(
        F.col(key_col),
        F.col("__ts").alias(ts_col),
        F.col("__x").alias(value_col),
        "level",
        "trend",
        "fitted",
    )


def _holt_step(state, x, alpha, beta, phi):
    """Fold the ordered values `x` into Holt state (level, trend, n, sse)
    — `holt_forecast` folds a key's whole history from (0.0, 0.0, 0, 0.0),
    `holt_state_stream` one micro-batch at a time, so the two agree bit
    for bit. The simple init l₁ = x₁, b₁ = x₂ − x₁ needs x₂, so x₁ only
    sets the level (trend 0 until x₂ arrives) and x₂ forms b₁ and then
    folds through the standard update. The squared one-step residual
    accumulates from x₃ on: x₂'s is init-spent (b₁ was set from x₂
    itself)."""
    lvl, trd, n, sse = state
    for v in x.tolist():
        if n == 0:
            lvl, trd = v, 0.0
        else:
            b = v - lvl if n == 1 else trd
            prev = lvl
            fit = lvl + phi * b
            if n > 1:
                sse += (v - fit) * (v - fit)
            lvl = alpha * v + (1.0 - alpha) * fit
            trd = beta * (lvl - prev) + (1.0 - beta) * (phi * b)
        n += 1
    return lvl, trd, n, sse


@_CACHES.scoped
def holt_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    horizons: list[int] = (1,),
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
    phi: float = 1.0,
) -> DataFrame:
    """Per-key Holt END STATE + h-step-ahead forecasts
    ŷ_{T+h} = l_T + φ_h·b_T with φ_h = Σ_{i=1}^{h} φ^i — one row per
    key with (n_events, level, trend, forecast_<h>…). Same per-key
    sequential pass as `holt_series`, reduced to the last state inside
    the batch so the output is one compact row per key.

    `phi=1` (the default, where φ_h = h) is EXACTLY undamped Holt;
    `phi` < 1 is the Gardner-McKenzie 1985 damped trend (see
    `holt_series`) whose forecasts flatten toward l_T + φ/(1−φ)·b_T
    instead of growing linearly — the standard fix for Holt's
    over-extrapolation at long horizons.

    `interval=True` additionally emits (se_<h>, lo_<h>, hi_<h>) — the
    standard innovations-state-space prediction interval (Hyndman &
    Athanasopoulos FPP §7.7, additive errors): σ̂² = SSE/(n−2) over the
    one-step in-sample residuals from t=3 on — the t=2 residual is
    INIT-SPENT under the l₁=x₁, b₁=x₂−x₁ init (b₁ is set from x₂
    itself, so its "error" — exactly zero at φ=1, (1−φ)(x₂−x₁) when
    damped — is no innovation and is excluded), leaving exactly n−2
    informative residuals; keys with n < 3 report NULL se/lo/hi (a
    2-row key has no informative residual at all) — and

        Var(ŷ_{T+h}) = σ̂²·(1 + Σ_{j=1}^{h−1} c_j²),
        c_j = α(1 + β·φ_j),  φ_j = Σ_{i=1}^{j} φ^i

    (our β is the β* trend-smoothing form, so the impulse of a one-step
    error on the state is Δl = α·ε, Δb = αβ·ε, propagated through the
    damped transition — asserted by a deterministic impulse test; at
    φ=1 this is the familiar c_j = α(1 + jβ)). Bounds use the normal
    quantile at `level`.

    NULL POLICY (family-wide — see `_drop_null_values`): rows with a
    null/NaN value are dropped before the fold; `n_events` counts only
    retained rows; an all-null key is absent from the output."""
    import numpy as np
    import pandas as pd

    if not horizons:
        raise ValueError("horizons must be non-empty")
    if any(int(h) < 1 for h in horizons):
        raise ValueError("horizons must be >= 1")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    if not 0.0 < beta < 1.0:
        raise ValueError(f"beta must be in (0, 1), got {beta!r}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi!r}")
    hs = [int(h) for h in horizons]
    # φ_j = Σ_{i=1..j} φ^i, computed by accumulation so φ=1 yields the
    # EXACT float j (1.0 sums are exact) — keeping the default path
    # bit-identical to the pre-phi operator (and its oracle pins)
    phi_cum = {0: 0.0}
    for j in range(1, max(hs) + 1):
        phi_cum[j] = phi_cum[j - 1] + phi ** j
    zq = _interval_z(interval, level)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    fcols = ", ".join(f"forecast_{h} double" for h in hs)
    if interval:
        fcols += ", " + ", ".join(
            f"se_{h} double, lo_{h} double, hi_{h} double" for h in hs
        )
    schema = (
        f"{key_col} {key_t}, "
        f"n_events bigint, level double, trend double, {fcols}"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]].to_numpy()
        xs = pdf["__x"].to_numpy(np.float64)
        return lambda s, e: fold_one(ks, xs, s, e)

    def fold_one(ks, xs, s, e):
        lvl, trd, n, sse = _holt_step(
            (0.0, 0.0, 0, 0.0), xs[s:e], alpha, beta, phi
        )
        row = {
            key_col: [ks[s]],
            "n_events": [n],
            "level": [lvl],
            "trend": [trd],
        }
        for h in hs:
            row[f"forecast_{h}"] = [lvl + phi_cum[h] * trd]
        if interval:
            # n−2: the first residual is structurally zero (see docstring)
            sig2 = sse / (n - 2) if n > 2 else None
            for h in hs:
                if sig2 is None:
                    se = None
                else:
                    v = 1.0 + sum(
                        (alpha * (1.0 + beta * phi_cum[j])) ** 2
                        for j in range(1, h)
                    )
                    se = float(np.sqrt(sig2 * v))
                fc = row[f"forecast_{h}"][0]
                row[f"se_{h}"] = [se]
                row[f"lo_{h}"] = [None if se is None else fc - zq * se]
                row[f"hi_{h}"] = [None if se is None else fc + zq * se]
        return row

    return _fold_partitions(
        base, key_col, sort_cols, make_fold, schema
    ).transform(_sorted_output, key_col)


@_CACHES.scoped
def ar_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    p: int = 1,
    horizons: list[int] = (1,),
    tiebreak_col: str | None = None,
    intercept: bool = True,
    interval: bool = False,
    level: float = 0.95,
    assume_contiguous: bool = False,
) -> DataFrame:
    """Per-key AR(p) autoregression fit + h-step forecasts — the
    conditional-least-squares convention (statsmodels `AutoReg(lags=p,
    trend='c')` / Box-Jenkins CSS): OLS of x_t on (1, x_{t−1}, …,
    x_{t−p}) over the t > p rows in the key's (ts[, tiebreak]) order,
    forecasts by iterating the fitted difference equation from the last
    p observations, prediction intervals from the ψ-weight (MA(∞))
    expansion

        Var(ŷ_{T+h}) = σ̂²·Σ_{j=0}^{h−1} ψ_j²,
        ψ_0 = 1,  ψ_j = Σ_{i=1}^{min(j,p)} φ_i·ψ_{j−i}

    with σ̂² = SSE/(n_fit − k) (k = p + intercept) and normal-quantile
    bounds at `level` — the standard large-sample AR interval
    (Brockwell & Davis §5.4; forecasts treat φ̂ as known).

    SCALE DESIGN — this is NOT a sequential fold (unlike the
    exponential-smoothing family): the OLS normal equations are plain
    sums of lag products, so the whole fit is (1) ONE window pass for
    the p lag columns, (2) ONE groupBy(key) aggregation of the
    O(p²) Gram sums per key REUSING the window's hash exchange (pure
    codegen — map-side partials, no UDF touches row data), then (3) a
    `mapInPandas` solve over the ONE-ROW-PER-KEY aggregated frame
    (k×k solve + ψ recursion per key — O(p²+h) Python per key, zero
    extra shuffle). A key with millions of rows costs the same driver/
    Python work as a key with ten.

    CONTIGUITY (the `forecast_accuracy(m>1)` contract): the lag pairing
    is positional, so the retained rows must sit on a REGULAR time grid
    — lag-1 ts spacings all equal and positive, no null/duplicate ts —
    checked on the same window pass; a non-contiguous key reports its
    counts with NULL estimates/forecasts (never a phase-shifted fit).
    `assume_contiguous=True` skips the check (integer period indices,
    float axes where exact equality is too strict). NULL POLICY
    (family-wide): null/NaN values drop before the window — a dropped
    interior row becomes a GAP the grid check catches.

    Degenerate keys keep their counts and NULL everything else: n_fit
    < k rows, a singular normal matrix (constant series with an
    intercept), or a failed grid. Intervals additionally need
    n_fit > k. Output: one row per key — (key, n_events, n_fit,
    [intercept,] ar_1…ar_p, sigma2, forecast_<h>…[, se/lo/hi_<h>…]).
    """
    import numpy as np
    import pandas as pd

    if p < 1:
        raise ValueError(f"p must be >= 1, got {p!r}")
    if not horizons:
        raise ValueError("horizons must be non-empty")
    if any(int(h) < 1 for h in horizons):
        raise ValueError("horizons must be >= 1")
    hs = [int(h) for h in horizons]
    zq = _interval_z(interval, level)
    df = _drop_null_values(df, F.col(value_col).cast("double"))
    base = df.select(
        F.col(key_col),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__x"),
        *([F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []),
    )
    order = [F.col("__ts")] + ([F.col("__tb")] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    wp = Window.partitionBy(key_col)
    lag_cols = [F.lag("__x", j).over(w).alias(f"__l{j}") for j in range(1, p + 1)]
    grid_cols = []
    if not assume_contiguous:
        # lag-1 spacing of the `_ts_axis` rides the SAME window exchange
        tsd = _ts_axis(base, "__ts")
        grid_cols = [(tsd - F.lag(tsd, 1).over(w)).alias("__dt")]
    feat = base.select(
        key_col,
        "__x",
        *lag_cols,
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wp).alias("__cnt"),
        *grid_cols,
    )
    # Gram sums over the complete-lag rows (rn > p ⇔ lag_p non-null):
    # regressor vector v = (1, l1..lp), response y = x. Everything a
    # plain SUM — map-side partial aggregation, no row reaches Python.
    ok = F.col(f"__l{p}").isNotNull()

    def sok(e):
        return F.sum(F.when(ok, e))

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(ok.cast("long")).alias("nf"),
        sok(F.col("__x")).alias("s_y"),
        sok(F.col("__x") * F.col("__x")).alias("s_yy"),
    ]
    for i in range(1, p + 1):
        aggs.append(sok(F.col(f"__l{i}")).alias(f"s_l{i}"))
        aggs.append(sok(F.col(f"__l{i}") * F.col("__x")).alias(f"s_l{i}y"))
        for j in range(i, p + 1):
            aggs.append(
                sok(F.col(f"__l{i}") * F.col(f"__l{j}")).alias(f"s_l{i}_{j}")
            )
    # the last p observations (the forecast seed), smallest-to-largest:
    # collect_list skips the NULL branch, sort_array orders by rn
    aggs.append(
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("__rn") > F.col("__cnt") - p,
                    F.struct(F.col("__rn").alias("rn"), F.col("__x").alias("x")),
                )
            )
        ).alias("tail")
    )
    if not assume_contiguous:
        aggs += [
            F.min("__dt").alias("dt_min"),
            F.max("__dt").alias("dt_max"),
            F.count("__dt").alias("dt_n"),
        ]
    agg = feat.groupBy(key_col).agg(*aggs)
    if not assume_contiguous:
        # regular grid ⇔ all spacings equal AND > 0 AND exactly one
        # missing lag (the first row) — the forecast_accuracy contract
        agg = agg.withColumn(
            "grid_ok",
            F.col("dt_min").eqNullSafe(F.col("dt_max"))
            & (F.col("dt_max") > 0)
            & (F.col("n") - F.col("dt_n") == 1),
        )
    else:
        agg = agg.withColumn("grid_ok", F.lit(True))

    k = p + (1 if intercept else 0)
    fcols = "sigma2 double, " + ", ".join(f"forecast_{h} double" for h in hs)
    if interval:
        fcols += ", " + ", ".join(
            f"se_{h} double, lo_{h} double, hi_{h} double" for h in hs
        )
    ktype = base.schema[key_col].dataType.simpleString()
    schema = (
        f"{key_col} {ktype}, n_events bigint, n_fit bigint, "
        + ("intercept double, " if intercept else "")
        + ", ".join(f"ar_{i} double" for i in range(1, p + 1))
        + ", "
        + fcols
    )
    # the flat sums layout `_ar_solve_from_sums` reads
    sum_cols = (
        ["s_y", "s_yy"]
        + [f"s_l{i}" for i in range(1, p + 1)]
        + [f"s_l{i}y" for i in range(1, p + 1)]
        + [f"s_l{i}_{j}" for i in range(1, p + 1) for j in range(i, p + 1)]
    )

    def solve(it):
        for pdf in it:
            out = None
            # one row per key, but row-iterate via the dict form —
            # iterrows' per-row Series construction is the slowest
            # pandas path at ~1M keys (review r14 pass 2)
            for r in pdf.to_dict("records"):
                nf = int(r["nf"] or 0)
                sol = None
                if bool(r["grid_ok"]) and nf >= k:
                    sol = _ar_solve_from_sums(
                        nf, [r[c] for c in sum_cols],
                        [d["x"] for d in r["tail"]], p, intercept, hs,
                        interval, zq,
                    )
                row = {key_col: r[key_col], "n_events": int(r["n"]),
                       "n_fit": nf, **_ar_row(sol, p, intercept, hs, interval)}
                if out is None:
                    out = {c: [] for c in row}
                for c, v in row.items():
                    out[c].append(v)
            if out is not None:
                yield pd.DataFrame(out)

    return _sorted_output(agg.mapInPandas(solve, schema), key_col)


def _ar_solve_from_sums(
    nf: int,
    sums,
    tail: list,
    p: int,
    itc: bool,
    hs: list,
    iv: bool,
    zq,
) -> dict | None:
    """The AR(p) solve shared by `ar_forecast` and the streaming twin
    (one definition — the `_hw_fold` no-triplication rule): build the
    k×k normal equations from the flat Gram `sums` [s_y, s_yy,
    s_l1..s_lp, s_l1y..s_lpy, the lag Gram's upper triangle row-major]
    (2 + 2p + p(p+1)/2 values), solve, derive σ̂² from the same
    sums, iterate forecasts from the ascending last-p `tail`, ψ-weight
    intervals. Returns None on a singular/non-finite solve; `ses` maps
    horizon → (se, lo, hi) (None triple when σ̂² has no df)."""
    import numpy as np

    s_y, s_yy = float(sums[0]), float(sums[1])
    s_l, s_ly = sums[2:2 + p], sums[2 + p:2 + 2 * p]
    s_ll = np.empty((p, p))
    pos = 2 + 2 * p
    for i in range(p):
        for j in range(i, p):
            s_ll[i, j] = s_ll[j, i] = float(sums[pos])
            pos += 1
    k = p + (1 if itc else 0)
    G = np.empty((k, k))
    cy = np.empty(k)
    base_i = 1 if itc else 0
    if itc:
        G[0, 0] = nf
        for i in range(p):
            G[0, i + 1] = G[i + 1, 0] = float(s_l[i])
        cy[0] = s_y
    for i in range(p):
        cy[base_i + i] = float(s_ly[i])
        for j in range(i, p):
            G[base_i + i, base_i + j] = G[base_i + j, base_i + i] = float(
                s_ll[i, j]
            )
    try:
        b = np.linalg.solve(G, cy)
    except np.linalg.LinAlgError:
        return None
    if not np.all(np.isfinite(b)):
        return None
    c0 = float(b[0]) if itc else 0.0
    phi = [float(v) for v in (b[1:] if itc else b)]
    sse = s_yy - 2.0 * float(b @ cy) + float(b @ G @ b)
    sig2 = max(sse, 0.0) / (nf - k) if nf > k else None
    hist = list(tail)
    fcs = []
    for _h in range(max(hs)):
        nxt = c0 + sum(phi[i - 1] * hist[-i] for i in range(1, p + 1))
        fcs.append(nxt)
        hist.append(nxt)
    ses = {}
    if iv:
        psi = [1.0]
        for j in range(1, max(hs)):
            psi.append(
                sum(phi[i - 1] * psi[j - i] for i in range(1, min(j, p) + 1))
            )
        for h in hs:
            if sig2 is None:
                ses[h] = (None, None, None)
            else:
                se = float(np.sqrt(sig2 * sum(v * v for v in psi[:h])))
                ses[h] = (se, fcs[h - 1] - zq * se, fcs[h - 1] + zq * se)
    return {"c0": c0, "phi": phi, "sig2": sig2, "fcs": fcs, "ses": ses}


def _ar_row(sol, p, itc, hs, iv):
    """The estimate columns of an AR output row from an
    `_ar_solve_from_sums` result (all NULL when `sol` is None):
    [intercept,] ar_1…ar_p, sigma2, forecast_<h>…[, se/lo/hi_<h>…]."""
    row = {}
    if itc:
        row["intercept"] = sol["c0"] if sol else None
    for i in range(1, p + 1):
        row[f"ar_{i}"] = sol["phi"][i - 1] if sol else None
    row["sigma2"] = sol["sig2"] if sol else None
    for h in hs:
        row[f"forecast_{h}"] = sol["fcs"][h - 1] if sol else None
    if iv:
        for h in hs:
            se, lo, hi = sol["ses"][h] if sol else (None, None, None)
            row[f"se_{h}"], row[f"lo_{h}"], row[f"hi_{h}"] = se, lo, hi
    return row


def _hw_fold(x, alpha, beta, gamma, m, state=None, phi=1.0, seasonal="add"):
    """Holt-Winters fold shared by `holt_winters_series`,
    `holt_winters_forecast` and the streaming twin (one definition — the
    `_encode_formula`/`_grams_expr` no-triplication rule). Additive
    seasonality (the default):

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + φ·b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−m}

    `seasonal="mul"` swaps the seasonal coupling to ratios — the
    classical multiplicative Holt-Winters ((·,·,M); Winters 1960;
    statsmodels `ExponentialSmoothing(seasonal="mul")`):

        l_t = α(x_t / s_{t−m}) + (1−α)(l_{t−1} + φ·b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}
        s_t = γ(x_t / l_t) + (1−γ)s_{t−m}

    with fitted (l + φb)·s and init s[i] = x[i]/l — the right model
    when the seasonal swing scales WITH the level (e.g. traffic whose
    daily peak is a percentage, not a constant). In "mul" mode the fold
    returns **None** when the model is undefined for the key — a
    non-positive input value, OR the level collapsing to ≤ 0
    mid-recursion (a steeply declining series whose l + φb crosses
    zero turns the ratios into garbage — code-review r11); callers
    degrade a None to NULL state (the grouped NULL policy, checked
    HERE once rather than per caller).

    φ=1 (the default) multiplies by 1.0 — bit-identical to the undamped
    forms; φ < 1 is the Gardner-McKenzie damped trend (same damping as
    `holt_series`).

    Classical simple initialization over the FIRST TWO SEASONS
    (Hyndman & Athanasopoulos, FPP §7.3 "traditional" start):
    l = mean(x[0:m]), b = (mean(x[m:2m]) − mean(x[0:m]))/m,
    s[i] = x[i] − l (add) or x[i]/l (mul) for i < m; the recursion then
    runs from t = m.

    `state=None` initializes (requires len(x) ≥ 2m — caller guards);
    passing `(level, trend, season_list, t_phase)` CONTINUES an existing
    fold (the streaming path). Returns (level, trend, season, t_phase,
    fitted, levels, trends, seasonals) where the arrays cover exactly
    the rows folded by the recursion (t ≥ m in init mode; every row in
    continue mode); fitted[t] = the one-step in-sample forecast BEFORE
    the update; seasonals[t] = the row's slot value AFTER its update."""
    import numpy as np

    mul = seasonal == "mul"
    n = len(x)
    if mul and not np.all(np.asarray(x) > 0.0):
        return None
    if state is None:
        l = float(np.mean(x[:m]))
        b = float((np.mean(x[m : 2 * m]) - np.mean(x[:m])) / m)
        if mul:
            season = [float(v) / l for v in x[:m]]
        else:
            season = [float(v) - l for v in x[:m]]
        start, phase = m, m
    else:
        l, b, season, phase = state
        season = list(season)
        start = 0
    fitted = np.empty(n - start)
    levels = np.empty(n - start)
    trends = np.empty(n - start)
    seasonals = np.empty(n - start)
    for i, t in enumerate(range(start, n)):
        slot = phase % m
        lb = l + phi * b
        if mul:
            fitted[i] = lb * season[slot]
            l_new = alpha * (float(x[t]) / season[slot]) + (1.0 - alpha) * lb
            if not l_new > 0.0:  # collapse (incl. NaN): model undefined
                return None
            b = beta * (l_new - l) + (1.0 - beta) * (phi * b)
            season[slot] = (
                gamma * (float(x[t]) / l_new) + (1.0 - gamma) * season[slot]
            )
        else:
            fitted[i] = lb + season[slot]
            l_new = alpha * (float(x[t]) - season[slot]) + (1.0 - alpha) * lb
            b = beta * (l_new - l) + (1.0 - beta) * (phi * b)
            season[slot] = (
                gamma * (float(x[t]) - l_new) + (1.0 - gamma) * season[slot]
            )
        l = l_new
        levels[i] = l
        trends[i] = b
        seasonals[i] = season[slot]
        phase += 1
    return l, b, season, phase, fitted, levels, trends, seasonals


def holt_winters_series(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    tiebreak_col: str | None = None,
    phi: float = 1.0,
    seasonal: str = "add",
) -> DataFrame:
    """Holt-Winters (triple exponential smoothing) per key —
    level + trend + a `period`-slot seasonal state, the step up from
    `holt_series` when the series has a repeating cycle (hourly/daily/
    weekly telemetry). `phi` < 1 damps the trend (Gardner-McKenzie —
    see `_hw_fold`; φ=1, the default, is bit-identical to classical
    HW). `seasonal="mul"` uses MULTIPLICATIVE seasonality (`_hw_fold` —
    the model for swings that scale with the level); a "mul" key with
    any non-positive value degrades to all-NULL smoothing columns (the
    ratios are undefined — grouped NULL policy, like too-short keys).
    Appends `level`, `trend`, `seasonal` (the slot
    value AFTER the row's update) and the one-step `fitted`; the first
    `period` rows of each key (consumed by the classical two-season
    initialization — see `_hw_fold`) carry NULLs there.

    Same per-key-sequential fold shape as `holt_series`; keys
    with fewer than 2·period retained rows emit all-NULL smoothing
    columns (too short to initialize — reported, not silently dropped).

    NULL POLICY (family-wide — `_drop_null_values`): null/NaN value rows
    are dropped before the fold."""
    import numpy as np
    import pandas as pd

    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name} must be in (0, 1), got {v!r}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi!r}")
    if seasonal not in ("add", "mul"):
        raise ValueError(f"seasonal must be 'add' or 'mul', got {seasonal!r}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period!r}")
    m = int(period)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    schema = (
        f"{key_col} {key_t}, "
        f"__ts {base.schema['__ts'].dataType.simpleString()}, "
        "__x double, level double, trend double, seasonal double, "
        "fitted double"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]]
        tss = pdf["__ts"]
        xcol = pdf["__x"]
        xs = xcol.to_numpy(np.float64)
        return lambda s, e: fold_one(ks, tss, xcol, xs, s, e)

    def fold_one(ks, tss, xcol, xs, s, e):
        x = xs[s:e]
        n = e - s
        out = {
            key_col: ks.iloc[s:e],
            "__ts": tss.iloc[s:e],
            "__x": xcol.iloc[s:e],
        }
        cols = {}
        res = (
            _hw_fold(x, alpha, beta, gamma, m, phi=phi, seasonal=seasonal)
            if n >= 2 * m
            else None  # too short; mul-undefined keys return None from
            # the fold itself (non-positive input or level collapse)
        )
        if res is not None:
            _, _, _, _, fitted, levels, trends, seasonals = res
            pad = [None] * m
            cols["level"] = pad + list(levels)
            cols["trend"] = pad + list(trends)
            cols["seasonal"] = pad + list(seasonals)
            cols["fitted"] = pad + list(fitted)
        else:
            cols = {c: [None] * n for c in ("level", "trend", "seasonal", "fitted")}
        for c, v in cols.items():
            out[c] = pd.array(v, dtype="Float64")
        return out

    out = _fold_partitions(base, key_col, sort_cols, make_fold, schema)
    return out.select(
        F.col(key_col),
        F.col("__ts").alias(ts_col),
        F.col("__x").alias(value_col),
        "level",
        "trend",
        "seasonal",
        "fitted",
    )


@_CACHES.scoped
def holt_winters_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    horizons: list[int] = (1,),
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
    phi: float = 1.0,
    seasonal: str = "add",
) -> DataFrame:
    """Per-key Holt-Winters END STATE + h-step forecasts
    ŷ_{T+h} = l_T + φ_h·b_T + s_{phase(T+h)} with φ_h = Σ_{i=1}^{h} φ^i
    — one compact row per key with (n_events, level, trend, season
    array, forecast_<h>…). `phi=1` (default, φ_h = h) is classical
    additive HW; `phi` < 1 is the damped-trend (A,Ad,·) variant (see
    `_hw_fold`). `seasonal="mul"` is multiplicative HW —
    ŷ_{T+h} = (l_T + φ_h·b_T)·s_{phase(T+h)}; "mul" keys with any
    non-positive value degrade to NULL state (`holt_winters_series`
    policy). Keys shorter than 2·period emit NULL
    state (reported, not dropped). Same conventions as
    `holt_winters_series` (init, ordering, the family null policy).

    `interval=True` adds (se_<h>, lo_<h>, hi_<h>) — the additive-error
    innovations interval (the `holt_forecast` convention): σ̂² is the
    mean squared one-step residual over the n−m folded rows, and

        c_j = α(1 + β·φ_j) + γ(1−α)·1{j ≡ 0 (mod m)}

    — note the seasonal impulse is γ(1−α), not γ: our recursion smooths
    s against (x − l_t) AFTER the level update, so a unit one-step error
    moves the slot by γ(x−l_t)-terms = γ(1−α)ε (asserted by the impulse
    test; the trend impulse αβ propagates through the damped
    transition, giving the β·φ_j term — at φ=1 the familiar jβ).
    Var(ŷ_{T+h}) = σ̂²(1 + Σ_{j=1}^{h−1} c_j²); normal quantile
    bounds; NULL-state keys report NULL se/lo/hi.

    `interval=True` with `seasonal="mul"` (r13, VERDICT r12 #5 —
    replacing the r11 refusal) is the FIRST-ORDER state-space
    innovations variance for the (A,M) model — the Hyndman-Koehler-
    Ord-Snyder linearization for the multiplicative-seasonal classes,
    derived by propagating each future one-step error ε_{T+i} through
    the fold's Jacobians along the deterministic mean path. The
    derivation collapses to a closed per-lag form because at the mean
    path the linearized transition IS the linear HW transition
    (∂l′/∂s = 0, ∂s′/∂s = 1 — seasonal shocks persist unmixed and
    never feed back into level/trend; asserted against a full
    matrix-recursion twin at 1e-12 in tests): with L_i = l_T + φ_i·b_T
    and S_i = s_{phase(T+i)},

        c_{h,i} = α(1 + β·φ_{h−i})·S_h/S_i
                  + γ(1−α)·(L_h/L_i)·1{h−i ≡ 0 (mod m)}

    Var(ŷ_{T+h}) = σ̂²(1 + Σ_{i=1}^{h−1} c_{h,i}²), σ̂² the additive
    one-step residual variance (the model class is additive-error,
    multiplicative-season). With flat seasonality (S ≡ const) it
    reduces to the additive c_j exactly. A horizon whose mean-path
    level factor L crosses ≤ 0 (steeply damped decline) has no valid
    linearization — its se/lo/hi are NULL while the point forecast is
    kept. Second-order (σ⁴) terms are ignored — the standard HKOS
    first-order treatment; the coverage-property test bounds the
    practical effect."""
    import numpy as np
    import pandas as pd

    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name} must be in (0, 1), got {v!r}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi!r}")
    if seasonal not in ("add", "mul"):
        raise ValueError(f"seasonal must be 'add' or 'mul', got {seasonal!r}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period!r}")
    if not horizons:
        raise ValueError("horizons must be non-empty")
    if any(int(h) < 1 for h in horizons):
        raise ValueError("horizons must be >= 1")
    m = int(period)
    hs = [int(h) for h in horizons]
    # φ_j accumulated so φ=1 yields the exact float j (see holt_forecast)
    phi_cum = {0: 0.0}
    for j in range(1, max(hs) + 1):
        phi_cum[j] = phi_cum[j - 1] + phi ** j
    zq = _interval_z(interval, level)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    fcols = ", ".join(f"forecast_{h} double" for h in hs)
    if interval:
        fcols += ", " + ", ".join(
            f"se_{h} double, lo_{h} double, hi_{h} double" for h in hs
        )
    schema = (
        f"{key_col} {key_t}, "
        f"n_events bigint, level double, trend double, "
        f"season array<double>, {fcols}"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]].to_numpy()
        xs = pdf["__x"].to_numpy(np.float64)
        return lambda s, e: fold_one(ks, xs, s, e)

    def fold_one(ks, xs, s, e):
        x = xs[s:e]
        n = e - s
        row = {key_col: [ks[s]], "n_events": [n]}
        res = (
            _hw_fold(x, alpha, beta, gamma, m, phi=phi, seasonal=seasonal)
            if n >= 2 * m
            else None  # mul-undefined keys (non-positive input / level
            # collapse) return None from the fold itself
        )
        if res is not None:
            l, b, season, phase, fitted, *_ = res
            row["level"], row["trend"] = [l], [b]
            row["season"] = [list(season)]
            for h in hs:
                s_h = season[(phase + h - 1) % m]
                if seasonal == "mul":
                    row[f"forecast_{h}"] = [(l + phi_cum[h] * b) * s_h]
                else:
                    row[f"forecast_{h}"] = [l + phi_cum[h] * b + s_h]
            if interval:
                e = x[m:] - fitted
                sig2 = float(e @ e) / len(e)
                for h in hs:
                    if seasonal == "mul":
                        # (A,M) first-order innovations variance (see
                        # docstring): ratio-weighted c's along the mean
                        # path; an L ≤ 0 path has no linearization
                        Ls = [l + phi_cum[i] * b for i in range(1, h + 1)]
                        if min(Ls) <= 0.0:
                            row[f"se_{h}"] = [None]
                            row[f"lo_{h}"] = [None]
                            row[f"hi_{h}"] = [None]
                            continue
                        Lh = Ls[h - 1]
                        Sh = season[(phase + h - 1) % m]
                        v = 1.0
                        for i in range(1, h):
                            Si = season[(phase + i - 1) % m]
                            c = alpha * (1.0 + beta * phi_cum[h - i]) * (
                                Sh / Si
                            )
                            if (h - i) % m == 0:
                                c += gamma * (1.0 - alpha) * (Lh / Ls[i - 1])
                            v += c * c
                    else:
                        v = 1.0 + sum(
                            (
                                alpha * (1.0 + beta * phi_cum[j])
                                + (gamma * (1.0 - alpha) if j % m == 0 else 0.0)
                            )
                            ** 2
                            for j in range(1, h)
                        )
                    se = float(np.sqrt(sig2 * v))
                    fc = row[f"forecast_{h}"][0]
                    row[f"se_{h}"] = [se]
                    row[f"lo_{h}"] = [fc - zq * se]
                    row[f"hi_{h}"] = [fc + zq * se]
        else:
            row["level"] = row["trend"] = [None]
            row["season"] = [None]
            for h in hs:
                row[f"forecast_{h}"] = [None]
            if interval:
                for h in hs:
                    row[f"se_{h}"] = row[f"lo_{h}"] = row[f"hi_{h}"] = [None]
        return row

    return _fold_partitions(
        base, key_col, sort_cols, make_fold, schema
    ).transform(_sorted_output, key_col)


@_CACHES.scoped
def ljung_box(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: int = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Ljung-Box white-noise test per key (public convention: Ljung & Box
    1978; R `Box.test(type="Ljung-Box")`) — the residual diagnostic that
    closes the smoothing loop: fit `holt_series`/`holt_winters_series`,
    take `value − fitted`, and ask "is anything left?":

        r_k = Σ_t (x_t − x̄)(x_{t−k} − x̄) / Σ_t (x_t − x̄)²
        Q   = n(n+2) · Σ_{k=1..h} r_k²/(n−k),   Q ~ χ²_h under whiteness

    One per-key Arrow batch (the `ewma_series` shape — each key's series
    must fit one batch; keys parallelize), all-numpy inside; the
    engine's `chisq_sf` supplies the p-value. Keys with fewer than
    lags + 2 retained values report NULL statistics (too short),
    constant series report NULL (autocorrelation undefined). Returns one
    row per key: (key, n, q_stat, df, p_value, max_abs_acf).

    NULL POLICY (family-wide — `_drop_null_values`): null/NaN value rows
    are dropped before the computation."""
    import numpy as np
    import pandas as pd

    from sparkglm_spark.functions.special import chisq_sf

    if lags < 1:
        raise ValueError(f"lags must be >= 1, got {lags!r}")
    h = int(lags)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    schema = (
        f"{key_col} {key_t}, "
        "n bigint, q_stat double, df int, p_value double, max_abs_acf double"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]].to_numpy()
        xs = pdf["__x"].to_numpy(np.float64)
        return lambda s, e_: fold_one(ks, xs, s, e_)

    def fold_one(ks, xs, s, e_):
        x = xs[s:e_]
        n = e_ - s
        row = {key_col: [ks[s]], "n": [n]}
        if n >= h + 2:
            e = x - x.mean()
            denom = float(e @ e)
            if denom > 0:
                acf = np.array(
                    [float(e[k:] @ e[:-k]) / denom for k in range(1, h + 1)]
                )
                q = float(
                    n * (n + 2.0) * np.sum(acf**2 / (n - np.arange(1, h + 1)))
                )
                row.update(
                    q_stat=[q],
                    df=[h],
                    p_value=[float(chisq_sf(q, h))],
                    max_abs_acf=[float(np.max(np.abs(acf)))],
                )
            else:  # constant series
                row.update(q_stat=[None], df=[None], p_value=[None],
                           max_abs_acf=[None])
        else:
            row.update(q_stat=[None], df=[None], p_value=[None],
                       max_abs_acf=[None])
        return row

    return _fold_partitions(
        base, key_col, sort_cols, make_fold, schema
    ).transform(_sorted_output, key_col)


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    period: int,
    tiebreak_col: str | None = None,
    model: str = "additive",
) -> DataFrame:
    """Classical decomposition per key (the `decompose()` / statsmodels
    `seasonal_decompose(model=...)` convention). Additive (default):

        trend_t    = centered moving average over one period (for even
                     period the standard 2×m average of two m-windows);
                     NULL at the ⌊m/2⌋ edge rows on each side
        seasonal_t = per-phase mean of (x − trend), re-centered to sum 0
                     over one period (identical value every cycle)
        resid_t    = x − trend − seasonal (NULL where trend is NULL)

    `model="multiplicative"` decomposes x = trend·seasonal·resid: the
    SAME centered-MA trend, seasonal = per-phase mean of the RATIO
    x/trend re-normalized to mean 1 over one period, resid =
    x/(trend·seasonal) — the statsmodels multiplicative convention.
    A multiplicative key with any non-positive value degrades to
    all-NULL components (ratios undefined — the `holt_winters_series`
    "mul" policy).

    The EDA complement of `holt_winters_series`: HW gives a forecastable
    recursive state, this gives the interpretable static split (how big
    IS the seasonal swing vs the trend?). One Arrow batch per key (the
    family shape); keys with fewer than 2·period retained rows emit
    all-NULL components. Family null policy (`_drop_null_values`)."""
    import numpy as np
    import pandas as pd

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period!r}")
    if model not in ("additive", "multiplicative"):
        raise ValueError(
            f"model must be 'additive' or 'multiplicative', got {model!r}"
        )
    mul = model == "multiplicative"
    m = int(period)
    base, sort_cols, key_t = _fold_base(
        df, key_col, ts_col, value_col, tiebreak_col
    )
    schema = (
        f"{key_col} {key_t}, "
        f"__ts {base.schema['__ts'].dataType.simpleString()}, "
        "__x double, trend double, seasonal double, resid double"
    )

    def make_fold(pdf: pd.DataFrame):
        ks = pdf[pdf.columns[0]]
        tss = pdf["__ts"]
        xcol = pdf["__x"]
        xs = xcol.to_numpy(np.float64)
        return lambda s, e: fold_one(ks, tss, xcol, xs, s, e)

    def fold_one(ks, tss, xcol, xs, s, e):
        x = xs[s:e]
        n = e - s
        out = {
            key_col: ks.iloc[s:e],
            "__ts": tss.iloc[s:e],
            "__x": xcol.iloc[s:e],
        }
        ok = n >= 2 * m and (not mul or bool(np.all(x > 0.0)))
        if ok:
            sx = pd.Series(x)
            if m % 2 == 0:
                # the standard 2×m centered MA (half-weights at the
                # window ends) as two VECTORIZED rolling means: the mean
                # of two consecutive m-window means ending at i covers
                # x[i−m..i] with halved ends, centered at i − m/2 — a
                # per-window Python lambda here would be O(n·m)
                # interpreter work on the family's hot path
                trend = (
                    sx.rolling(m).mean().rolling(2).mean().shift(-(m // 2))
                )
            else:
                trend = sx.rolling(m, center=True).mean()
            detr = (sx / trend) if mul else (sx - trend)
            phase = np.arange(n) % m
            smeans = np.array([
                detr[phase == p].mean() for p in range(m)
            ])
            if mul:
                smeans = smeans / np.nanmean(smeans)  # re-normalize to mean 1
                seasonal = smeans[phase]
                resid = sx / (trend * seasonal)
            else:
                smeans = smeans - np.nanmean(smeans)  # re-center to sum 0
                seasonal = smeans[phase]
                resid = sx - trend - seasonal
            out["trend"] = pd.array(trend, dtype="Float64")
            out["seasonal"] = pd.array(seasonal, dtype="Float64")
            out["resid"] = pd.array(resid, dtype="Float64")
        else:
            for c in ("trend", "seasonal", "resid"):
                out[c] = pd.array([None] * n, dtype="Float64")
        return out

    out = _fold_partitions(base, key_col, sort_cols, make_fold, schema)
    return out.select(
        F.col(key_col),
        F.col("__ts").alias(ts_col),
        F.col("__x").alias(value_col),
        "trend",
        "seasonal",
        "resid",
    )


def forecast_accuracy(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    actual_col: str,
    forecast_col: str,
    tiebreak_col: str | None = None,
    m: int = 1,
    assume_contiguous: bool = False,
) -> DataFrame:
    """Per-key forecast evaluation — the standard accuracy panel for any
    of this family's forecasters (or an external model's scored column):

      mae    mean |e|,  e = actual − forecast
      rmse   √(mean e²)
      mape   mean |e/y| over rows with y ≠ 0 (RATIO, not %; NULL when
             no nonzero actuals — the divide-by-zero rows are EXCLUDED,
             the statsmodels/sktime convention, with `n_mape` reporting
             how many rows scored)
      smape  mean 2|e|/(|y|+|ŷ|) with term 0 when both are zero (the
             sktime convention; ratio in [0, 2])
      mase   mae / (in-sample lag-m naive MAE) — Hyndman-Koehler
             2006: the denominator is mean |y_t − y_{t−m}| over the
             key's (ts[, tiebreak]) order (`m` = 1, the default, is
             the one-step naive; set `m` to the season length for the
             SEASONAL-naive scaling of seasonal data); NULL when the
             key has ≤ m rows or the naive MAE is 0 (a constant series
             makes every nonzero-error forecast infinitely bad —
             report NULL, not inf). CONTIGUITY (enforced r13, VERDICT
             r12 #6): the lag-m pairing is POSITIONAL over the retained
             rows — with m > 1 a missing period (a ts gap, or a null
             actual dropped by the family filter) phase-shifts every
             later seasonal pair, so a wrong-but-plausible number would
             come back. When m > 1 the key's retained rows must sit on
             a REGULAR grid (all lag-1 ts spacings equal — checked on
             the same window pass on the `_ts_axis`: epoch micros for
             timestamps, so a DST transition is no gap; dates compare
             whole days; duplicate or null ts rows also fail); a
             non-contiguous key gets mase NULL, never a phase-shifted
             value. Pass
             `assume_contiguous=True` to skip the check (e.g. integer
             period indices known gap-free, or float grids where exact
             spacing equality is too strict)

    Plan: one window pass for the naive lag (partitioned by key) + one
    groupBy(key) aggregation that REUSES the window's hash exchange —
    a single shuffle, pure codegen, no UDF (the `ewma_latest` plan
    shape). NULL POLICY (family-wide): rows where actual OR forecast
    is null/NaN are dropped before scoring (they also don't anchor the
    naive lag — the denominator is over RETAINED rows, matching what a
    forecaster fit on the retained series would see)."""
    from pyspark.sql import Window

    if not isinstance(m, int) or isinstance(m, bool) or m < 1:
        raise ValueError(f"m must be an int >= 1, got {m!r}")
    y = F.col(actual_col).cast("double")
    fc = F.col(forecast_col).cast("double")
    # the family null filter, once per scored column (review r12: reuse
    # _drop_null_values so a policy change cannot silently fork here)
    base = _drop_null_values(_drop_null_values(df, y), fc).select(
        F.col(key_col),
        F.col(ts_col).alias("__ts"),
        y.alias("__y"),
        fc.alias("__f"),
        *([F.col(tiebreak_col).alias("__tb")] if tiebreak_col else []),
    )
    order = [F.col("__ts")] + ([F.col("__tb")] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    ylag = F.lag("__y", m).over(w)
    check_grid = m > 1 and not assume_contiguous
    grid_cols = []
    if check_grid:
        # lag-1 spacing of the `_ts_axis` rides the SAME window exchange
        tsd = _ts_axis(base, "__ts")
        grid_cols = [(tsd - F.lag(tsd, 1).over(w)).alias("__dt")]
    scored = base.select(
        key_col,
        "__y",
        "__f",
        F.abs(F.col("__y") - ylag).alias("__nd"),
        *grid_cols,
    )
    e = F.col("__y") - F.col("__f")
    ay, af = F.abs(F.col("__y")), F.abs(F.col("__f"))
    smape_term = F.when(ay + af == 0.0, 0.0).otherwise(
        2.0 * F.abs(e) / (ay + af)
    )
    agg = scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.abs(e)).alias("mae"),
        F.sqrt(F.avg(e * e)).alias("rmse"),
        F.avg(
            F.when(F.col("__y") != 0.0, F.abs(e / F.col("__y")))
        ).alias("mape"),
        F.count(F.when(F.col("__y") != 0.0, F.lit(1))).alias("n_mape"),
        F.avg(smape_term).alias("smape"),
        F.avg("__nd").alias("__naive"),
        *(
            [
                F.min("__dt").alias("__dt_min"),
                F.max("__dt").alias("__dt_max"),
                F.count("__dt").alias("__dt_n"),
            ]
            if check_grid
            else []
        ),
    )
    mase_ok = F.col("__naive").isNotNull() & (F.col("__naive") > 0.0)
    if check_grid:
        # regular grid ⇔ every spacing equals every other AND > 0 (an
        # all-duplicate-ts key is not a series) AND exactly one NULL
        # spacing per key — the first row's missing lag. A NULL-ts row
        # contributes TWO null spacings (its own and its successor's)
        # while min/max silently skip it, yet it still occupies a
        # lag-m position — the phantom-row phase shift the guard
        # exists to catch (review r13). A 1-row key has n−count = 1
        # but a NULL naive term, so mase stays NULL regardless.
        mase_ok = (
            mase_ok
            & F.col("__dt_min").eqNullSafe(F.col("__dt_max"))
            & (F.col("__dt_max") > 0)
            & (F.col("n") - F.col("__dt_n") == 1)
        )
    return agg.select(
        key_col,
        "n",
        "mae",
        "rmse",
        "mape",
        "n_mape",
        "smape",
        F.when(mase_ok, F.col("mae") / F.col("__naive")).alias("mase"),
    ).orderBy(key_col)
