"""Event-stream operators: the same declarative core serves batch
(testdata `events` table) and Structured Streaming (readStream + watermark).

The transformation is a function DataFrame→DataFrame; in streaming mode the
caller supplies `readStream` input and gets watermark + append-mode-safe
windowed aggregation — identical results to the batch run over the same
data (event-time semantics, not arrival-time).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from sparkglm_spark.operators.timeseries import _drop_null_values, _ts_axis


def _watermark_time(df: DataFrame, ts_col: str) -> Column:
    """Structured Streaming watermarks require TIMESTAMP (LTZ). Testdata
    event times are TIMESTAMP_NTZ; map NTZ wall-clock to the UTC instant
    with the same wall clock via `_ts_axis`'s wall-clock micros —
    timezone-independent, unlike a cast through the session zone."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return F.timestamp_micros(_ts_axis(df, ts_col))
    return F.col(ts_col)


def _ntz_restore(col) -> Column:
    """Inverse of `_watermark_time`: LTZ instant → TIMESTAMP_NTZ carrying the
    instant's UTC wall clock (pure µs arithmetic, session-zone independent).
    Applied AFTER the stateful op so streaming outputs keep the batch NTZ
    type/values — without it, collected LTZ values render in the driver's OS
    zone and batch/stream results diverge on non-UTC hosts."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_add(
        "MICROSECOND", F.unix_micros(c), F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
    )


def _check_stream(name: str, events: DataFrame, cols) -> None:
    """The stream operators' input checks: a streaming DataFrame holding
    every named column."""
    if not events.isStreaming:
        raise ValueError("input must be a streaming DataFrame (readStream)")
    missing = [c for c in cols if c not in events.columns]
    if missing:
        raise ValueError(
            f"{name}: columns {missing} not in input schema "
            f"{sorted(events.columns)}"
        )


def _state_stream(
    name: str,
    events: DataFrame,
    key_col: str | None,
    ts_col: str | None,
    value_cols: list[str],
    tiebreak_col: str | None,
    state_ddl: str,
    out_ddl: str,
    init: tuple,
    step,
    drop_nulls: bool = True,
) -> DataFrame:
    """The one applyInPandasWithState harness of the per-key stream
    operators; each operator supplies only its `step`.

    - NULL POLICY (family-wide — `operators.timeseries._drop_null_values`):
      rows with a null/NaN in any of `value_cols` are dropped before the
      fold, exactly as in the batch twins (`drop_nulls=False` keeps them).
    - ORDER CONTRACT: a group's micro-batch arrives as an ITERATOR of
      Arrow chunks (~10k rows each); they are concatenated, then
      mergesorted on (`_ts_axis`, tiebreak) — sorting chunk by chunk
      would fold rows that cross a chunk boundary out of order. Rows
      therefore fold in time order within a micro-batch and in arrival
      order across micro-batches: a row arriving after a later one was
      folded is folded late, so use the batch twin for out-of-order
      backfills. The axis rides along as the column `__t`: `_ts_axis`
      as a double for TIMESTAMP, TIMESTAMP_NTZ and DATE (epoch micros;
      a NULL ts is NaN, sorted last), the ts column itself for any
      other type, sorted as the batch twin's window sorts it.
      `ts_col=None` folds in arrival order.
    - `step(state, pdf) -> (state, row | None)`: `state` is a tuple in
      `state_ddl` order (`init` for a new key); `row` maps the
      `out_ddl` names to values and is emitted behind the key (whose
      field comes from the input schema), output mode 'update'; None
      emits nothing.
    - `key_col=None` folds the whole stream as one state and emits no
      key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _check_stream(
        name, events, [c for c in (key_col, ts_col, *value_cols, tiebreak_col) if c]
    )
    key_fields = [events.schema[key_col]] if key_col else []
    if drop_nulls:
        for c in value_cols:
            events = _drop_null_values(events, F.col(c).cast("double"))
    cols = list(dict.fromkeys(c for c in (key_col, *value_cols, tiebreak_col) if c))
    sel = [F.col(c) for c in cols]
    sort_cols = []
    if ts_col:
        temporal = (TimestampType, TimestampNTZType, DateType)
        if isinstance(events.schema[ts_col].dataType, temporal):
            sel.append(_ts_axis(events, ts_col).cast("double").alias("__t"))
        else:
            sel.append(F.col(ts_col).alias("__t"))
        sort_cols = ["__t"] + ([tiebreak_col] if tiebreak_col else [])
    if not key_col:
        # a literal grouping EXPRESSION doesn't resolve through
        # applyInPandasWithState — materialize the dummy key as a column
        sel.append(F.lit(0).alias("__g"))

    def update(key, pdfs, state: GroupState):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
        st, row = step(tuple(state.get) if state.exists else init, pdf)
        state.update(st)
        if row is not None:
            if key_col:
                row = {key_col: key[0], **row}
            yield pd.DataFrame({c: [v] for c, v in row.items()})

    return (
        events.select(*sel)
        .groupBy(key_col or "__g")
        .applyInPandasWithState(
            update,
            outputStructType=StructType(
                key_fields + StructType.fromDDL(out_ddl).fields
            ),
            stateStructType=state_ddl,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _last_ts(events: DataFrame, ts_col: str):
    """The `last_ts_micros` update of the smoothing streams: the running
    max of the folded rows' time axis — epoch micros of the instant for
    TIMESTAMP, of the wall clock for TIMESTAMP_NTZ (the batch `last_ts`
    as micros). Date and numeric axes are no instant: NULL."""
    import pandas as pd

    if ts_col not in events.columns or not isinstance(
        events.schema[ts_col].dataType, (TimestampType, TimestampNTZType)
    ):
        return lambda last, pdf: None

    def advance(last, pdf):
        t = pdf["__t"].max()
        if pd.isna(t):
            return last
        return int(t) if last is None else max(last, int(t))

    return advance


def _grid_track(prev_ts, dt_min, dt_max, axis):
    """Regular-grid tracker of the streams whose lag pairing is
    positional (seasonal `forecast_accuracy_stream`, `ar_state_stream`):
    folds the lag-1 spacings of the ordered axis values `axis` (the
    harness's `__t`) — plus the seam to the previous micro-batch's last
    value — into the running (dt_min, dt_max). Returns the new (prev_ts,
    dt_min, dt_max). A string axis is read as epoch micros of the parsed
    wall clock. np.min/max PROPAGATE NaN, so a null-ts row (NaN axis)
    poisons the tracker for good, as the batch twins' null-spacing census
    NULLs such keys."""
    import pandas as pd

    if axis.dtype == object:
        axis = pd.to_datetime(axis).astype("int64") // 1000
    t = axis.to_numpy(dtype=np.float64)
    dts = np.diff(t)
    if prev_ts is not None:
        dts = np.concatenate([[t[0] - prev_ts], dts])
    if len(dts):
        lo, hi = float(np.min(dts)), float(np.max(dts))
        if dt_min is None:
            dt_min, dt_max = lo, hi
        elif np.isnan(lo) or np.isnan(dt_min):
            dt_min = dt_max = float("nan")
        else:
            dt_min = min(dt_min, lo)
            dt_max = max(dt_max, hi)
    return float(t[-1]), dt_min, dt_max


def _grid_ok(dt_min, dt_max) -> bool:
    """Regular grid ⇔ every spacing so far equal and positive."""
    return dt_min is not None and dt_min == dt_max and dt_max > 0.0


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window per-event-type stats: count, distinct users, value
    sum/mean. Batch: plain window agg. Streaming: pass `watermark` (e.g.
    '2 hours') — late rows beyond it are dropped, enabling append output.

    distinct users uses approx_count_distinct in streaming mode (exact
    distinct needs the whole window state); exact in batch.
    """
    df = events
    streaming = df.isStreaming
    was_ntz = isinstance(df.schema[ts_col].dataType, TimestampNTZType)
    if streaming:
        if watermark is None:
            watermark = "2 hours"
        df = df.withColumn(ts_col, _watermark_time(df, ts_col))
        df = df.withWatermark(ts_col, watermark)
    uniq = (
        F.approx_count_distinct("user_id")
        if streaming
        else F.count_distinct("user_id")
    )
    # an NTZ input ran through the LTZ watermark mapping in streaming mode;
    # restore NTZ on the way out so both modes emit identical types/values.
    # An already-LTZ input needs NO restore — converting it would flip the
    # output type to NTZ and diverge from the batch twin.
    restore = streaming and was_ntz
    start = _ntz_restore(F.col("win.start")) if restore else F.col("win.start")
    end = _ntz_restore(F.col("win.end")) if restore else F.col("win.end")
    return (
        df.groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            uniq.alias("n_users"),
            F.sum("value").alias("value_sum"),
            F.avg("value").alias("value_avg"),
        )
        .select(
            start.alias("window_start"),
            end.alias("window_end"),
            "event_type",
            "n_events",
            "n_users",
            "value_sum",
            "value_avg",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Session aggregation with a dynamic gap window (session_window) —
    works in batch and streaming (streaming requires a watermark set by the
    caller)."""
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sess"),
            F.col(user_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col(user_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def user_running_totals(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Per-user lifetime totals. Batch: plain groupBy aggregation (partial +
    final hash agg). For the streaming equivalent with explicit state, see
    `user_running_totals_stream`."""
    return events.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("value_sum"),
    )


def user_running_totals_stream(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: keeps
    (n_events, value_sum) per user across micro-batches and emits the
    updated running totals each batch (output mode 'update').

    State is O(1) per user (two numbers), Arrow-batched per group — the
    pattern for any custom accumulator Structured Streaming's built-in aggs
    can't express. Converges to the batch `user_running_totals` result once
    the stream drains. Every row counts, as in the batch twin (no null
    drop); the key column keeps its input type."""
    def step(st, pdf):
        n, s = st
        n += len(pdf)
        s += float(pdf["value"].sum())
        return (n, s), {"n_events": n, "value_sum": s}

    return _state_stream(
        "user_running_totals_stream", events, user_col, None, ["value"], None,
        "n long, s double", "n_events long, value_sum double",
        (0, 0.0), step, drop_nulls=False,
    )


def latest_state_stream(
    events: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Streaming twin of `operators.timeseries.latest_state` (changelog
    compaction) via applyInPandasWithState.

    Per key the state is ONLY the current champion's order tuple —
    timestamps stored as epoch micros, so state stays a flat long/primitive
    struct. Each micro-batch reduces its rows to the batch champion
    (pandas lexicographic sort, the same max_by(struct) semantics as the
    batch twin), compares against state, and EMITS ONLY WHEN THE CHAMPION
    ADVANCES (output mode 'update'); the last update per key therefore
    equals the batch `latest_state` once the stream drains
    (stream-equivalence asserted in tests/test_streaming.py). No watermark
    is needed: champion advancement is monotone, so late rows can lose but
    never corrupt state; state is O(1) per key and never evicted —
    compaction state is the live-key set by definition.

    Order-column values must be non-null (same determinism contract as the
    batch twin: include a unique tiebreaker)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not events.isStreaming:
        raise ValueError("input must be a streaming DataFrame (readStream)")
    if not key_cols or not order_cols:
        raise ValueError("key_cols and order_cols must be non-empty")
    _check_stream("latest_state_stream", events, key_cols + order_cols + value_cols)
    in_fields = {f.name: f for f in events.schema.fields}
    out_cols = list(dict.fromkeys(key_cols + order_cols + value_cols))
    out_schema = StructType([in_fields[c] for c in out_cols])
    ts_like = (TimestampType, TimestampNTZType)
    is_ts = [isinstance(in_fields[c].dataType, ts_like) for c in order_cols]
    state_schema = StructType(
        [
            StructField(
                f"o{i}",
                LongType() if is_ts[i] else in_fields[c].dataType,
            )
            for i, c in enumerate(order_cols)
        ]
    )

    def _cmp_tuple(row) -> tuple:
        out = []
        for c, ts in zip(order_cols, is_ts):
            v = row[c]
            out.append(int(pd.Timestamp(v).value // 1000) if ts else v)
        return tuple(out)

    def update(key, pdfs, state: GroupState):
        best = None  # (cmp_tuple, row) champion within this batch
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_cols, kind="stable").iloc[-1]
            t = _cmp_tuple(cand)
            if best is None or t > best[0]:
                best = (t, cand)
        if best is None:
            return
        prev = tuple(state.get) if state.exists else None
        if prev is not None and best[0] <= prev:
            return  # champion did not advance — emit nothing
        state.update(best[0])
        row = best[1]
        data = {}
        for i, c in enumerate(out_cols):
            data[c] = [key[key_cols.index(c)] if c in key_cols else row[c]]
        yield pd.DataFrame(data)

    return (
        events.select(*out_cols)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def clicks_within_window_of_signup(
    clicks: DataFrame,
    signups: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Interval join: each click paired with the same user's signup when the
    click lands in [signup_ts, signup_ts + window] (closed). The SAME
    declarative join serves batch and stream-stream: with two streaming
    inputs, watermarks on both event-time columns bound the join state, so
    Spark can discard a signup once no click within `window` can still
    arrive — the state-cleanup contract a stream-stream join needs at scale.

    Batch twin of `operators/asof.range_join_points` on the same condition
    (equivalence asserted in tests/test_streaming.py)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    s = signups.select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("signup_ts"),
    )
    c_restore = c.isStreaming and isinstance(
        c.schema["click_ts"].dataType, TimestampNTZType
    )
    s_restore = s.isStreaming and isinstance(
        s.schema["signup_ts"].dataType, TimestampNTZType
    )
    if c.isStreaming:
        c = c.withColumn("click_ts", _watermark_time(c, "click_ts"))
        c = c.withWatermark("click_ts", watermark)
    if s.isStreaming:
        s = s.withColumn("signup_ts", _watermark_time(s, "signup_ts"))
        s = s.withWatermark("signup_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("s_user"))
        & (F.col("click_ts") >= F.col("signup_ts"))
        & (F.col("click_ts") <= F.col("signup_ts") + F.expr(f"INTERVAL {window}"))
    )
    # restore NTZ only for inputs that WERE NTZ (see windowed_event_stats)
    click_out = _ntz_restore("click_ts") if c_restore else F.col("click_ts")
    signup_out = _ntz_restore("signup_ts") if s_restore else F.col("signup_ts")
    return c.join(s, cond, "inner").select(
        "click_id",
        "signup_id",
        F.col("c_user").alias("user_id"),
        click_out.alias("click_ts"),
        signup_out.alias("signup_ts"),
    )


def dedup_events_within_watermark(
    events: DataFrame,
    id_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once → effectively-once: drop replayed events by id, keeping
    only ids first seen within the watermark horizon
    (`dropDuplicatesWithinWatermark`). State is one entry per id per
    watermark window and is EVICTED as the watermark advances — a plain
    streaming `dropDuplicates` would grow state forever on an unbounded
    stream. On a batch DataFrame the watermark API is unsupported
    (`dropDuplicatesWithinWatermark` raises in batch mode), so the batch
    twin is a plain `dropDuplicates(id_cols)` — same keep-one-per-id
    semantics over the full (bounded) input."""
    id_cols = id_cols or ["event_id"]
    out = events
    if not out.isStreaming:
        return out.dropDuplicates(id_cols)
    out = out.withColumn(ts_col, _watermark_time(out, ts_col))
    out = out.withWatermark(ts_col, watermark)
    out = out.dropDuplicatesWithinWatermark(id_cols)
    if isinstance(events.schema[ts_col].dataType, TimestampNTZType):
        out = out.withColumn(ts_col, _ntz_restore(ts_col))
    return out


def stream_from_events_table(spark, sf_dir: str):
    """Streaming source over the events parquet (file micro-batches) — used
    by tests to prove the same core runs under readStream."""
    import os

    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return spark.readStream.schema(batch.schema).parquet(sf_dir + "/events.parquet")


def ewma_state_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Streaming twin of `operators.timeseries.ewma_latest` (adjusted
    EWMA state per key) via applyInPandasWithState.

    The adjusted EWMA is exactly incrementally maintainable: with state
    (num, den) where s = num/den,

        fold x (newest):  num ← x + (1−α)·num,   den ← 1 + (1−α)·den

    so a micro-batch of m ordered rows folds VECTORIZED (batch partial
    weighted sums + one (1−α)^m decay of the carried state) — state per
    key is 2 doubles + 2 longs, O(1) forever, no eviction needed. Each
    batch EMITS the key's updated (n_events, ewma, last_ts_micros)
    (output mode 'update'); the last update per key equals the batch
    `ewma_latest` once the stream drains — asserted in
    tests/test_streaming.py over a multi-micro-batch replay.
    `last_ts_micros` is the batch `last_ts` as epoch micros (the wall
    clock's for TIMESTAMP_NTZ) and NULL on a date or numeric ts axis.

    ORDER CONTRACT and NULL POLICY: the `_state_stream` harness's —
    rows fold in (ts, tiebreak) order within a micro-batch and in
    arrival order across batches (a late row is weighted as newest, the
    standard streaming-EWMA caveat); null/NaN values are dropped before
    the fold, exactly as in the batch twin."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    decay = 1.0 - alpha
    last_ts = _last_ts(events, ts_col)

    def step(st, pdf):
        num, den, n, last = st
        x = pdf[value_col].to_numpy(dtype=np.float64)
        m = len(x)
        w = decay ** np.arange(m - 1, -1, -1, dtype=np.float64)
        carry = decay**m
        num = float((w * x).sum()) + carry * num
        den = float(w.sum()) + carry * den
        n += m
        last = last_ts(last, pdf)
        return (num, den, n, last), {
            "n_events": n, "ewma": num / den, "last_ts_micros": last,
        }

    return _state_stream(
        "ewma_state_stream", events, key_col, ts_col, [value_col],
        tiebreak_col,
        "num double, den double, n long, last long",
        "n_events long, ewma double, last_ts_micros long",
        (0.0, 0.0, 0, None), step,
    )


def holt_state_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    tiebreak_col: str | None = None,
    phi: float = 1.0,
) -> DataFrame:
    """Streaming twin of `operators.timeseries.holt_forecast`'s end state
    (per-key Holt level + trend) via applyInPandasWithState.

    Holt's recursion is sequential: each micro-batch's rows fold through
    the carried (level, trend, n) state with `_holt_step` — the very
    step `holt_forecast` runs over a key's whole history, including the
    simple initialization (b₁ = x₂ − x₁ is formed when the second
    observation arrives, then x₂ folds through the standard update), so
    a key whose first two rows arrive in DIFFERENT micro-batches still
    lands on the batch trajectory bit for bit at any φ (asserted in
    tests). `phi` < 1 is the Gardner-McKenzie damped trend (see
    `holt_series`); φ=1 multiplies by 1.0 — bit-identical to undamped
    Holt. State per key: 2 doubles + 2 longs, O(1) forever.

    Emits the key's updated (n_events, level, trend, forecast_1 =
    level + φ·trend, last_ts_micros) per micro-batch ('update' mode);
    the last update per key equals `holt_forecast` once the stream
    drains. `last_ts_micros` is the max ts as epoch micros (the wall
    clock's for TIMESTAMP_NTZ), NULL on a date or numeric ts axis.

    ORDER CONTRACT and NULL POLICY: the `_state_stream` harness's
    (within-batch (ts, tiebreak) order, arrival order across batches —
    use the batch `holt_forecast` for out-of-order backfills; null/NaN
    values dropped before the fold, so a null never NaN-poisons the
    carried state)."""
    from sparkglm_spark.operators.timeseries import _holt_step

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha!r}")
    if not 0.0 < beta < 1.0:
        raise ValueError(f"beta must be in (0, 1), got {beta!r}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi!r}")
    last_ts = _last_ts(events, ts_col)

    def step(st, pdf):
        lvl, trd, n, last = st
        lvl, trd, n, _ = _holt_step(
            (lvl, trd, n, 0.0), pdf[value_col].to_numpy(dtype=np.float64),
            alpha, beta, phi,
        )
        last = last_ts(last, pdf)
        return (lvl, trd, n, last), {
            "n_events": n, "level": lvl, "trend": trd,
            "forecast_1": lvl + phi * trd, "last_ts_micros": last,
        }

    return _state_stream(
        "holt_state_stream", events, key_col, ts_col, [value_col],
        tiebreak_col,
        "lvl double, trd double, n long, last long",
        "n_events long, level double, trend double, forecast_1 double, "
        "last_ts_micros long",
        (0.0, 0.0, 0, None), step,
    )


def drift_state_stream(
    events: DataFrame,
    value_col: str,
    reference: dict,
    group_col: str | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Streaming twin of `operators.stats.distribution_drift` — the
    production drift monitor: PSI/JS of the LIVE stream's running
    distribution against a FIXED reference histogram, updated every
    micro-batch.

    `reference` is the dict `distribution_drift` returns (its `lo`,
    `hi`, `n_bins` and per-bin `p_ref` proportions are used), so the
    deployment story is: profile the training/reference frame once in
    batch, then monitor the serving stream against that snapshot.
    Because the bins are FIXED equal-width over [lo, hi] (exactly why
    `distribution_drift` requires fixed bounds for monitoring), the
    fold is exact: state is one bigint count per bin, micro-batch
    counts add (vectorized bincount per batch), and after any replay
    the metrics equal the batch `distribution_drift` over the union of
    the arrived data — asserted in tests. State per group: n_bins
    longs, O(1) forever.

    `group_col=None` monitors the whole stream (a single state task —
    fine for one metric; the per-batch work is a bincount). Pass
    `group_col` for per-segment monitors (each segment folds in
    parallel — the streaming face of `distribution_drift_grouped`).

    NULL POLICY (family-wide — `operators.timeseries._drop_null_values`):
    null/NaN values are dropped before binning, exactly as the batch
    operator excludes them from its bin counts; NULL group keys are
    dropped too, as `distribution_drift_grouped` does.

    Emits (group?, n_cur, psi, js_divergence) per micro-batch in
    'update' mode."""
    import math

    if eps <= 0:
        raise ValueError("eps must be > 0")
    for key in ("lo", "hi", "n_bins", "bins"):
        if key not in reference:
            raise ValueError(
                "reference must be a distribution_drift() result dict "
                f"(missing {key!r})"
            )
    lo = float(reference["lo"])
    hi = float(reference["hi"])
    n_bins = int(reference["n_bins"])
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    p_ref = [0.0] * n_bins
    for b in reference["bins"]:
        p_ref[int(b["bin"])] = float(b["p_ref"])
    span = hi - lo
    if group_col:
        _check_stream("drift_state_stream", events, [group_col, value_col])
        events = events.where(F.col(group_col).isNotNull())

    def step(st, pdf):
        counts = np.array(st[0], dtype=np.int64)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        # the batch operator's binning expression, replayed on the
        # same doubles: floor((x - lo) / (hi - lo) * n_bins), clamped
        b = np.floor((x - lo) / span * n_bins)
        b = np.clip(b, 0, n_bins - 1).astype(np.int64)
        counts += np.bincount(b, minlength=n_bins)
        n_cur = float(counts.sum())
        psi = js = 0.0
        for i in range(n_bins):
            p = p_ref[i]
            q = counts[i] / n_cur
            ps, qs = max(p, eps), max(q, eps)
            psi += (ps - qs) * math.log(ps / qs)
            m = (p + q) / 2.0
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            if q > 0:
                js += 0.5 * q * math.log(q / m)
        return ([int(c) for c in counts],), {
            "n_cur": int(n_cur), "psi": psi, "js_divergence": js,
        }

    return _state_stream(
        "drift_state_stream", events, group_col, None, [value_col], None,
        "counts array<long>", "n_cur long, psi double, js_divergence double",
        ([0] * n_bins,), step,
    )


def holt_winters_state_stream(
    events: DataFrame,
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
    """Streaming twin of `operators.timeseries.holt_winters_forecast`'s
    end state (per-key level + trend + seasonal slots) via
    applyInPandasWithState. `phi` < 1 damps the trend (`_hw_fold`); the
    default φ=1 multiplies by 1.0 — bit-identical to classical HW, so
    checkpointed streams continue exactly.

    `seasonal="mul"` (r14) runs the multiplicative recursion — the SAME
    `_hw_fold` definition as batch. The batch whole-key NULL policy
    (any non-positive value, or the level collapsing to ≤ 0, nulls the
    key) maps to a POISON flag carried in state (the r13
    `forecast_accuracy_stream` NaN-poison pattern): once `_hw_fold`
    refuses, the key emits NULL level/trend/forecast_1 forever while
    `n_events` keeps counting — a batch re-run over the landed rows
    reports the same NULLs, so stream and batch agree on every key.
    (State gained a `bad` field in r14 — r13 checkpoints don't resume.)

    The classical init consumes the first 2·period observations, so the
    state BUFFERS values until 2·period have arrived, then initializes
    and replays the recursion over the buffer — from that point each
    micro-batch folds one value at a time through the carried (level,
    trend, season[period], phase) state, an EXACT continuation of the
    batch recursion (the same `_hw_fold` single definition runs both
    sides; asserted against `holt_winters_forecast` over a multi-batch
    ts-ordered replay in tests). State per key: period + a bounded
    2·period-value init buffer, O(period) forever.

    ORDER CONTRACT and NULL POLICY: the `_state_stream` harness's (rows
    fold in (ts, tiebreak) order within a batch, arrival order across
    batches; null/NaN values dropped before the fold).

    Emits (key, n_events, level, trend, forecast_1, last_ts_micros) per
    micro-batch ('update' mode); level/trend/forecast_1 are NULL until
    the key has seen 2·period values. `last_ts_micros` is the max ts as
    epoch micros (the wall clock's for TIMESTAMP_NTZ), NULL on a date or
    numeric ts axis."""
    from sparkglm_spark.operators.timeseries import _hw_fold

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
    last_ts = _last_ts(events, ts_col)

    def step(st, pdf):
        buf, lvl, trd, season, phase, n, inited, last, bad = st
        buf, season = list(buf or []), list(season or [])
        xs = pdf[value_col].to_numpy(dtype=np.float64)
        n += len(xs)
        if bad:
            pass  # poisoned key: count rows, state stays NULL forever
        elif not inited:
            buf.extend(float(v) for v in xs)
            if len(buf) >= 2 * m:
                res = _hw_fold(
                    np.asarray(buf), alpha, beta, gamma, m, phi=phi,
                    seasonal=seasonal,
                )
                if res is None:  # mul refusal: poison (batch NULL policy)
                    buf, bad = [], True
                else:
                    lvl, trd, season, phase, *_ = res
                    buf, inited = [], True
        else:
            res = _hw_fold(
                xs, alpha, beta, gamma, m,
                state=(lvl, trd, season, phase), phi=phi,
                seasonal=seasonal,
            )
            if res is None:
                lvl, trd, season, phase, inited, bad = (
                    None, None, [], 0, False, True
                )
            else:
                lvl, trd, season, phase, *_ = res
        last = last_ts(last, pdf)
        if not inited:
            fc1 = None
        elif seasonal == "mul":
            fc1 = (lvl + phi * trd) * season[phase % m]
        else:
            fc1 = lvl + phi * trd + season[phase % m]
        return (
            buf, lvl, trd, [float(s) for s in season], int(phase), n,
            inited, last, bad,
        ), {
            "n_events": n, "level": lvl, "trend": trd, "forecast_1": fc1,
            "last_ts_micros": last,
        }

    return _state_stream(
        "holt_winters_state_stream", events, key_col, ts_col, [value_col],
        tiebreak_col,
        "buf array<double>, lvl double, trd double, season array<double>, "
        "phase long, n long, inited boolean, last long, bad boolean",
        "n_events long, level double, trend double, forecast_1 double, "
        "last_ts_micros long",
        ([], None, None, [], 0, 0, False, None, False), step,
    )


def _intermittent_state_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    method: str,
    alpha: float,
    beta: float | None,
    factor: float,
    tiebreak_col: str | None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Shared builder of `croston_state_stream`/`tsb_state_stream`. State
    per key is (z, p, q, n, nd, bad) — six scalars, O(1) forever — and
    each micro-batch folds through `_intermittent_step`, the batch
    forecasters' own step, so replaying micro-batches in (ts[, tiebreak])
    order reproduces the batch result BIT-FOR-BIT. A NEGATIVE demand
    permanently degrades its key (bad = 1): subsequent updates emit NULL
    state with n_periods still counting — the streaming face of the
    batch NULL policy (a batch re-run over the landed log reports the
    same NULLs).

    `interval=True` (r14 — the batch twins' interval surface): the
    state grows by the step's (sse, me) error accumulators (still O(1)
    and Markov) and each emit appends (se, lo, hi). The state schema
    changes ONLY when asked — interval=False checkpoints are untouched.

    ORDER CONTRACT + NULL POLICY: the `_state_stream` harness's."""
    from sparkglm_spark.operators.timeseries import (
        _interval_z,
        _intermittent_row,
        _intermittent_step,
    )

    for nm, v in (("alpha", alpha), ("beta", beta)):
        if v is not None and not 0.0 < v < 1.0:
            raise ValueError(f"{nm} must be in (0, 1), got {v!r}")
    zq = _interval_z(interval, level)
    second = "interval" if method == "croston" else "probability"
    iv = ", se double, lo double, hi double" if interval else ""

    def step(st, pdf):
        st = _intermittent_step(
            method, st if interval else st + (0.0, 0),
            pdf[value_col].to_numpy(dtype=np.float64), alpha, beta, factor,
            interval,
        )
        row = _intermittent_row(method, st, factor, interval, zq)
        return (st if interval else st[:6]), row

    return _state_stream(
        f"{method}_state_stream", events, key_col, ts_col, [value_col],
        tiebreak_col,
        "z double, p double, q long, n long, nd long, bad boolean"
        + (", sse double, me long" if interval else ""),
        f"n_periods long, n_demands long, size double, {second} double, "
        f"forecast double{iv}",
        (None, None, 0, 0, 0, False) + ((0.0, 0) if interval else ()),
        step,
    )


def croston_state_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    variant: str = "classic",
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Streaming twin of `operators.timeseries.croston_forecast` —
    per-key intermittent-demand state via applyInPandasWithState. The
    Croston fold is Markov in (z, p, q), so the stream reproduces the
    batch trajectory bit-for-bit when micro-batches arrive in time
    order (asserted in tests/test_streaming.py); each batch emits the
    key's updated (n_periods, n_demands, size, interval, forecast),
    output mode 'update'. A negative demand permanently NULL-degrades
    its key — the streaming face of the batch NULL policy.
    `interval=True` appends the batch twin's (se, lo, hi) — the (sse, m)
    accumulators join the state, still O(1) and stream ≡ batch."""
    if variant not in ("classic", "sba"):
        raise ValueError(f"variant must be 'classic' or 'sba', got {variant!r}")
    factor = 1.0 - alpha / 2.0 if variant == "sba" else 1.0
    return _intermittent_state_stream(
        events, key_col, ts_col, value_col, "croston", alpha, None,
        factor, tiebreak_col, interval=interval, level=level,
    )


def tsb_state_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.1,
    beta: float = 0.1,
    tiebreak_col: str | None = None,
    interval: bool = False,
    level: float = 0.95,
) -> DataFrame:
    """Streaming twin of `operators.timeseries.tsb_forecast`
    (Teunter-Syntetos-Babai obsolescence-aware intermittent demand) —
    per-key (z, p, q) state, every-period probability smoothing, output
    mode 'update'. Same contracts as `croston_state_stream` (incl. the
    `interval=True` (se, lo, hi) surface); the forecast p·z decays
    through a demand pause batch-by-batch, which is exactly the
    monitoring shape TSB exists for."""
    return _intermittent_state_stream(
        events, key_col, ts_col, value_col, "tsb", alpha, beta,
        1.0, tiebreak_col, interval=interval, level=level,
    )


def forecast_accuracy_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    actual_col: str,
    forecast_col: str,
    tiebreak_col: str | None = None,
    m: int = 1,
) -> DataFrame:
    """Streaming twin of `operators.timeseries.forecast_accuracy` — the
    LIVE model-quality monitor (each micro-batch emits every touched
    key's updated MAE/RMSE/MAPE/sMAPE/MASE over the whole stream so
    far; pair with `drift_state_stream` for the full scoring-health
    panel). Every metric is a ratio of RUNNING SUMS, so the only
    stream-vs-batch difference is float summation order (≲1e-15
    relative; asserted at 1e-12 in tests).

    The MASE denominator is the lag-m naive over a ring of the last m
    actuals carried in the key state (for m = 1 the ring is the single
    `prev_y` field) — eight scalars + the ring, O(1) in stream LENGTH.
    SEASONAL MASE (m > 1) replicates the batch contiguity contract: the
    state also tracks the running min/max lag-1 spacing of the
    `_ts_axis` (prev_ts + two scalars, `_grid_track`), and a key whose
    retained rows ever leave a regular positive grid — a ts gap, a
    dropped-null hole, a duplicate or null timestamp — reports mase
    NULL from then on, never a phase-shifted number. Short keys (≤ m
    scored rows) are NULL via the empty naive sum, the batch
    convention. HAZARD: the spacing check sees rows in the family's
    processing order (within-batch ts sort, ARRIVAL order across
    batches) — feed ordered micro-batches, as every stream≡batch
    contract here already requires.

    ORDER CONTRACT + NULL POLICY: the `_state_stream` harness's; rows
    with a null/NaN actual OR forecast are dropped before scoring and
    do not anchor the naive lag — the batch convention."""
    if not isinstance(m, int) or isinstance(m, bool) or m < 1:
        raise ValueError(f"m must be an int >= 1, got {m!r}")

    def step(st, pdf):
        n, sae, sse, sape, n_mape, ssm, snd, n_nd, ring, *grid = st
        y = pdf[actual_col].to_numpy(dtype=np.float64)
        f = pdf[forecast_col].to_numpy(dtype=np.float64)
        e = y - f
        n += len(y)
        sae += float(np.abs(e).sum())
        sse += float((e * e).sum())
        nz = y != 0.0
        sape += float(np.abs(e[nz] / y[nz]).sum())
        n_mape += int(nz.sum())
        den = np.abs(y) + np.abs(f)
        ssm += float(
            np.where(
                den == 0.0, 0.0,
                2.0 * np.abs(e) / np.where(den == 0.0, 1.0, den),
            ).sum()
        )
        # lag-m naive over [ring ++ batch] — row i pairs with
        # ext[len(tail) + i − m]; indices < 0 are pre-history
        tail = [] if ring is None else [ring] if m == 1 else list(ring)
        ext = np.concatenate([np.asarray(tail, dtype=np.float64), y])
        idx = len(tail) + np.arange(len(y)) - m
        valid = idx >= 0
        snd += float(np.abs(y[valid] - ext[idx[valid]]).sum())
        n_nd += int(valid.sum())
        ring = float(y[-1]) if m == 1 else [float(v) for v in ext[-m:]]
        if m > 1:
            grid = _grid_track(*grid, pdf["__t"])
        mae = sae / n
        naive = snd / n_nd if n_nd else None
        ok = naive is not None and naive > 0.0 and (m == 1 or _grid_ok(*grid[1:]))
        return (n, sae, sse, sape, n_mape, ssm, snd, n_nd, ring, *grid), {
            "n": n, "mae": mae, "rmse": float(np.sqrt(sse / n)),
            "mape": sape / n_mape if n_mape else None, "n_mape": n_mape,
            "smape": ssm / n, "mase": mae / naive if ok else None,
        }

    ring = (
        "prev_y double" if m == 1
        else "tail array<double>, prev_ts double, dt_min double, dt_max double"
    )
    return _state_stream(
        "forecast_accuracy_stream", events, key_col, ts_col,
        [actual_col, forecast_col], tiebreak_col,
        "n long, sae double, sse double, sape double, n_mape long, "
        f"ssm double, snd double, n_nd long, {ring}",
        "n long, mae double, rmse double, mape double, n_mape long, "
        "smape double, mase double",
        (0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, 0)
        + ((None,) if m == 1 else ([], None, None, None)),
        step,
    )


def ar_state_stream(
    events: DataFrame,
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
    """Streaming twin of `operators.timeseries.ar_forecast` — a LIVE
    per-key AR(p) model that refits from running sufficient statistics
    on every micro-batch (applyInPandasWithState).

    The batch operator's whole design carries over: the OLS normal
    equations are plain sums of lag products, and sums are EXACTLY
    incrementally maintainable — state per key is the O(p²) Gram sums
    + the last-p value ring (the lag seam across batches AND the
    forecast seed) + the 3 grid trackers, O(p²) forever regardless of
    stream length. Each batch emits the key's refit (same columns as
    the batch operator: n_events, n_fit, [intercept,] ar_1…ar_p,
    sigma2, forecast_<h>…[, se/lo/hi_<h>…]) via the SHARED
    `_ar_solve_from_sums` and `_ar_row` — one solve and one row
    definition, zero logic drift. Stream-vs-batch differs only in float
    summation order (np pairwise per batch + carried state vs the batch
    aggregate) — asserted at 1e-9 in tests.

    CONTIGUITY: the batch grid contract in streaming form
    (`_grid_track` over the `_ts_axis`): running lag-1 spacing min/max +
    the batch seam; one irregular spacing (or a null ts) permanently
    fails the regularity check and NULLs every later estimate, exactly
    like the batch guard. `assume_contiguous=True` skips it. ORDER
    CONTRACT and NULL POLICY: the `_state_stream` harness's (note a
    dropped interior row is a GAP the grid tracker then catches)."""
    from sparkglm_spark.operators.timeseries import (
        _ar_row,
        _ar_solve_from_sums,
        _interval_z,
    )

    if p < 1:
        raise ValueError(f"p must be >= 1, got {p!r}")
    if not horizons:
        raise ValueError("horizons must be non-empty")
    if any(int(h) < 1 for h in horizons):
        raise ValueError("horizons must be >= 1")
    zq = _interval_z(interval, level)
    hs = [int(h) for h in horizons]
    k = p + (1 if intercept else 0)
    chk = not assume_contiguous

    def step(st, pdf):
        n, nf, sums, tail, *grid = st
        sums = np.array(sums, dtype=np.float64)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        # lag seam: rows see [ring ++ batch]; ext index i aligns with
        # the GLOBAL position whenever the ring is still short (n < p),
        # and is ≥ p for every new row once it is full — so "full lags
        # available" is exactly ext-index ≥ p in both regimes
        ext = np.concatenate([np.asarray(tail or [], dtype=np.float64), x])
        idxs = np.arange(len(ext) - len(x), len(ext))
        valid = idxs[idxs >= p]
        if len(valid):
            # flat sums layout: see `_ar_solve_from_sums`
            yv = ext[valid]
            lags = [ext[valid - j] for j in range(1, p + 1)]
            nf += len(valid)
            sums[0] += float(yv.sum())
            sums[1] += float((yv * yv).sum())
            for j in range(p):
                sums[2 + j] += float(lags[j].sum())
                sums[2 + p + j] += float((lags[j] * yv).sum())
            pos = 2 + 2 * p
            for i in range(p):
                for j in range(i, p):
                    sums[pos] += float((lags[i] * lags[j]).sum())
                    pos += 1
        n += len(x)
        tail = [float(v) for v in ext[-p:]]
        if chk:
            grid = _grid_track(*grid, pdf["__t"])
        sol = None
        if (not chk or _grid_ok(*grid[1:])) and nf >= k:
            sol = _ar_solve_from_sums(
                nf, sums, tail, p, intercept, hs, interval, zq
            )
        return (n, nf, [float(v) for v in sums], tail, *grid), {
            "n_events": n, "n_fit": nf,
            **_ar_row(sol, p, intercept, hs, interval),
        }

    est = _ar_row(None, p, intercept, hs, interval)
    return _state_stream(
        "ar_state_stream", events, key_col, ts_col, [value_col],
        tiebreak_col,
        "n long, nf long, sums array<double>, tail array<double>, "
        "prev_ts double, dt_min double, dt_max double",
        "n_events long, n_fit long, " + ", ".join(f"{c} double" for c in est),
        (0, 0, [0.0] * (2 + 2 * p + p * (p + 1) // 2), [], None, None, None),
        step,
    )
