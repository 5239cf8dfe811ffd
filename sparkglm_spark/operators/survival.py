"""Cox proportional-hazards regression, distributed.

The reference engine stops at LM/GLM; survival analysis is the natural
next member of that family (R: `coxph`). The Cox partial likelihood
(Breslow tie handling) over event times t with risk sets R(t) = {j : t_j ≥ t}:

    ll(β)   = Σ_events [ xᵢ'β − ln S0(tᵢ) ]
    S0(t)   = Σ_{j ∈ R(t)} exp(xⱼ'β)
    S1(t)   = Σ_{j ∈ R(t)} xⱼ·exp(xⱼ'β)              (k-vector)
    S2(t)   = Σ_{j ∈ R(t)} xⱼxⱼ'·exp(xⱼ'β)           (k×k)
    grad    = Σ_events [ xᵢ − S1/S0 ]
    info    = Σ_events [ S2/S0 − (S1/S0)(S1/S0)' ]
    Newton: β ← β + info⁻¹·grad

Scale design — the risk-set sums are DESCENDING cumulative sums over
time (risk sets are nested, so each S·(t) is a suffix sum):

  The FIT (`coxph`, `_CoxStatsEngine`) partitions the per-row frame
  ONCE — range-partitioned by descending time (hash by stratum when
  stratified), partition id tagged as a column, persisted — and every
  Newton iteration is then shuffle-free over that cache: one tiny
  per-partition totals pass giving each partition its exclusive suffix
  OFFSET on the driver, and one pass running the Breslow kernel
  `_breslow_sums` (tie-aware within-partition cumulative risk sums +
  offset, then the event sums; one partial row per partition). The
  driver sees O(n_part·k²) per iteration. (r14: the previous shape
  re-ran a groupBy(time) exchange, a range repartition + sampling job,
  a window exchange and a global agg PER ITERATION — 4 exchanges each —
  for a partitioning that never changes across iterations.)

  The Cox fit is written once: `_breslow_sums` is the one Breslow
  kernel and `_cox_newton_loop` the one Newton loop. `coxph` runs them
  over the engine's cached partitions; `coxph_grouped` runs them per
  group (`_cox_newton_dense`) on the numpy twin of `_counting_arms`.

  ONE-SHOT risk-set consumers (baseline hazard, Schoenfeld residuals,
  log-rank, KM) keep the per-time groupBy + range-partitioned
  `global_running_sum` prefix plan (per-stratum windows when
  stratified). Distinct-time cardinality bounds those intermediates —
  at 100 TB, micro-timestamped data should be bucketed via the
  `time_bucket=` knob every fitter here accepts.

  Stratified fits (`strata_col=`, R's `strata()`): risk sets never
  cross strata, so the partial likelihood factorizes — the engine
  hash-partitions by stratum and skips the offsets pass entirely.
  Grouped fits (`coxph_grouped`) are the other axis: separate β per
  segment via applyInPandas.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.gram import gram_sums
from sparkglm_spark.plans.partitioning import (
    apply_grouped,
    collect_small,
    fanout_groups,
)
from sparkglm_spark.plans.prefix import global_running_sum

# Euler–Mascheroni constant: E[W] = −γ for the standard minimum
# extreme-value W in the Weibull AFT model — used to bias-correct the
# OLS intercept start (the OLS intercept estimates β₀ − γσ).
_EULER_GAMMA = 0.5772156649015329

# sd of the AFT error distribution W — the σ-start denominator shared by
# the distributed fitter, the dense twin and the grouped surface (r14
# review: one table, not three copies). Keys double as the dist whitelist.
_AFT_SD_W = {
    "weibull": 1.283,                       # extreme value: π/√6
    "loglogistic": 1.8137993642342178,      # logistic: π/√3
    "lognormal": 1.0,
}


def _time_expr(time_col: str, time_bucket: float | None) -> Column:
    """The (optionally bucketed) double time axis: with `time_bucket=w`,
    floor(t/w)·w — every micro-timestamp in [k·w, (k+1)·w) collapses to
    one distinct time, bounding the per-time intermediate at scale. The
    discretization coarsens risk sets the way any tie does (Breslow);
    pick w well below the hazard's natural time scale."""
    t = F.col(time_col).cast("double")
    if time_bucket is None:
        return t
    if not time_bucket > 0:
        raise ValueError(f"time_bucket must be > 0, got {time_bucket!r}")
    w = float(time_bucket)
    return F.floor(t / F.lit(w)).cast("double") * F.lit(w)


def _counting_arms(
    df: DataFrame,
    time_col: str,
    event_col: str,
    entry_col: str | None,
    time_bucket: float | None,
) -> DataFrame:
    """The per-row (axis, sign, event-mass) columns every risk-set pass
    aggregates: appends `__t` (bucketed double time), `__sgn`, `__ev`.

    Right-censored data (`entry_col=None`): `__t` = exit time,
    `__sgn` ≡ 1, `__ev` = event flag — no row expansion, and the lit(1.0)
    sign multiply is exact (same policy as the unweighted ω ≡ 1 path).

    Counting-process data (`entry_col` set — R `Surv(start, stop, ev)`):
    each row explodes into an EXIT arm (t=stop, sgn=+1, ev=event) and an
    ENTRY arm (t=start, sgn=−1, ev=0) in the SAME scan (a generator
    projection — no join, no extra exchange; 2n compact rows feed the
    one per-time shuffle). Suffix sums of sgn-signed risk masses then
    give S·(t) = Σ_{stop ≥ t} − Σ_{start ≥ t}, i.e. the (start, stop]
    risk set {j : start_j < t ≤ stop_j}: delayed entry (left truncation)
    falls out, and multiple (start, stop] rows per subject give
    time-varying covariates (Andersen-Gill) — the partial likelihood
    only ever reads the covariate value of the interval at risk. The
    strict start < t edge is automatic: an entry mass AT t sits in the
    suffix at t and cancels its own exit mass."""
    t = _time_expr(time_col, time_bucket)
    ev = F.col(event_col).cast("double")
    if entry_col is None:
        return (
            df.withColumn("__t", t)
            .withColumn("__sgn", F.lit(1.0))
            .withColumn("__ev", ev)
        )
    en = _time_expr(entry_col, time_bucket)
    arm = F.explode(
        F.array(
            F.struct(
                t.alias("t"), F.lit(1.0).alias("sgn"), ev.alias("ev")
            ),
            F.struct(
                en.alias("t"),
                F.lit(-1.0).alias("sgn"),
                F.lit(0.0).alias("ev"),
            ),
        )
    )
    return (
        df.withColumn("__arm", arm)
        .withColumn("__t", F.col("__arm.t"))
        .withColumn("__sgn", F.col("__arm.sgn"))
        .withColumn("__ev", F.col("__arm.ev"))
        .drop("__arm")
    )


@dataclass
class CoxPH:
    """Fitted Cox model. `se` = √diag(info⁻¹) at the final β (the usual
    asymptotic covariance); `loglik`/`null_loglik` are Breslow partial
    log-likelihoods."""

    xnames: list[str]
    time_col: str
    event_col: str
    coefs: np.ndarray
    se: np.ndarray
    loglik: float
    null_loglik: float
    n: int
    n_events: int
    iter: int
    converged: bool
    cov_params: np.ndarray = field(default=None, repr=False)
    time_bucket: float | None = None
    strata_col: str | None = None
    weight_col: str | None = None
    entry_col: str | None = None

    def _risk_expr(self) -> Column:
        eta = F.lit(0.0)
        for name, b in zip(self.xnames, self.coefs):
            eta = eta + F.lit(float(b)) * F.col(name).cast("double")
        return F.exp(eta)

    def predict(self, df: DataFrame, output_col: str = "risk_score") -> DataFrame:
        """Append the relative risk exp(x'β) (hazard ratio vs a baseline
        subject at x = 0) — one codegen projection, rows untouched."""
        return df.withColumn(output_col, self._risk_expr())

    def baseline_hazard(
        self, df: DataFrame, num_partitions: int | None = None
    ) -> DataFrame:
        """Breslow baseline cumulative hazard over (typically) the training
        frame — the `survfit(coxph)` companion (public convention: Breslow
        1972; R survival::survfit):

            h₀(tᵢ)  = dᵢ / S0(tᵢ)            S0(t) = Σ_{tⱼ≥t} exp(xⱼ'β̂)
            H₀(t)   = Σ_{tᵢ≤t} h₀(tᵢ)
            S₀(t)   = exp(−H₀(t))            baseline survival at x = 0

        One row per distinct EVENT time: (time, n_events, s0, hazard,
        cum_hazard, baseline_survival) — prefixed by the stratum column
        for a stratified fit (one independent baseline per stratum, the
        whole point of stratification).

        Plan: ONE groupBy(distinct time[, stratum]) for (Σexp(xβ), d), a
        suffix-sum prefix pass for S0 (risk sets are nested), then an
        ascending prefix pass over the event rows for H₀ — the same two
        range-partitioned `global_running_sum` plans the fit uses
        (per-stratum windows when stratified), no single-partition stage,
        per-time rows only on the wire. The fit's `time_bucket` (stored
        on the model) is applied identically, so the hazard steps live on
        the same discretized axis the β̂ was estimated on. A
        counting-process fit (`entry_col`, r14) subtracts the entry-arm
        masses from S0 through the same suffix plan (`_counting_arms`) —
        the Breslow estimator over (start, stop] risk sets."""
        sc = self.strata_col
        src = _counting_arms(
            df, self.time_col, self.event_col, self.entry_col,
            self.time_bucket,
        )
        keys = ([F.col(sc)] if sc else []) + [F.col("__t")]
        # a weighted fit weights its baseline the same way (R survfit on
        # a weighted coxph); unweighted multiplies by 1.0 — bitwise no-op
        wr = (
            F.col(self.weight_col).cast("double")
            if self.weight_col
            else F.lit(1.0)
        )
        per_t = src.groupBy(*keys).agg(
            F.sum(F.col("__sgn") * wr * self._risk_expr()).alias("e0"),
            F.sum(wr * F.col("__ev")).alias("d"),
        )
        s0 = _suffix_sums(per_t, ["e0"], sc, num_partitions).withColumnRenamed(
            "e0_cum", "s0"
        )
        events = s0.where(F.col("d") > 0).withColumn(
            "hazard", F.col("d") / F.col("s0")
        )
        if sc:
            from pyspark.sql import Window

            w = (
                Window.partitionBy(sc)
                .orderBy("__t")
                .rangeBetween(Window.unboundedPreceding, Window.currentRow)
            )
            cum = events.withColumn("hazard_cum", F.sum("hazard").over(w))
        else:
            cum = global_running_sum(
                events, "__t", ["hazard"], num_partitions=num_partitions
            )
        out_keys = ([F.col(sc)] if sc else []) + [F.col("__t").alias("time")]
        return (
            cum.select(
                *out_keys,
                # weighted fits report the (possibly fractional) event
                # MASS — a long cast would silently truncate it
                (
                    F.col("d").cast("long")
                    if self.weight_col is None
                    else F.col("d")
                ).alias("n_events"),
                F.col("s0"),
                F.col("hazard"),
                F.col("hazard_cum").alias("cum_hazard"),
                F.exp(-F.col("hazard_cum")).alias("baseline_survival"),
            )
            .orderBy(*(([sc] if sc else []) + ["time"]))
        )

    def predict_survival(
        self,
        df: DataFrame,
        times: list[float],
        train_df: DataFrame | None = None,
        baseline: DataFrame | None = None,
        prefix: str = "surv_",
    ) -> DataFrame:
        """Per-subject survival probability at each requested horizon:

            S(t | x) = S₀(t)^exp(x'β̂) = exp(−H₀(t)·exp(x'β̂))

        Pass the training frame (`train_df`, computes the Breslow baseline)
        or a precomputed `baseline_hazard()` frame (reuse it across many
        scoring calls — it is per-model, not per-scoring-frame state).

        H₀ is a step function; each horizon reads the step at the largest
        event time ≤ t — ONE bounded aggregation over the baseline frame
        (len(times) conditional maxes → len(times) driver scalars), then
        one codegen projection appends `<prefix><t>` columns to the
        scoring rows. A horizon before the first event has H₀ = 0 (S = 1);
        nothing row-level is collected.

        Stratified models use the per-stratum step functions: the bounded
        per-stratum aggregate broadcast-joins onto the scoring rows by
        the stratum column (|strata| rows on the wire). A scoring row
        whose stratum was unseen in training gets NULL survival — its
        baseline is genuinely unknown, unlike a known stratum with no
        event before the horizon (S = 1)."""
        if not times:
            raise ValueError("times must be non-empty")
        if baseline is None:
            if train_df is None:
                raise ValueError("pass train_df or a precomputed baseline")
            baseline = self.baseline_hazard(train_df)
        risk = self._risk_expr()
        names = [
            f"{prefix}{t:g}".replace(".", "_").replace("-", "m") for t in times
        ]
        aggs = [
            F.max(
                F.when(F.col("time") <= float(t), F.col("cum_hazard"))
            ).alias(f"__h_{i}")
            for i, t in enumerate(times)
        ]
        sc = self.strata_col
        if sc:
            # NULL __h_i within a SEEN stratum means "no event ≤ horizon"
            # (H0 = 0); an unseen stratum has no per-stratum row at all,
            # which nulls every __h_i AND the join marker
            marker = "__h_seen"
            per_s = baseline.groupBy(sc).agg(F.lit(1).alias(marker), *aggs)
            out = df.join(F.broadcast(per_s), on=sc, how="left")
            for i, name in enumerate(names):
                out = out.withColumn(
                    name,
                    F.when(
                        F.col(marker).isNotNull(),
                        F.exp(-F.coalesce(F.col(f"__h_{i}"), F.lit(0.0)) * risk),
                    ),
                )
            return out.drop(marker, *[f"__h_{i}" for i in range(len(times))])
        row = baseline.agg(*aggs).collect()[0]
        h0 = [
            float(row[f"__h_{i}"]) if row[f"__h_{i}"] is not None else 0.0
            for i in range(len(times))
        ]
        out = df
        for name, h in zip(names, h0):
            out = out.withColumn(name, F.exp(F.lit(-h) * risk))
        return out

    def summary_rows(self) -> list[tuple]:
        """(term, coef, hazard_ratio, se, z, p) per covariate."""
        from sparkglm_spark.functions.special import norm_pvalue_two_sided

        out = []
        for name, b, s in zip(self.xnames, self.coefs, self.se):
            z = b / s if s > 0 else float("nan")
            out.append(
                (name, float(b), float(np.exp(b)), float(s), float(z),
                 float(norm_pvalue_two_sided(z)))
            )
        return out


def _suffix_sums(
    per_t: DataFrame,
    cum_cols: list[str],
    strata_col: str | None,
    num_partitions: int | None,
) -> DataFrame:
    """Risk-set (suffix) sums over the per-time frame: per-stratum window
    when stratified (one hash exchange on the stratum key — strata are the
    parallelism unit, so no single-partition stage), the range-partitioned
    global prefix plan otherwise."""
    if strata_col:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(strata_col)
            .orderBy(F.col("__t").desc())
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = per_t
        for c in cum_cols:
            out = out.withColumn(f"{c}_cum", F.sum(c).over(w))
        return out
    return global_running_sum(
        per_t.withColumn("__nt", -F.col("__t")),
        "__nt",
        cum_cols,
        num_partitions=num_partitions,
    )


def _breslow_sums(t, ev, sgn, w, X, beta, off) -> np.ndarray:
    """The Breslow event sums of one risk-set-complete frame — the one
    kernel both Cox backends run (`_CoxStatsEngine` per cached partition
    or stratum, `_cox_newton_dense` per group). Rows are `_counting_arms`
    arms: time `t`, event mass `ev`, sign `sgn` (+1 exit, −1 entry), case
    weight `w`, covariates `X`; `off` is the risk-mass suffix of the rows
    outside this frame with later times (0 for a whole frame).

    The risk masses m = sgn·ω·exp(x'β) form the `gram_sums` layout over
    [1, x…] — (m·zᵢ)·zⱼ for i ≤ j, i.e. S0, S1 and the S2 triangle — and
    are suffix-cumulated by descending time; every row of a tie run reads
    the cum at the run's last index (Breslow). Returns
    [Σd·ln S0, Σd, Σd·x, Σd·S1/S0, the triangle of Σd·(S2/S0 − S1S1'/S0²)]
    over event rows (d = ω·ev), `_cox_unpack`'s order.

    SQL null conventions are kept: a row whose risk mass is NaN drops out
    of the risk sums (its event mass still counts, its non-finite
    event×covariate terms are skipped), log(S0 ≤ 0) and /0 terms are
    skipped like Spark's NULL log/division; ±inf propagates as SQL
    SUM(Infinity) does."""
    k = X.shape[1]
    Z = np.column_stack([np.ones(len(t)), X])
    m = sgn * w * np.exp(X @ beta)
    V = np.column_stack(
        [(m * Z[:, i]) * Z[:, j] for i in range(k + 1) for j in range(i, k + 1)]
    )
    np.nan_to_num(V, copy=False, nan=0.0, posinf=np.inf, neginf=-np.inf)
    order = np.argsort(-t, kind="stable")
    ts = t[order]
    C = np.cumsum(V[order], axis=0)
    cums = C[np.searchsorted(-ts, -ts, side="right") - 1] + off
    d = (w * ev)[order]
    out = np.zeros(2 + 2 * k + k * (k + 1) // 2)
    out[1] = d.sum()
    em = d > 0
    if not em.any():
        return out
    de, E = d[em], cums[em]
    S0 = E[:, 0]
    out[2 : 2 + k] = np.nansum(de[:, None] * X[order][em], axis=0)
    ok = S0 > 0
    out[0] = np.dot(de[ok], np.log(S0[ok]))
    nz = S0 != 0.0
    dn, S0n, E = de[nz], S0[nz], E[nz]
    E1 = E[:, 1 : 1 + k]
    out[2 + k : 2 + 2 * k] = (dn[:, None] * E1 / S0n[:, None]).sum(axis=0)
    for c, (i, j) in enumerate(zip(*np.triu_indices(k))):
        out[2 + 2 * k + c] = np.dot(
            dn, E[:, 1 + k + c] / S0n - E1[:, i] * E1[:, j] / (S0n * S0n)
        )
    return out


def _cox_unpack(vals, beta, k):
    """(ll, grad, info) at β from one `_breslow_sums` vector (summed over
    partitions or strata)."""
    sdx = vals[2 : 2 + k]
    info = np.empty((k, k))
    iu = np.triu_indices(k)
    info[iu] = info[iu[::-1]] = vals[2 + 2 * k :]
    return float(beta @ sdx - vals[0]), sdx - vals[2 + k : 2 + 2 * k], info


class _CoxStatsEngine:
    """Per-iteration Cox sufficient statistics over a ONCE-partitioned,
    cached per-row frame (r14; guide §2.4 "remove shuffles outright"):
    only β changes across Newton steps, never the partitioning.

    Setup (once per fit): the `_counting_arms` per-row frame is
    range-partitioned by DESCENDING time — equal times never split
    across partitions and partition p holds later times than p+1 — or
    hash-partitioned by stratum when stratified (risk sets never cross
    strata), tagged with its partition id as a COLUMN, and persisted.

    `stats_at(β)` over that cache returns the summed `_breslow_sums`
    vector:
      unstratified — TWO shuffle-free jobs:
        1. totals: a codegen `gram_sums` aggregate of the β-weighted
           risk masses per partition → ≤ n_part tiny rows collected; the
           driver turns them into each partition's exclusive suffix
           OFFSET (earlier pids hold later times);
        2. final: mapInPandas runs `_breslow_sums` on each partition with
           its offset → ONE partial row per partition, summed on the
           driver in pid order.
      stratified — no offsets needed: ONE job (step 2, the kernel run
      per stratum inside each partition with a zero offset).

    Identical math to a per-time plan (every row at time t reads the
    same suffix sums, so summing event ROWS ≡ summing event TIMES with
    d_t masses); floating-point association differs, as it already does
    across partitionings."""

    def __init__(
        self,
        work: DataFrame,
        time_col: str,
        event_col: str,
        x_cols: list[str],
        num_partitions: int | None,
        strata_col: str | None = None,
        weight_col: str | None = None,
        entry_col: str | None = None,
    ) -> None:
        self.k = len(x_cols)
        self.strata = strata_col is not None
        src = _counting_arms(work, time_col, event_col, entry_col, None)
        wr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
        cols = [
            F.col("__t"),
            F.col("__ev"),
            F.col("__sgn"),
            wr.alias("__w"),
        ] + [F.col(c).cast("double").alias(f"__x{i}") for i, c in enumerate(x_cols)]
        n_part = (
            num_partitions
            or work.sparkSession.sparkContext.defaultParallelism
        )
        if strata_col:
            part = (
                src.select(*cols, F.col(strata_col).alias("__s"))
                .repartition(n_part, F.col("__s"))
            )
        else:
            part = src.select(*cols).repartitionByRange(
                n_part, F.col("__t").desc()
            )
        self.part = part.withColumn(
            "__pid", F.spark_partition_id()
        ).persist()

    def unpersist(self) -> None:
        self.part.unpersist()

    def stats_at(self, beta: np.ndarray) -> np.ndarray:
        import pandas as pd

        k, strata = self.k, self.strata
        b = np.asarray(beta, dtype=np.float64).copy()
        xnames = [f"__x{i}" for i in range(k)]
        offsets: dict[int, np.ndarray] = {}
        if not strata:
            # totals stay pure codegen: partial aggregation reduces each
            # cached partition to ONE row before the tiny exchange — no
            # Python boundary for this pass (guide §2.3 "aggregate before
            # you shuffle")
            xs = [F.col(c) for c in xnames]
            eta = F.lit(0.0)
            for col, bv in zip(xs, b):
                eta = eta + F.lit(float(bv)) * col
            m = F.col("__sgn") * F.col("__w") * F.exp(eta)
            rows = collect_small(
                self.part.groupBy("__pid").agg(
                    *gram_sums([F.lit(1.0)] + xs, w=m)
                )
            )
            run = 0.0
            for r in sorted(rows, key=lambda r: r["__pid"]):
                offsets[int(r["__pid"])] = run
                run = run + np.array([float(v or 0.0) for v in r[1:]])

        def kernel(pdf, off):
            return _breslow_sums(
                *(pdf[c].to_numpy(np.float64)
                  for c in ("__t", "__ev", "__sgn", "__w")),
                pdf[xnames].to_numpy(np.float64), b, off,
            )

        def final(batches):
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
            pid = int(pdf["__pid"].iloc[0])
            if strata:
                acc = sum(
                    kernel(g, 0.0)
                    for _, g in pdf.groupby("__s", sort=False, dropna=False)
                )
            else:
                acc = kernel(pdf, offsets.get(pid, 0.0))
            yield pd.DataFrame({"__pid": [pid], "v": [acc]})

        rows = self.part.mapInPandas(
            final, "__pid int, v array<double>"
        ).collect()
        return sum(
            np.array(r["v"]) for r in sorted(rows, key=lambda r: r["__pid"])
        )


def coxph(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    max_iter: int = 20,
    tol: float = 1e-9,
    exact_iterations: int | None = None,
    num_partitions: int | None = None,
    time_bucket: float | None = None,
    strata_col: str | None = None,
    weight_col: str | None = None,
    entry_col: str | None = None,
) -> CoxPH:
    """Fit the Cox model by Newton-Raphson from β = 0 (R coxph's start).
    `event_col` is 0/1 (1 = event, 0 = censored; validated). Ties are
    handled by the Breslow approximation. No intercept — the baseline
    hazard absorbs it (the Cox model has no intercept by construction).

    `weight_col` (r11): per-row CASE weights with the R
    `coxph(weights=)` convention — every risk-set term carries ω·exp(η)
    and every event term ω·ev, so an INTEGER weight is exactly row
    replication for the whole Breslow partial likelihood (tested);
    `n`/`n_events` keep reporting raw row/event counts. The fitted
    model remembers the weight column and applies it in
    `baseline_hazard` over a weighted frame. Null/negative weights and
    Σω ≤ 0 raise upfront (shared `check_weight_domain` guard).

    `exact_iterations=N`: exactly N Newton steps, no convergence test —
    the deterministic trajectory a SQL oracle can replay. Otherwise stop
    when |Δll| ≤ tol·(|ll| + tol). A degenerate fit — a constant
    covariate (caught by the validation aggregate's min/max), singular
    information (e.g. a covariate constant over every risk set) or a
    non-finite Newton step — raises ValueError.

    `time_bucket=w` floors the time axis to width-w buckets BEFORE the
    per-time aggregation — the knob that bounds the distinct-time
    cardinality (and hence every per-iteration intermediate) when the
    time column is micro-timestamped. Bucketing coarsens ties exactly
    like Breslow ties do; the stored model re-applies the same bucketing
    in `baseline_hazard`.

    `strata_col=g` fits the STRATIFIED model (R `coxph(... + strata(g))`):
    one shared β, a separate (unconstrained) baseline hazard per stratum
    — risk sets never cross strata, so the partial likelihood factorizes
    and the suffix sums become per-stratum windows (one hash exchange on
    the stratum key; strata are the parallelism unit). The go-to fix
    when a categorical violates proportional hazards: stratify on it
    instead of estimating a coefficient for it.

    `entry_col=start` (r14) fits the COUNTING-PROCESS model (R
    `coxph(Surv(start, stop, event) ~ …)`): each row is at risk on
    (start, stop] only, so delayed entry / left truncation is handled
    (a subject entering the risk set late no longer inflates early risk
    sets), and feeding multiple (start, stop] rows per subject — each
    carrying that interval's covariate values — is the standard
    episode-split encoding of TIME-VARYING covariates (Andersen-Gill;
    estimates treat rows as independent, as base R `coxph` without
    `cluster()` does). Plan impact: one generator projection doubles
    the scan rows (exit arm +mass, entry arm −mass; `_counting_arms`);
    the per-time shuffle, suffix plan, and final aggregation are
    unchanged. Requires start < stop per row AFTER `time_bucket`
    flooring (a bucket width that collapses an interval raises).
    Composes with `strata_col`/`weight_col`/`time_bucket`."""
    if not x_cols:
        raise ValueError("x_cols must be non-empty")
    if entry_col is not None and entry_col == time_col:
        raise ValueError("entry_col must differ from time_col")
    k = len(x_cols)
    chk_aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(event_col).cast("double")).alias("ne"),
        F.sum(
            (F.col(event_col).cast("double") != 0.0).cast("int")
            * (F.col(event_col).cast("double") != 1.0).cast("int")
        ).alias("bad"),
        F.sum(
            F.when(
                F.col(time_col).isNull()
                | F.col(event_col).isNull()
                | (
                    F.col(entry_col).isNull()
                    if entry_col
                    else F.lit(False)
                ),
                1,
            ).otherwise(0)
        ).alias("nulls"),
    ]
    if entry_col:
        # validate on the BUCKETED axes: an interval the flooring
        # collapses to zero length would silently vanish from every
        # risk set (its arms cancel) — refuse instead
        chk_aggs.append(
            F.sum(
                F.when(
                    _time_expr(entry_col, time_bucket)
                    >= _time_expr(time_col, time_bucket),
                    1,
                ).otherwise(0)
            ).alias("badint")
        )
    if weight_col:
        wtc = F.col(weight_col).cast("double")
        chk_aggs += [
            F.sum(wtc).alias("sw"),
            F.min(wtc).alias("minw"),
            F.count(wtc).alias("n_w"),
        ]
    for i, c in enumerate(x_cols):
        chk_aggs += [F.min(c).alias(f"xmin_{i}"), F.max(c).alias(f"xmax_{i}")]
    chk = collect_small(df.agg(*chk_aggs))[0]
    if chk["nulls"]:
        raise ValueError(f"{chk['nulls']} rows have null time/event/entry")
    if chk["bad"]:
        raise ValueError("event_col must be 0/1")
    if entry_col and chk["badint"]:
        raise ValueError(
            f"{int(chk['badint'])} rows have entry >= time "
            "(counting-process intervals must satisfy start < stop"
            + (
                " after time_bucket flooring — use a narrower bucket"
                if time_bucket is not None
                else ""
            )
            + ")"
        )
    n, n_events = int(chk["n"]), int(float(chk["ne"]))
    if n_events == 0:
        raise ValueError("no events (event_col all zero) — nothing to fit")
    for i, c in enumerate(x_cols):
        # a constant covariate leaves the information at rounding noise
        # rather than exactly singular, so the Newton loop would return
        # a garbage estimate instead of failing
        if chk[f"xmin_{i}"] is not None and chk[f"xmin_{i}"] == chk[f"xmax_{i}"]:
            raise ValueError(
                f"degenerate Cox fit: covariate {c!r} is constant "
                f"({chk[f'xmin_{i}']}) — its coefficient is not identifiable"
            )
    if weight_col:
        from sparkglm_spark.operators.lm import check_weight_domain

        check_weight_domain(
            weight_col, n=n, n_w=int(chk["n_w"]),
            min_w=chk["minw"], sum_w=chk["sw"],
        )

    if strata_col is not None and strata_col in x_cols:
        raise ValueError(
            f"strata_col {strata_col!r} must not also be a covariate "
            "(a stratum's effect lives in its baseline hazard)"
        )
    work = df.select(
        _time_expr(time_col, time_bucket).alias(time_col),
        event_col,
        *x_cols,
        *(
            [_time_expr(entry_col, time_bucket).alias(entry_col)]
            if entry_col
            else []
        ),
        *([strata_col] if strata_col else []),
        *([weight_col] if weight_col else []),
    )
    engine = _CoxStatsEngine(
        work, time_col, event_col, x_cols, num_partitions,
        strata_col=strata_col, weight_col=weight_col, entry_col=entry_col,
    )
    try:
        fit = _cox_newton_loop(
            lambda b: _cox_unpack(engine.stats_at(b), b, k),
            k, exact_iterations, tol, max_iter,
        )
    finally:
        engine.unpersist()
    if fit is None:
        raise ValueError(
            "degenerate Cox fit: singular information matrix or a "
            "non-finite Newton step (a constant or collinear covariate?)"
        )
    return CoxPH(
        xnames=list(x_cols),
        time_col=time_col,
        event_col=event_col,
        coefs=fit.beta,
        se=np.sqrt(np.diag(fit.cov)),
        loglik=fit.loglik,
        null_loglik=fit.null_loglik,
        n=n,
        n_events=n_events,
        iter=fit.n_iter,
        converged=fit.converged,
        cov_params=fit.cov,
        time_bucket=time_bucket,
        strata_col=strata_col,
        weight_col=weight_col,
        entry_col=entry_col,
    )


def schoenfeld_residuals(
    model: CoxPH,
    df: DataFrame,
    num_partitions: int | None = None,
    with_at_risk: bool = False,
) -> DataFrame:
    """Schoenfeld residuals of a fitted Cox model over (typically) its
    training frame — the raw material of every proportional-hazards
    diagnostic (public convention: Schoenfeld 1982; R
    `residuals(coxph, type="schoenfeld")`):

        r_k(tᵢ) = Σ_{events at tᵢ} x_k − dᵢ·S1_k(tᵢ)/S0(tᵢ)

    one row per distinct EVENT time (tied events share a row whose
    residual is their sum — the Breslow-consistent aggregation), columns
    (time[, stratum], n_events, resid_<xname>…). At the converged β̂ the
    residuals sum to ~0 per covariate (they ARE the score contributions).

    Plan: the first two steps of a Cox iteration at the FITTED β — one
    groupBy(distinct time[, stratum]) of (e0, e1_k, d, dx_k) compact
    doubles, the suffix-sum pass (per-stratum windows when stratified),
    then a pure projection. Nothing row-level is collected; the output
    is the distinct-event-time table.

    A model fitted with `weight_col` (r13) computes the residuals of
    ITS OWN weighted score: every risk term carries ω·exp(η) and every
    event term ω (the R `residuals(coxph(weights=))` convention —
    integer ω ≡ row replication, tested), reading ω from the model's
    stored weight column in `df`. `n_events` is then the ω event MASS
    (double; long unweighted).

    `with_at_risk=True` (r14) appends `n_at_risk` — the RAW (signed,
    ω-mass) at-risk count at each event time, i.e. the KM denominator.
    It rides the SAME suffix pass as one extra cum column (zero extra
    jobs); `ph_assumption_test(transform='km')` consumes it."""
    k = len(model.xnames)
    xs = [F.col(c).cast("double") for c in model.xnames]
    om = (
        F.col(model.weight_col).cast("double")
        if model.weight_col
        else F.lit(1.0)
    )
    # a counting-process model's residuals are those of ITS OWN
    # (start, stop] score: signed arms through the same suffix plan
    src = _counting_arms(
        df, model.time_col, model.event_col, model.entry_col,
        model.time_bucket,
    )
    w = F.col("__sgn") * om * model._risk_expr()
    ev = om * F.col("__ev")
    aggs = [F.sum(w).alias("e0"), F.sum(ev).alias("d")]
    if with_at_risk:
        aggs.append(F.sum(F.col("__sgn") * om).alias("c0"))
    for i in range(k):
        aggs.append(F.sum(xs[i] * w).alias(f"e1_{i}"))
        aggs.append(F.sum(ev * xs[i]).alias(f"dx_{i}"))
    sc = model.strata_col
    keys = ([F.col(sc)] if sc else []) + [F.col("__t")]
    per_t = src.groupBy(*keys).agg(*aggs)
    cum = _suffix_sums(
        per_t,
        ["e0"]
        + (["c0"] if with_at_risk else [])
        + [f"e1_{i}" for i in range(k)],
        sc,
        num_partitions,
    )
    out_keys = ([F.col(sc)] if sc else []) + [F.col("__t").alias("time")]
    d_out = F.col("d") if model.weight_col else F.col("d").cast("long")
    return (
        cum.where(F.col("d") > 0)
        .select(
            *out_keys,
            d_out.alias("n_events"),
            *(
                [F.col("c0_cum").alias("n_at_risk")]
                if with_at_risk
                else []
            ),
            *[
                (
                    F.col(f"dx_{i}")
                    - F.col("d") * F.col(f"e1_{i}_cum") / F.col("e0_cum")
                ).alias(f"resid_{name}")
                for i, name in enumerate(model.xnames)
            ],
        )
        .orderBy(*(([sc] if sc else []) + ["time"]))
    )


def ph_assumption_test(
    model: CoxPH,
    df: DataFrame,
    transform: str = "identity",
    num_partitions: int | None = None,
    scaled: bool = False,
) -> dict:
    """Proportional-hazards assumption test (Grambsch & Therneau 1994 —
    the `cox.zph` companion): under PH, the Schoenfeld residuals are
    uncorrelated with (a transform of) time; a trend means the
    covariate's effect drifts.

    Per covariate (the paper's score test restricted to one component,
    marginal V̄_kk form):

        U_k  = Σ_t (g(t) − ḡ)·r_k(t)          ḡ = event-weighted mean
        χ²₁  = U_k² / (V̄_kk · Σ_t d_t·(g(t) − ḡ)²)

    and the GLOBAL k-df test with the full average information:
        χ²_k = d·U'·I⁻¹·U / Σ_t d_t·(g − ḡ)²

    where V̄ = I/d is the average per-event information, I = inverse of
    the model's stored cov_params. A `weight_col` model (r13) tests ITS
    OWN weighted score: the Schoenfeld frame carries ω masses, d
    becomes the ω event mass (reported as a float n_events), and the
    stored cov_params already hold the ω-information — integer ω ≡ row
    replication end-to-end (tested).

    `scaled=True` (r14) switches the per-covariate statistic to R
    `survival::cox.zph`'s SCALED-residual form (the pre-3.0 default
    computation): residuals are scaled by d·V (V = cov_params) first,

        χ²₁ = d·(V·U)_k² / (V_kk · Σ_t d_t·(g − ḡ)²)

    identical to the marginal form when covariates are uncorrelated;
    numbers then match R's per-covariate chisq exactly (the global
    statistic is the same in both conventions). Default stays the
    paper's marginal form (the r13 pins ride on it).

    `transform`: "identity" (g = t), "log" (g = ln t, requires t > 0),
    or — r14 — "km", R cox.zph's DEFAULT axis: g(tᵢ) = 1 − KM(tᵢ₋₁),
    the left-continuous Kaplan-Meier survival of the whole (ω-weighted,
    censoring-aware, counting-process-aware) sample at the PREVIOUS
    event time (first event g = 0). Computed in-plan: the KM
    denominator rides the Schoenfeld suffix pass as one extra cum
    column (`with_at_risk`), the log-survival is an EXCLUSIVE
    range-partitioned prefix sum over event times (the `_km_curve`
    NULL-clamp convention when everyone at risk dies), so "km" costs
    one extra prefix pass over the compact event-time frame — no
    single-partition stage, no row-level work. Not supported for
    stratified models (R uses the pooled KM there, which the
    per-stratum frame does not carry — use identity/log).

    Plan: the Schoenfeld frame (distinct event times) → ONE aggregation
    of (d, Σdg, Σdg², Σr_k, Σg·r_k) → driver math on k scalars + one
    k×k solve. Returns {per_covariate: {name: {chi2, p_value}},
    global: {chi2, df, p_value}, n_events, transform, scaled}."""
    from sparkglm_spark.functions.special import chisq_sf

    if transform not in ("identity", "log", "km"):
        raise ValueError("transform must be 'identity', 'log' or 'km'")
    if model.cov_params is None:
        raise ValueError("model carries no cov_params — refit to test PH")
    km = transform == "km"
    if km and model.strata_col:
        raise ValueError(
            "transform='km' is not supported for stratified models "
            "(the per-stratum Schoenfeld frame has no pooled KM axis) — "
            "use transform='identity' or 'log'"
        )
    k = len(model.xnames)
    res = schoenfeld_residuals(
        model, df, num_partitions=num_partitions, with_at_risk=km
    )
    if km:
        dmass = F.col("n_events").cast("double")
        # per-event-time KM log factor; NULL when everyone at risk dies
        # (the _km_curve clamp: the sum then carries the PREVIOUS
        # product's log forward — that time's g never reads its own
        # factor because the prefix is EXCLUSIVE)
        term = F.when(
            dmass < F.col("n_at_risk"),
            F.log(F.lit(1.0) - dmass / F.col("n_at_risk")),
        )
        res = global_running_sum(
            res.withColumn("__lt", term),
            "time",
            ["__lt"],
            num_partitions=num_partitions,
        ).withColumn(
            "__g",
            F.lit(1.0)
            - F.exp(
                F.col("__lt_cum") - F.coalesce(F.col("__lt"), F.lit(0.0))
            ),
        )
        g = F.col("__g")
    else:
        g = F.log(F.col("time")) if transform == "log" else F.col("time")
    d = F.col("n_events").cast("double")
    aggs = [
        F.sum(d).alias("d"),
        F.sum(d * g).alias("sdg"),
        F.sum(d * g * g).alias("sdg2"),
        # log of t ≤ 0 is NULL in Spark: such event rows would silently
        # vanish from the g-weighted sums while still counting in d —
        # an inconsistent statistic. Count them and refuse instead.
        F.sum(F.when(F.col("time") <= 0, d).otherwise(0.0)).alias("bad_t"),
    ]
    for name in model.xnames:
        r = F.col(f"resid_{name}")
        aggs.append(F.sum(r).alias(f"sr_{name}"))
        aggs.append(F.sum(g * r).alias(f"sgr_{name}"))
    row = res.agg(*aggs).collect()[0]
    if transform == "log" and float(row["bad_t"]) > 0:
        raise ValueError(
            f"transform='log' requires event times > 0; "
            f"{int(float(row['bad_t']))} events at t <= 0 (a time_bucket "
            "fit can floor early times to exactly 0 — shift the axis or "
            "use transform='identity')"
        )
    d_tot = float(row["d"])
    gbar = float(row["sdg"]) / d_tot
    ssg = float(row["sdg2"]) - d_tot * gbar * gbar  # Σ d·(g − ḡ)²
    if not ssg > 0.0:
        raise ValueError("degenerate time transform (zero variance in g)")
    u = np.array(
        [
            float(row[f"sgr_{name}"]) - gbar * float(row[f"sr_{name}"])
            for name in model.xnames
        ]
    )
    v = np.asarray(model.cov_params, dtype=np.float64)
    info = np.linalg.inv(v)
    vbar_diag = np.diag(info) / d_tot
    per = {}
    if scaled:
        vu = v @ u
        for i, name in enumerate(model.xnames):
            chi2 = float(d_tot * vu[i] ** 2 / (v[i, i] * ssg))
            per[name] = {
                "chi2": chi2, "p_value": float(chisq_sf(chi2, 1.0))
            }
    else:
        for i, name in enumerate(model.xnames):
            chi2 = float(u[i] ** 2 / (vbar_diag[i] * ssg))
            per[name] = {
                "chi2": chi2, "p_value": float(chisq_sf(chi2, 1.0))
            }
    glob = float(d_tot * u @ v @ u / ssg)
    return {
        "per_covariate": per,
        "global": {
            "chi2": glob,
            "df": float(k),
            "p_value": float(chisq_sf(glob, float(k))),
        },
        "n_events": d_tot if model.weight_col else int(d_tot),
        "transform": transform,
        "scaled": bool(scaled),
    }


def _bucket_pair_stats(pdf_t, pdf_e, pdf_r, pdf_w=None):
    """Within-bucket pair counts for Harrell's C (numpy, one bucket's
    rows): over pairs with t_i < t_j STRICTLY and i an event, count
    (concordant: r_i > r_j) and (risk ties: r_i == r_j). OFFLINE
    bit-plane counting — pure numpy, O(bits(m) · n log n) vectorized
    work, no per-row interpreter loop:

    For event row q, concordant = #{j: t_j > t_q, rank_j < rank_q}
                  = #{rank_j < rank_q} − #{t_j ≤ t_q, rank_j < rank_q}.
    The first term is a rank-histogram prefix. The second is a 2D
    dominance count, decomposed over the bits of rank: rank_j < rank_q
    iff they share the binary prefix above some bit b where rank_j has
    0 and rank_q has 1 — so per bit, group rows by the rank prefix,
    sort (prefix, time-group, insert-before-query) with one lexsort,
    and a segmented cumsum of bit-0 inserts answers every query at
    once. Risk ties use the same sweep keyed on the full rank.

    `pdf_w` (r13): case weights — every insert carries its ω instead of
    1 (segmented cumsums of ω), every query scales by ω_q, so a pair
    counts ω_i·ω_j; integer-ω float64 sums are exact (replication
    identity holds exactly). Unweighted counts are int64."""
    order = np.argsort(pdf_t, kind="mergesort")
    t, e, r = pdf_t[order], pdf_e[order], pdf_r[order]
    weighted = pdf_w is not None
    w = pdf_w[order] if weighted else None
    _, gidx = np.unique(t, return_inverse=True)
    uniq_r, rank = np.unique(r, return_inverse=True)
    m = len(uniq_r)
    n = len(t)
    qmask = e == 1.0
    nq = int(qmask.sum())
    if nq == 0:
        return (0.0, 0.0) if weighted else (0, 0)
    acc_t = np.float64 if weighted else np.int64
    item_w = np.concatenate([w, w[qmask]]) if weighted else None
    # items: every row as an INSERT, plus each event row as a QUERY;
    # at equal (segment, time-group) inserts sort first, so a query
    # counts inserts with gidx_j <= gidx_q (same-time rows included in
    # the ≤ side — they are then excluded from conc by the subtraction,
    # giving the strict-time semantics)
    item_rank = np.concatenate([rank, rank[qmask]])
    item_g = np.concatenate([gidx, gidx[qmask]])
    item_isq = np.concatenate(
        [np.zeros(n, dtype=bool), np.ones(nq, dtype=bool)]
    )
    item_qid = np.concatenate(
        [np.full(n, -1, dtype=np.int64), np.arange(nq, dtype=np.int64)]
    )

    def sweep(seg_key, ins_ind):
        o = np.lexsort((item_isq, item_g, seg_key))
        sseg = seg_key[o]
        sisq = item_isq[o]
        sqid = item_qid[o]
        ins = ins_ind[o]
        c = np.cumsum(ins)
        newseg = np.empty(len(o), dtype=bool)
        newseg[0] = True
        newseg[1:] = sseg[1:] != sseg[:-1]
        seg_id = np.cumsum(newseg) - 1
        base = (c - ins)[np.flatnonzero(newseg)]
        within = c - base[seg_id]
        return sisq, sqid, within, o

    le_smaller = np.zeros(nq, dtype=acc_t)
    nbits = max(1, int(m - 1).bit_length())
    for b in range(nbits):
        seg = item_rank >> (b + 1)
        bitb = (item_rank >> b) & 1
        ins_bit0 = ((~item_isq) & (bitb == 0)).astype(acc_t)
        if weighted:
            ins_bit0 = ins_bit0 * item_w
        sisq, sqid, within, o = sweep(seg, ins_bit0)
        sbit = bitb[o]
        qsel = sisq & (sbit == 1)
        le_smaller[sqid[qsel]] += within[qsel]
    # rank-equality sweep (full rank as the segment; all inserts count)
    ins_all = (~item_isq).astype(acc_t)
    if weighted:
        ins_all = ins_all * item_w
    sisq, sqid, within, _ = sweep(item_rank, ins_all)
    le_eq = np.zeros(nq, dtype=acc_t)
    le_eq[sqid[sisq]] = within[sisq]
    if weighted:
        cnt = np.bincount(rank, weights=w, minlength=m)
        csum = np.concatenate([[0.0], np.cumsum(cnt)])
        wq = w[qmask]
        qrank = rank[qmask]
        conc = float((wq * (csum[qrank] - le_smaller)).sum())
        ties = float((wq * (cnt[qrank] - le_eq)).sum())
        return conc, ties
    cnt = np.bincount(rank, minlength=m)
    csum = np.concatenate([[0], np.cumsum(cnt)])
    qrank = rank[qmask]
    conc = int((csum[qrank] - le_smaller).sum())
    ties = int((cnt[qrank] - le_eq).sum())
    return conc, ties


_CINDEX_ROWS_PER_BUCKET = 50_000
# distinct-risk cardinality under which the cumulative bucketing is
# driver math over the collected per-risk counts (a few MB) instead of
# the distributed prefix plan — a bounded limit-probe gates it exactly
_CINDEX_RISK_DRIVER_MAX = 100_000


def concordance_index(
    df: DataFrame,
    time_col: str,
    event_col: str,
    risk_col: str,
    n_buckets: int | None = None,
    time_bucket: float | None = None,
    weight_col: str | None = None,
) -> dict:
    """Harrell's concordance index — the standard discrimination measure
    for a survival model's risk score (public convention: Harrell 1982;
    the AUC analogue under censoring):

        C = (#concordant + ½·#risk-ties) / #comparable

    over pairs where subject i had an EVENT and t_i < t_j STRICTLY
    (the base Harrell definition; equal observed times are not
    comparable — documented difference from implementations that credit
    event-vs-censored ties at equal times). Concordant = the earlier
    event carries the HIGHER risk.

    Exact and never all-pairs. Decomposition: risk scores collapse to
    distinct values and bucket by cumulative count (a tie group never
    splits, so cross-bucket order is STRICT risk order); then
      - cross-bucket pairs count from a (time, bucket) cell grid
        range-partitioned once by descending time: every event time
        reads every bucket's #rows-with-later-time — the O(E·B) compact
        work this algorithm pays (E = distinct event times;
        `time_bucket` bounds it) — via per-partition dense suffix
        blocks in ONE shuffle-free mapInPandas pass, with per-partition
        per-bucket offsets from a tiny codegen aggregate (r14; the
        same partition-once engine as the Cox fit);
      - within-bucket pairs count EXACTLY inside each bucket's Arrow
        batch (applyInPandas, bit-plane dominance counting over risk
        ranks — O(bits · n_b log n_b) numpy),
        so the driver sees B partial rows;
      - #comparable = Σ_events #(t_j > t_i) from the same probe grid.
    `n_buckets` trades the per-task batch size (≈ n/B rows) against the
    probe-grid width — any value gives the same exact answer. The
    default (None) SIZES ITSELF from the validation pass's row count
    (the same data-driven-knob convention as `huber_lm`'s
    `median_mode="auto"` and the union-find probe): B = ceil(n /
    50k rows-per-bucket), clamped to [16, 4096] — small inputs get a
    narrow probe grid, 1e9-row inputs still cap each within-bucket
    batch at a few hundred-k rows. Pass an int to override.
    `time_bucket` floors the time axis first (changes the statistic by
    coarsening ties, exactly as in `coxph`).

    `weight_col` (r13): per-row FREQUENCY (case) weights — a pair (i, j)
    counts ω_i·ω_j, so every grid sum and bit-plane accumulator
    carries ω masses and an INTEGER weight is exactly row replication
    for c_index AND all the pair counts (integer-valued float64 sums
    are exact — the identity asserts equality, not approx). Weighted
    n_comparable/n_concordant/n_tied_risk come back as float MASSES
    (ints unweighted); n/n_events stay raw rows (the engine-wide
    convention). Null/NaN/negative weights and Σω ≤ 0 raise via the
    shared guard; an all-zero event-weight mass raises (no comparable
    mass). Bucketing stays COUNT-based (any tie-respecting bucketing is
    exact; ω only changes balance).

    Returns {c_index, n_comparable, n_concordant, n_tied_risk, n, n_events}.
    """
    from pyspark.sql import types as T

    if n_buckets is not None and n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    weighted = weight_col is not None
    base = df.select(
        _time_expr(time_col, time_bucket).alias("__t"),
        F.col(event_col).cast("double").alias("__e"),
        F.col(risk_col).cast("double").alias("__r"),
        *(
            [F.col(weight_col).cast("double").alias("__w")]
            if weighted else []
        ),
    )
    wchk = (
        [
            F.sum("__w").alias("sw"),
            F.min("__w").alias("minw"),
            F.count("__w").alias("n_w"),
            F.sum(F.col("__w") * F.col("__e")).alias("swe"),
        ]
        if weighted else []
    )
    chk = collect_small(base.agg(
        *wchk,
        F.count(F.lit(1)).alias("n"),
        F.sum("__e").alias("ne"),
        F.sum(
            # NaN too: NaN risk forms its own distinct group (NaN == NaN
            # in Spark grouping/joins) and NaN time sorts after all
            # values, so unchecked NaN rows would silently join the pair
            # counts
            F.when(
                F.col("__t").isNull()
                | F.col("__e").isNull()
                | F.col("__r").isNull()
                | F.isnan("__t")
                | F.isnan("__e")
                | F.isnan("__r"),
                1,
            ).otherwise(0)
        ).alias("nulls"),
        F.sum(
            ((F.col("__e") != 0.0) & (F.col("__e") != 1.0)).cast("int")
        ).alias("bad"),
    ))[0]
    if chk["nulls"]:
        raise ValueError(f"{chk['nulls']} rows have null/NaN time/event/risk")
    if chk["bad"]:
        raise ValueError("event_col must be 0/1")
    n, n_events = int(chk["n"]), int(float(chk["ne"]))
    if n_events == 0:
        raise ValueError("no events — no comparable pairs")
    if weighted:
        from sparkglm_spark.operators.lm import check_weight_domain

        check_weight_domain(
            weight_col, n=n, n_w=int(chk["n_w"]),
            min_w=chk["minw"], sum_w=chk["sw"],
        )
        if float(chk["swe"] or 0.0) <= 0.0:
            raise ValueError(
                "all event rows carry zero weight — no comparable mass"
            )
    if n_buckets is None:
        # auto-size from the count the validation agg already paid for
        n_buckets = min(4096, max(16, -(-n // _CINDEX_ROWS_PER_BUCKET)))

    # bucket distinct risks by cumulative count (tie groups never split).
    # Cost-gated driver path (r14, guide §2.4): when the distinct-risk
    # cardinality is provably small (bounded limit-probe, the repo's
    # standard gate), the cumulative bucketing is driver math on the
    # collected counts and `bucket_of` broadcasts — replacing the
    # global-running-sum prefix machinery (range sampling + persist +
    # totals + window) AND guaranteeing the join build side (AQE was
    # measured broadcasting the 150k-row BASE side of the old plan).
    # The ceil(cum·B/n) double arithmetic is evaluated in the same
    # order as the SQL expression, so bucket ids are bit-identical.
    rsc = base.groupBy("__r").agg(F.count(F.lit(1)).cast("double").alias("rc"))
    probe = rsc.limit(_CINDEX_RISK_DRIVER_MAX + 1).collect()
    if len(probe) <= _CINDEX_RISK_DRIVER_MAX:
        import math

        cum = 0.0
        brows = []
        for r in sorted(probe, key=lambda r: r["__r"]):
            cum += float(r["rc"])
            brows.append(
                (
                    float(r["__r"]),
                    min(
                        int(math.ceil(cum * float(n_buckets) / float(n))),
                        n_buckets,
                    ),
                )
            )
        bucket_of = F.broadcast(
            base.sparkSession.createDataFrame(brows, "__r double, __b int")
        )
    else:
        rcum = global_running_sum(rsc, "__r", ["rc"])
        bucket_of = rcum.select(
            "__r",
            F.least(
                F.ceil(
                    F.col("rc_cum") * F.lit(float(n_buckets)) / F.lit(float(n))
                ).cast("int"),
                F.lit(n_buckets),
            ).alias("__b"),
        )
    # work feeds both the cell grid and the within-bucket pass; cells
    # feeds the totals probe and the suffix pass — persist both.
    work = base.join(bucket_of, "__r").persist()
    try:

        # (time, bucket) cell grid, range-partitioned ONCE by DESCENDING
        # time (r14, guide §2.4 — the `_CoxStatsEngine` shape replacing
        # the probe-grid plan, which unioned E×B probe rows through a
        # per-bucket window, a per-time window pair and a join-back: four
        # exchanges over the widened frame). RangePartitioning(__t)
        # satisfies the (__t, __b) clustering, so the cell aggregation
        # runs WITHOUT its own exchange on the ranged rows; partition p
        # holds strictly later times than p+1 and ties never split.
        # Per-bucket suffix counts at each event time then come from
        #   S(t, b) = offset_p[b] + Σ_{cells in p: t' > t, same b} c
        # with offset_p = per-bucket totals of partitions BEFORE p
        # (= later times), computed from one ≤ n_part·B-row codegen
        # aggregate; one shuffle-free mapInPandas pass reads off
        #   comparable  += ev(t,b) · Σ_b' S(t, b')
        #   cross_conc  += ev(t,b) · Σ_{b' < b} S(t, b')
        # per partition. Counts are integer-valued (ω-masses integer for
        # integer ω), so the re-association is exact.
        ww = F.col("__w") if weighted else F.lit(1.0)
        n_part = work.sparkSession.sparkContext.defaultParallelism
        cells = (
            work.repartitionByRange(n_part, F.col("__t").desc())
            .groupBy("__t", "__b")
            .agg(
                (F.sum(ww) if weighted else F.count(F.lit(1)).cast("double"))
                .alias("c"),
                F.sum(ww * F.col("__e")).alias("ev"),
            )
            .withColumn("__pid", F.spark_partition_id())
            .persist()
        )
        # totals: pure-codegen partial agg -> ≤ n_part·B tiny rows; the
        # driver turns them into each partition's exclusive suffix
        # offsets (earlier pids hold later times) AND the per-bucket
        # grand totals the old plan paid a separate btot job for.
        ptot = collect_small(
            cells.groupBy("__pid", "__b").agg(F.sum("c").alias("c"))
        )
        by_pid: dict[int, np.ndarray] = {}
        for r in ptot:
            by_pid.setdefault(int(r["__pid"]), np.zeros(n_buckets))[
                int(r["__b"]) - 1
            ] += float(r["c"])
        offs: dict[int, np.ndarray] = {}
        run0 = np.zeros(n_buckets)
        for pid in sorted(by_pid):
            offs[pid] = run0.copy()
            run0 = run0 + by_pid[pid]

        nb = n_buckets
        # elements-per-chunk budget bounds the dense (times × buckets)
        # suffix block each task holds (~8 MB/array at 1e6 doubles)
        chunk_t = max(1, 1_000_000 // nb)

        def cross_kernel(batches):
            import pandas as pd

            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = (
                pd.concat(pdfs, ignore_index=True)
                if len(pdfs) > 1
                else pdfs[0]
            )
            pid = int(pdf["__pid"].iloc[0])
            rsum = offs.get(pid, np.zeros(nb)).copy()
            t = pdf["__t"].to_numpy(np.float64)
            b = pdf["__b"].to_numpy(np.int64) - 1
            c = pdf["c"].to_numpy(np.float64)
            ev = pdf["ev"].to_numpy(np.float64)
            order = np.argsort(-t, kind="stable")
            t, b, c, ev = t[order], b[order], c[order], ev[order]
            # cells are distinct (t, b): tinv (index into the DESC time
            # axis) is non-decreasing after the sort
            _, tinv = np.unique(-t, return_inverse=True)
            nt = int(tinv[-1]) + 1 if len(tinv) else 0
            cross = comp = 0.0
            for s0 in range(0, nt, chunk_t):
                s1 = min(nt, s0 + chunk_t)
                lo = int(np.searchsorted(tinv, s0))
                hi = int(np.searchsorted(tinv, s1))
                M = np.zeros((s1 - s0, nb))
                M[tinv[lo:hi] - s0, b[lo:hi]] = c[lo:hi]
                # S[i, b] = #rows of bucket b with time STRICTLY later
                # than the i-th distinct time of this chunk
                S = np.cumsum(M, axis=0)
                S -= M
                S += rsum[None, :]
                em = ev[lo:hi] > 0
                if em.any():
                    ti = tinv[lo:hi][em] - s0
                    eb = b[lo:hi][em]
                    evv = ev[lo:hi][em]
                    comp += float((evv * S.sum(axis=1)[ti]).sum())
                    low = np.cumsum(S, axis=1)
                    cross += float(
                        (evv * (low[ti, eb] - S[ti, eb])).sum()
                    )
                rsum += M.sum(axis=0)
            yield pd.DataFrame(
                {"__pid": [pid], "cross": [cross], "comp": [comp]}
            )

        crows = collect_small(cells.mapInPandas(
            cross_kernel, "__pid int, cross double, comp double"
        ))
        cross_conc = comparable = 0.0
        for r in sorted(crows, key=lambda r: r["__pid"]):
            cross_conc += float(r["cross"])
            comparable += float(r["comp"])
        if comparable == 0:
            raise ValueError("no comparable pairs (all times tied?)")

        # within-bucket exact counts, one Arrow batch per bucket
        # (weighted: ω-mass doubles — integer-ω sums stay exact)
        cnt_t = T.DoubleType() if weighted else T.LongType()
        out_schema = T.StructType(
            [
                T.StructField("conc", cnt_t),
                T.StructField("ties", cnt_t),
            ]
        )

        def bucket_counts(pdf):
            import pandas as pd

            c, s = _bucket_pair_stats(
                pdf["__t"].to_numpy(np.float64),
                pdf["__e"].to_numpy(np.float64),
                pdf["__r"].to_numpy(np.float64),
                pdf["__w"].to_numpy(np.float64) if weighted else None,
            )
            return pd.DataFrame({"conc": [c], "ties": [s]})

        wcols = ["__t", "__e", "__r", "__b"] + (["__w"] if weighted else [])
        wrow = collect_small(
            fanout_groups(work.select(*wcols), ["__b"])
            .groupBy("__b")
            .applyInPandas(bucket_counts, out_schema)
            .agg(F.sum("conc").alias("wc"), F.sum("ties").alias("wt"))
        )[0]
    finally:
        cells.unpersist()
        work.unpersist()
    within_conc, tied = float(wrow["wc"]), float(wrow["wt"])
    conc = cross_conc + within_conc
    return {
        "c_index": (conc + 0.5 * tied) / comparable,
        # weighted pair stats are ω MASSES (float); unweighted stay ints
        "n_comparable": comparable if weighted else int(comparable),
        "n_concordant": conc if weighted else int(conc),
        "n_tied_risk": tied if weighted else int(tied),
        "n": n,
        "n_events": n_events,
    }


def _cox_newton_dense(t, e, X, exact_iterations, tol, max_iter, entry=None):
    """Dense per-segment Cox fit (numpy, one worker's Arrow batch): the
    numpy twin of `_counting_arms` — exit arms (sgn +1, ev = event), plus
    entry arms (sgn −1, ev 0) when `entry` is set (counting-process rows)
    — through the one Breslow kernel `_breslow_sums` with unit weights
    and a zero offset, and the one Newton loop `_cox_newton_loop`.
    Returns its `_CoxFit`, or None when degenerate (no events, singular
    information, non-finite trajectory)."""
    k = X.shape[1]
    sgn = 1.0
    if entry is not None:
        sgn = np.repeat([1.0, -1.0], len(t))
        t, e = np.concatenate([t, entry]), np.concatenate([e, np.zeros(len(e))])
        X = np.vstack([X, X])
    return _cox_newton_loop(
        lambda b: _cox_unpack(_breslow_sums(t, e, sgn, 1.0, X, b, 0.0), b, k),
        k, exact_iterations, tol, max_iter,
    )


class _CoxFit(NamedTuple):
    beta: np.ndarray
    cov: np.ndarray
    loglik: float
    null_loglik: float
    n_iter: int
    converged: bool


def _cox_newton_loop(stats_at, k, exact_iterations, tol, max_iter):
    """The one Cox Newton-from-0 loop (R coxph's start) over a
    `stats_at(beta) -> (ll, grad, info)` closure — `coxph` and
    `_cox_newton_dense` both run it. `exact_iterations=N` takes exactly
    N steps; otherwise stop when |Δll| ≤ tol·(|ll| + tol). ll/cov are
    recomputed at the returned β; `null_loglik` is the ll at β = 0.
    Returns None on a singular information matrix or a non-finite
    step or β."""
    beta = np.zeros(k)
    ll_prev = null_ll = None
    n_iter = 0
    converged = False
    iters = exact_iterations if exact_iterations is not None else max_iter
    try:
        for _ in range(iters):
            ll, grad, info = stats_at(beta)
            if null_ll is None:
                null_ll = ll
            step = np.linalg.solve(info, grad)
            if not np.all(np.isfinite(step)):
                return None
            beta = beta + step
            n_iter += 1
            if (
                exact_iterations is None
                and ll_prev is not None
                and abs(ll - ll_prev) <= tol * (abs(ll) + tol)
            ):
                converged = True
                break
            ll_prev = ll
        ll, _, info = stats_at(beta)  # final-state ll/se at the returned beta
        cov = np.linalg.inv(info)
    except np.linalg.LinAlgError:
        return None
    if not np.all(np.isfinite(beta)):
        return None
    return _CoxFit(
        beta, cov, ll, ll if null_ll is None else null_ll, n_iter,
        converged or exact_iterations is not None,
    )


def coxph_grouped(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    group_cols: list[str],
    max_iter: int = 20,
    tol: float = 1e-9,
    exact_iterations: int | None = None,
    time_bucket: float | None = None,
    entry_col: str | None = None,
) -> DataFrame:
    """One Cox model per segment — `coxph` scaled out to many groups with
    no per-group driver work (the per-cohort / per-tenant hazard-model
    shape; pattern set by `glm_grouped`, operators/glm.py:585).

    Each group's rows materialize in its worker's Arrow batch
    (`applyInPandas`) and fit by the same Breslow kernel
    (`_breslow_sums`) and Newton loop (`_cox_newton_loop`) the
    distributed `coxph` runs — for one huge segment use `coxph` itself,
    whose per-iteration aggregation never materializes rows. Only the
    summation order differs from `coxph` (one frame here, partitions
    plus offsets there), asserted in tests against `coxph` on per-group
    slices.

    Degenerate groups (no events, a covariate constant within the
    group, singular information, diverging Newton) yield NULL
    estimate/se rather than garbage. `time_bucket`
    floors the time axis inside the plan, as in `coxph`.

    `entry_col` (r14): per-group COUNTING-PROCESS fits — same
    (start, stop] semantics as `coxph(entry_col=)` via the signed entry
    arms `_cox_newton_dense` adds. The distributed fitter
    REFUSES invalid intervals; here, per the grouped-fitter dirty-group
    policy, a group with any null/non-finite entry or entry ≥ time
    degenerates to the NULL row instead of poisoning the job.

    Returns long format: group_cols…, term, estimate, se, loglik,
    n_rows, n_events, iterations, converged.
    """
    if not x_cols:
        raise ValueError("x_cols must be non-empty")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    k = len(x_cols)
    if entry_col is not None and entry_col == time_col:
        raise ValueError("entry_col must differ from time_col")
    sel = (
        [F.col(c) for c in group_cols]
        + [
            _time_expr(time_col, time_bucket).alias("__t"),
            F.col(event_col).cast("double").alias("__e"),
        ]
        + (
            [_time_expr(entry_col, time_bucket).alias("__en")]
            if entry_col
            else []
        )
        + [F.col(c).cast("double").alias(c) for c in x_cols]
    )
    names = list(x_cols)
    n_exact = exact_iterations
    has_entry = entry_col is not None

    def fit_group(pdf):
        t = pdf["__t"].to_numpy(dtype=np.float64)
        e = pdf["__e"].to_numpy(dtype=np.float64)
        X = pdf[names].to_numpy(dtype=np.float64)
        en = pdf["__en"].to_numpy(dtype=np.float64) if has_entry else None
        n = len(t)
        res = None
        # NULL/NaN events arrive as NaN through Arrow; (e == 0)|(e == 1)
        # is False for NaN, so such groups fall through to the degenerate
        # NULL row — but n_events below must also be NaN-safe or
        # int(e.sum()) raises inside the executor and aborts the job
        e_valid = e[np.isfinite(e)]
        if (
            n >= k
            and len(e_valid) == n
            and np.all(np.isfinite(t))
            and np.all(np.isfinite(X))
            # a constant covariate: information at rounding noise, not
            # exactly singular — NULL instead of a garbage estimate
            and np.all(np.ptp(X, axis=0) > 0.0)
            and np.all((e == 0.0) | (e == 1.0))
            and (
                not has_entry
                or (np.all(np.isfinite(en)) and np.all(en < t))
            )
        ):
            res = _cox_newton_dense(t, e, X, n_exact, tol, max_iter,
                                    entry=en)
        beta, cov, ll, _, it, conv = res if res is not None else (
            None, None, None, None, 0, False
        )
        se = np.sqrt(np.diag(cov)) if cov is not None else None
        # count e == 1 rows, not the raw sum: a dirty group with
        # e = 2.0 degenerates to NULLs but must not report 2 events
        n_events = int((e_valid == 1.0).sum())
        return [
            (
                name,
                float(beta[i]) if beta is not None else None,
                float(se[i]) if se is not None else None,
                ll, n, n_events, it, bool(conv),
            )
            for i, name in enumerate(names)
        ]

    return apply_grouped(
        df.select(*sel), df.schema, group_cols,
        ["__t", "__e", "__en" if entry_col else None, *x_cols],
        "term string, estimate double, se double, loglik double, "
        "n_rows bigint, n_events bigint, iterations int, "
        "converged boolean",
        fit_group,
    )


def _km_curve(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str | None,
    time_bucket: float | None,
    weight_col: str | None = None,
) -> DataFrame:
    """The KM machinery shared by `kaplan_meier` and
    `restricted_mean_survival`: one per-(group,) distinct-time frame with
    n_at_risk (suffix count), the per-time survival log term `__lt`
    (NULL when everyone at risk dies — ln(0) clamp), its inclusive
    running sum `__ls` (nulls contribute 0, so at a death-to-zero row
    `__ls` is the PREVIOUS product's log), and the `__dead` flag.
    With `weight_col` the at-risk and event counts become ω-MASSES
    (the weighted product-limit estimator — survey-weighted KM;
    null/negative/NaN weights and Σω ≤ 0 raise via the shared guard —
    a null would silently drop its subject from the masses); the
    unweighted path is untouched."""
    from pyspark.sql import Window

    ev = F.col(event_col).cast("double")
    keys = ([group_col] if group_col else []) + ["__t"]
    if weight_col:
        from sparkglm_spark.operators.lm import check_weight_domain

        wtc = F.col(weight_col).cast("double")
        wchk = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(wtc).alias("n_w"),
            F.min(wtc).alias("minw"),
            F.sum(wtc).alias("sw"),
        ).collect()[0]
        check_weight_domain(
            weight_col, n=int(wchk["n"]), n_w=int(wchk["n_w"]),
            min_w=wchk["minw"], sum_w=wchk["sw"],
        )
        sel_extra = [wtc.alias("__wq"), (wtc * ev).alias("__e")]
        nt_agg = F.sum("__wq").alias("n_t")
    else:
        sel_extra = [ev.alias("__e")]
        nt_agg = F.count(F.lit(1)).cast("double").alias("n_t")
    per_t = (
        df.select(
            *( [F.col(group_col)] if group_col else [] ),
            _time_expr(time_col, time_bucket).alias("__t"),
            *sel_extra,
        )
        .groupBy(*keys)
        .agg(
            nt_agg,
            F.sum("__e").alias("d"),
        )
    )
    if group_col:
        wdesc = Window.partitionBy(group_col).orderBy(F.col("__t").desc()).rangeBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        at_risk = per_t.withColumn("n_at_risk", F.sum("n_t").over(wdesc))
        wasc = Window.partitionBy(group_col).orderBy("__t").rangeBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        log_term = F.when(
            F.col("d") >= F.col("n_at_risk"), F.lit(None)
        ).otherwise(F.log(F.lit(1.0) - F.col("d") / F.col("n_at_risk")))
        return (
            at_risk.withColumn("__lt", log_term)
            .withColumn("__ls", F.sum(log_term).over(wasc))
            .withColumn(
                "__dead",
                F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(wasc),
            )
        )
    neg = per_t.withColumn("__nt", -F.col("__t"))
    at_risk = global_running_sum(neg, "__nt", ["n_t"]).withColumnRenamed(
        "n_t_cum", "n_at_risk"
    )
    log_term = F.when(
        F.col("d") >= F.col("n_at_risk"), F.lit(None)
    ).otherwise(F.log(F.lit(1.0) - F.col("d") / F.col("n_at_risk")))
    marked = at_risk.withColumn("__lt", log_term).withColumn(
        "__z", (F.col("d") >= F.col("n_at_risk")).cast("double")
    )
    return global_running_sum(
        marked.withColumn("__lt0", F.coalesce(F.col("__lt"), F.lit(0.0))),
        "__t",
        ["__lt0", "__z"],
    ).withColumnRenamed("__lt0_cum", "__ls").withColumn(
        "__dead", (F.col("__z_cum") > 0).cast("int")
    )


@dataclass
class WeibullAFT:
    """Fitted Weibull accelerated-failure-time model (`weibull_aft`):
    log T = x'β + σ·W with W standard extreme-value. `se` covers
    (β…, log σ) from the inverse observed information.

    A STRATIFIED fit (`strata_col`, r14 — R `survreg(… + strata(g))`)
    carries one scale per stratum in `scales` ({stratum: σ}, insertion
    order = the fit's stratum order); `scale` is then NaN, `se` covers
    (β…, log σ per stratum), and scoring reads each row's σ from its
    stratum column (an unseen stratum scores NULL — its scale is
    genuinely unknown)."""

    xnames: list[str]
    time_col: str
    event_col: str
    coefs: np.ndarray          # β, including 'intercept' when fitted
    scale: float               # σ (NaN for stratified fits — see scales)
    se: np.ndarray             # for (β…, log σ[ per stratum])
    loglik: float
    n: int
    n_events: int
    iter: int
    converged: bool
    cov_params: np.ndarray = field(default=None, repr=False)
    weight_col: str | None = None
    strata_col: str | None = None
    scales: dict | None = None
    # r14: the error distribution of W (R survreg dist=) — 'weibull'
    # (extreme value), 'loglogistic' (logistic W), 'lognormal'
    # (normal W); scoring dispatches on it
    dist: str = "weibull"

    def _eta(self) -> Column:
        eta = F.lit(0.0)
        for name, b in zip(self.xnames, self.coefs):
            x = F.lit(1.0) if name == "intercept" else F.col(name).cast("double")
            eta = eta + F.lit(float(b)) * x
        return eta

    def _sigma_expr(self) -> Column:
        """Per-row σ: a literal unstratified; a when-chain over the
        stratum column for a stratified fit (unseen stratum → NULL)."""
        if self.strata_col is None:
            return F.lit(float(self.scale))
        expr = F.lit(None).cast("double")
        for s, sig in self.scales.items():
            expr = F.when(F.col(self.strata_col) == F.lit(s),
                          F.lit(float(sig))).otherwise(expr)
        return expr

    def predict(
        self, df: DataFrame, output_col: str = "median_survival_time"
    ) -> DataFrame:
        """Append the predicted MEDIAN survival time — one codegen
        projection, rows untouched. Weibull: exp(x'β)·(ln 2)^σ (the
        median of the extreme-value error is ln ln 2); loglogistic and
        lognormal: exp(x'β) exactly (their W medians are 0)."""
        if self.dist in ("loglogistic", "lognormal"):
            med = F.exp(self._eta())
        elif self.strata_col is None:
            med = F.exp(self._eta()) * F.lit(float(np.log(2.0) ** self.scale))
        else:
            med = F.exp(self._eta()) * F.pow(
                F.lit(float(np.log(2.0))), self._sigma_expr()
            )
        return df.withColumn(output_col, med)

    def predict_survival(
        self, df: DataFrame, times: list[float], prefix: str = "surv_"
    ) -> DataFrame:
        """S(t|x) at each horizon — the parametric payoff over Cox:
        the survival function is closed-form. Weibull exp(−e^z),
        loglogistic 1/(1+e^z) — both pure codegen; lognormal Φ(−z)
        through one Arrow pandas-UDF column per horizon (the probit
        precedent — no JVM normal CDF)."""
        if not times:
            raise ValueError("times must be non-empty")
        if any(t <= 0 for t in times):
            raise ValueError("horizons must be > 0")
        out = df
        eta = self._eta()
        sig = self._sigma_expr()
        if self.dist == "lognormal":
            from pyspark.sql.functions import pandas_udf
            from pyspark.sql.types import DoubleType

            from sparkglm_spark.functions import special

            @pandas_udf(DoubleType())
            def _sf(zv):
                import pandas as pd

                return pd.Series(special.norm_sf(zv.to_numpy()))

        for t in times:
            name = f"{prefix}{t:g}".replace(".", "_").replace("-", "m")
            z = (F.lit(float(np.log(t))) - eta) / sig
            if self.dist == "loglogistic":
                sv = F.lit(1.0) / (F.lit(1.0) + F.exp(z))
            elif self.dist == "lognormal":
                sv = _sf(z)
            else:
                sv = F.exp(-F.exp(z))
            out = out.withColumn(name, sv)
        return out

    def summary_rows(self) -> list[tuple]:
        """(term, coef, se, z, p) per coefficient plus ('log_scale', …)
        — one `log_scale[<stratum>]` row per stratum when stratified."""
        from sparkglm_spark.functions.special import norm_pvalue_two_sided

        out = []
        if self.strata_col is None:
            names = list(self.xnames) + ["log_scale"]
            vals = list(self.coefs) + [float(np.log(self.scale))]
        else:
            names = list(self.xnames) + [
                f"log_scale[{s}]" for s in self.scales
            ]
            vals = list(self.coefs) + [
                float(np.log(sig)) for sig in self.scales.values()
            ]
        for name, b, s in zip(names, vals, self.se):
            z = b / s if s > 0 else float("nan")
            out.append((name, float(b), float(s), float(z),
                        float(norm_pvalue_two_sided(z))))
        return out


class _AFTTerms(NamedTuple):
    """Per-row AFT log-likelihood terms in the (P, Q) chain-rule frame,
    Spark Columns or numpy arrays alike. z_L = (ln t − x'β)/σ and
    z_R = (ln t2 − x'β)/σ; P = ∂ℓ/∂z_L, Q = ∂ℓ/∂z_R, PLL/QRR their second
    derivatives, M = ∂²ℓ/∂z_L∂z_R, C = ∂ℓ/∂ln σ at fixed z (−δ: the
    event density's −ln σ). Single-z kernels (codes 0/1) leave the z_R
    side None."""

    ll: object
    zl: object
    P: object
    PLL: object
    C: object
    zr: object = None
    Q: object = None
    QRR: object = None
    M: object = None


def _norm_mills(v):
    """(h, ln Φ̄) of the standard normal at `v` (numpy): the Mills ratio
    h = φ/Φ̄ and the log survival. Φ̄ underflows past v ≈ 38, where the
    asymptotes h → v + 1/v − 2/v³ and ln Φ̄ → −v²/2 − ln(v√(2π)) − 1/v²
    take over. Both carry the 1/v³ order: then dh/dv and h(v − h), the
    two readings of the kernel's ∂P/∂z, agree to O(1/v⁴), and
    d ln Φ̄/dv = −h exactly."""
    from sparkglm_spark.functions import special as _sp

    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        sf = _sp.norm_sf(v)
        ok = sf > 0.0
        safe = np.where(ok, sf, 1.0)
        iv = 1.0 / np.where(v != 0, v, 1.0)
        h = np.where(ok, _sp.norm_pdf(v) / safe, v + iv - 2.0 * iv**3)
        lsf = np.where(
            ok,
            np.log(safe),
            -0.5 * v * v - np.log(np.abs(v) * np.sqrt(2.0 * np.pi)) - iv * iv,
        )
    return h, lsf


def _mills_udf():
    """`_norm_mills` as ONE Arrow pandas-UDF column (struct h, lsf) — the
    lognormal censored tail's only Python; deterministic, so Spark
    dedupes the repeated call inside one aggregation."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("h double, lsf double")
    def _mills(zv):
        import pandas as pd

        h, lsf = _norm_mills(zv.to_numpy(dtype=np.float64))
        return pd.DataFrame({"h": h, "lsf": lsf})

    return _mills


def _aft_col_terms(dist, d, zl, ls, zr=None, mills=None) -> _AFTTerms:
    """The AFT kernel as Spark Columns: `d` the Surv code, `ls` ln σ (a
    float, or a per-row Column when stratified). `zr` given selects the
    weibull codes-0-3 (P, Q) kernel; `mills` is `_mills_udf()` for
    lognormal."""
    if dist == "loglogistic":
        sg = F.lit(1.0) / (F.lit(1.0) + F.exp(-zl))  # e^z/(1+e^z)
        # softplus ln(1+e^z): the z > 30 branch avoids exp overflow
        sp = F.when(zl > 30.0, zl).otherwise(F.log1p(F.exp(zl)))
        ev = d == 1.0
        return _AFTTerms(
            ll=F.when(ev, zl - ls - 2.0 * sp).otherwise(-sp),
            zl=zl,
            P=F.when(ev, F.lit(1.0) - 2.0 * sg).otherwise(-sg),
            PLL=F.when(ev, -2.0 * sg * (F.lit(1.0) - sg)).otherwise(
                -sg * (F.lit(1.0) - sg)
            ),
            C=F.when(ev, F.lit(-1.0)).otherwise(F.lit(0.0)),
        )
    if dist == "lognormal":
        hl = mills(zl)
        h = hl.getField("h")
        ev = d == 1.0
        return _AFTTerms(
            ll=F.when(
                ev, -0.5 * zl * zl - F.lit(0.5 * np.log(2.0 * np.pi)) - ls
            ).otherwise(hl.getField("lsf")),
            zl=zl,
            P=F.when(ev, -zl).otherwise(-h),
            PLL=F.when(ev, F.lit(-1.0)).otherwise(h * (zl - h)),
            C=F.when(ev, F.lit(-1.0)).otherwise(F.lit(0.0)),
        )
    if zr is None:
        u = F.exp(zl)
        return _AFTTerms(ll=d * (zl - ls) - u, zl=zl, P=d - u, PLL=-u, C=-d)
    # codes 0-3: left rows live on the Q side (z_R = z(t)), interval
    # rows on both with the cross term M = −P·Q
    ul, ur = F.exp(zl), F.exp(zr)
    sl, sr = F.exp(-ul), F.exp(-ur)
    f2 = -F.expm1(-ur)          # 1 − e^{−u}: the left-tail mass
    d3 = sl - sr                # the interval mass
    P = (
        F.when(d == 1.0, F.lit(1.0) - ul)
        .when(d == 0.0, -ul)
        .when(d == 2.0, F.lit(0.0))
        .otherwise(-ul * sl / d3)
    )
    Q = (
        F.when(d == 2.0, ur * sr / f2)
        .when(d == 3.0, ur * sr / d3)
        .otherwise(F.lit(0.0))
    )
    # Spark's log(<=0) is NULL, which a SUM silently SKIPS — an
    # underflowed tail mass must read −inf so the line-search rejects
    # the state, not vanish from the likelihood
    neg_inf = F.lit(float("-inf"))
    return _AFTTerms(
        ll=(
            F.when(d == 1.0, zl - ls - ul)
            .when(d == 0.0, -ul)
            .when(d == 2.0, F.when(f2 > 0.0, F.log(f2)).otherwise(neg_inf))
            .otherwise(F.when(d3 > 0.0, F.log(d3)).otherwise(neg_inf))
        ),
        zl=zl,
        P=P,
        PLL=(
            F.when(d == 2.0, F.lit(0.0))
            .when(d == 3.0, P * (F.lit(1.0) - ul) - P * P)
            .otherwise(-ul)
        ),
        C=F.when(d == 1.0, F.lit(-1.0)).otherwise(F.lit(0.0)),
        zr=zr,
        Q=Q,
        QRR=F.when(
            (d == 2.0) | (d == 3.0), Q * (F.lit(1.0) - ur) - Q * Q
        ).otherwise(F.lit(0.0)),
        M=F.when(d == 3.0, -P * Q).otherwise(F.lit(0.0)),
    )


def _aft_np_terms(dist, e, zl, ls, zr=None) -> _AFTTerms:
    """`_aft_col_terms` over numpy arrays (`e` the Surv codes, `ls` a
    float) — the same four kernels, with explicit guards where Spark
    relies on NULL/−inf semantics."""
    ev = e == 1.0
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        if dist == "loglogistic":
            sg = 1.0 / (1.0 + np.exp(-zl))
            sp = np.where(
                zl > 30.0, zl, np.log1p(np.exp(np.minimum(zl, 30.0)))
            )
            return _AFTTerms(
                ll=np.where(ev, zl - ls - 2.0 * sp, -sp),
                zl=zl,
                P=np.where(ev, 1.0 - 2.0 * sg, -sg),
                PLL=np.where(ev, -2.0 * sg * (1.0 - sg), -sg * (1.0 - sg)),
                C=np.where(ev, -1.0, 0.0),
            )
        if dist == "lognormal":
            h, lsf = _norm_mills(zl)
            return _AFTTerms(
                ll=np.where(
                    ev, -0.5 * zl * zl - 0.5 * np.log(2.0 * np.pi) - ls, lsf
                ),
                zl=zl,
                P=np.where(ev, -zl, -h),
                PLL=np.where(ev, -1.0, h * (zl - h)),
                C=np.where(ev, -1.0, 0.0),
            )
        if zr is None:
            u = np.exp(zl)
            return _AFTTerms(ll=e * (zl - ls) - u, zl=zl, P=e - u, PLL=-u,
                             C=-e)
        ul, ur = np.exp(zl), np.exp(zr)
        sl, sr = np.exp(-ul), np.exp(-ur)
        f2 = -np.expm1(-ur)
        d3 = sl - sr
        f2s = np.where(f2 > 0, f2, 1.0)
        d3s = np.where(d3 > 0, d3, 1.0)
        P = np.select(
            [ev, e == 0.0, e == 2.0],
            [1.0 - ul, -ul, 0.0],
            default=np.where(d3 > 0, -ul * sl / d3s, np.nan),
        )
        Q = np.select(
            [e == 2.0, e == 3.0],
            [np.where(f2 > 0, ur * sr / f2s, np.nan),
             np.where(d3 > 0, ur * sr / d3s, np.nan)],
            default=0.0,
        )
        tails = (e == 2.0) | (e == 3.0)
        return _AFTTerms(
            ll=np.select(
                [ev, e == 0.0, e == 2.0],
                [zl - ls - ul, -ul,
                 np.where(f2 > 0, np.log(f2s), -np.inf)],
                default=np.where(d3 > 0, np.log(d3s), -np.inf),
            ),
            zl=zl,
            P=P,
            PLL=np.select(
                [e == 2.0, e == 3.0], [0.0, P * (1.0 - ul) - P * P],
                default=-ul,
            ),
            C=np.where(ev, -1.0, 0.0),
            zr=zr,
            Q=Q,
            QRR=np.where(tails, Q * (1.0 - ur) - Q * Q, 0.0),
            M=np.where(e == 3.0, -P * Q, 0.0),
        )


def _aft_sums(t: _AFTTerms, xs, w, inv, inv2) -> list:
    """The ω-weighted Newton summands on (β, ln σ): [ℓ, g_β…, g_lnσ,
    then the upper triangle of H row by row] — `_aft_unpack`'s order.
    With ∂z/∂β_i = −x_i/σ for both z's and ∂z/∂ln σ = −z, this is the
    exact chain rule; `inv`/`inv2` are 1/σ and 1/σ² (floats, or per-row
    Columns when stratified). Without a z_R side the Q, QRR and M terms
    drop out."""
    if t.Q is None:
        A, B = t.P, t.PLL
        g_s = t.C - t.zl * t.P
        h_bs = A + t.zl * t.PLL
        h_ss = t.zl * t.P + t.zl * t.zl * t.PLL
    else:
        A = t.P + t.Q
        B = t.PLL + 2.0 * t.M + t.QRR
        g_s = t.C - t.zl * t.P - t.zr * t.Q
        h_bs = A + t.zl * (t.PLL + t.M) + t.zr * (t.M + t.QRR)
        h_ss = (
            t.zl * t.P
            + t.zr * t.Q
            + t.zl * t.zl * t.PLL
            + 2.0 * t.zl * t.zr * t.M
            + t.zr * t.zr * t.QRR
        )
    k = len(xs)
    out = [w * t.ll]
    out += [w * (x * A * (-inv)) for x in xs]
    out.append(w * g_s)
    for i in range(k):
        out += [w * (xs[i] * xs[j] * B * inv2) for j in range(i, k)]
        out.append(w * (xs[i] * h_bs * inv))
    out.append(w * h_ss)
    return out


def _aft_unpack(vals, k):
    """Totals of `_aft_sums` → (ll, grad, hess) over the k+1 state."""
    vals = [float(v) for v in vals]
    grad = np.array(vals[1:k + 2])
    hess = np.zeros((k + 1, k + 1))
    it = iter(vals[k + 2:])
    for i in range(k + 1):
        for j in range(i, k + 1):
            hess[i, j] = hess[j, i] = next(it)
    return vals[0], grad, hess


def _levenberg_lams(hess) -> list:
    """Damping ladder for the AFT Newton: λ values up to 100·max|diag H|
    (past the largest eigenvalue H − λI is negative definite, so the
    damped step ascends after halving). A non-finite diagonal (an
    overflowed exp(z) on wild start data) clamps the cap to 1e12 —
    `100·inf` would otherwise make the `while lam <= cap` ladder loop
    forever (inf <= inf), hanging the driver or an executor task."""
    diag_mag = float(np.max(np.abs(np.diag(hess))))
    if not np.isfinite(diag_mag):
        diag_mag = 1e12
    lam_cap = 100.0 * max(1.0, diag_mag)
    lams = [0.0]
    lam = 1e-3
    while lam <= lam_cap:
        lams.append(lam)
        lam *= 100.0
    return lams


def _aft_newton(stats_at, ll_at, state, exact_iterations, tol, max_iter):
    """Newton ascent on the AFT state (β, ln σ…) shared by `weibull_aft`
    and `_aft_newton_dense`: `stats_at(state)` → (ll, grad, hess),
    `ll_at(state)` → ll (the cheap line-search probe).

    `exact_iterations=N` runs exactly N undamped steps. Otherwise each
    step tries the Newton direction, then Levenberg damping H − λI up
    the Hessian-scaled ladder (far from the optimum H need not be
    negative definite), with step-halving until the log-likelihood
    rises; it stops when ll changes by ≤ tol relative. A stall with no
    ascent direction claims convergence only when ‖grad‖ ≈ 0 (a saddle
    must not pass for a maximum). Returns (state, ll, cov, se, n_iter,
    converged); an indefinite −H at an unconverged stop reports NaN se
    instead of the sqrt of a negative variance."""
    dim = len(state)
    n_iter = 0
    converged = False
    ll = -np.inf
    iters = exact_iterations if exact_iterations is not None else max_iter
    for _ in range(iters):
        ll0, grad, hess = stats_at(state)
        if exact_iterations is None:
            improved = False
            for lam in _levenberg_lams(hess):
                try:
                    step = np.linalg.solve(hess - lam * np.eye(dim), grad)
                except np.linalg.LinAlgError:
                    continue
                scale_f = 1.0
                for _ in range(10):
                    ns = state - scale_f * step
                    ll1 = ll_at(ns)
                    if np.isfinite(ll1) and ll1 > ll0:
                        improved = True
                        break
                    scale_f *= 0.5
                if improved:
                    break
            if not improved:
                converged = bool(
                    np.linalg.norm(grad) <= 1e-6 * (1.0 + abs(ll0))
                )
                break
            state = ns
        else:
            state = state - np.linalg.solve(hess, grad)
        n_iter += 1
        if (
            exact_iterations is None
            and np.isfinite(ll)
            and abs(ll0 - ll) <= tol * (abs(ll0) + tol)
        ):
            converged = True
            break
        ll = ll0
    ll, _, hess = stats_at(state)
    cov = np.linalg.inv(-hess)
    diag = np.diag(cov)
    se = np.where(diag >= 0, np.sqrt(np.abs(diag)), np.nan)
    return state, ll, cov, se, n_iter, converged or exact_iterations is not None


def weibull_aft(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    fit_intercept: bool = True,
    max_iter: int = 50,
    tol: float = 1e-9,
    exact_iterations: int | None = None,
    weight_col: str | None = None,
    strata_col: str | None = None,
    time2_col: str | None = None,
    dist: str = "weibull",
) -> WeibullAFT:
    """Weibull accelerated-failure-time regression — the PARAMETRIC
    survival model (R `survreg(dist="weibull")`; Spark MLlib's own
    `AFTSurvivalRegression`, which this fit cross-checks against in
    tests): log T = x'β + σ·W, W ~ standard extreme value, so a
    covariate ACCELERATES/decelerates time by e^β (vs Cox's hazard
    ratio). Use it when you need closed-form survival/median-time
    predictions or extrapolation beyond observed times; use `coxph`
    when you refuse the distributional assumption.

    Per-subject log-likelihood with z = (ln t − x'β)/σ, u = e^z,
    δ = event: ℓ = δ(z − ln σ) − u. Newton-Raphson on (β, ln σ) — the
    gradient/Hessian entries are per-row codegen expressions of z and u,
    so each iteration is ONE aggregation job of
    (k+1)(k+2)/2 + (k+1) sums → driver (k+1)×(k+1) solve. Start: OLS of
    ln t on x over EVENT rows (one Gram job), ln σ = 0. Step-halving
    keeps the log-likelihood non-decreasing (the standard Newton guard).

    `exact_iterations=N` runs exactly N undamped steps (deterministic
    trajectory). Times must be > 0; events 0/1 (validated).

    `weight_col` (r13): per-row CASE weights with the R
    `survreg(weights=)` convention — the per-subject log-likelihood
    becomes ω·ℓᵢ, so every gradient/Hessian/loglik sum carries ω and an
    INTEGER weight equals row replication for the converged
    β/se/scale/loglik (the `coxph(weight_col=)` identity; the Newton
    START differs from the replicated frame's only in the residual-scale
    denominator — raw n vs Σω, the `LM.fit(weight_col=)` convention —
    which the contractive iteration forgets). `n`/`n_events` report RAW
    row counts (the engine-wide weighted convention). Null/NaN/negative
    weights and Σω ≤ 0 raise via the shared `check_weight_domain` guard,
    riding the same validation job; an all-zero event-weight mass raises
    (σ unidentified, like the unweighted no-events case). Unweighted
    sums multiply by lit(1.0), which is exact.

    `strata_col=g` (r14): per-stratum SCALE σ_g with one shared β — the
    R `survreg(… + strata(g))` semantics (each stratum gets its own
    Weibull shape; the covariate effects stay pooled). The Newton state
    grows to (β, ln σ_1 … ln σ_S) and each iteration stays ONE
    aggregation job: the same per-row expressions (σ read through a
    per-stratum literal chain) aggregated `groupBy(stratum)` — the
    β-block sums assemble on the driver by adding the S compact rows,
    the σ-blocks are per-stratum entries (cross-stratum σ Hessian is
    exactly 0). Strata are the model's parameter axis, so their count
    must be driver-bounded (one collected row and two Newton-state
    entries per stratum). Every stratum needs events (and, weighted,
    positive event mass) — σ_g is unidentified otherwise; nulls raise.
    Composes with `weight_col`/`exact_iterations`.

    CENSORING BEYOND RIGHT (r14 — the full R `survreg`/`Surv` status
    vocabulary): `event_col` accepts the R interval codes
    0 = right-censored, 1 = exact event, 2 = LEFT-censored (T ≤ t:
    ℓ = ln F(t)), 3 = INTERVAL-censored on (t, t2] (ℓ = ln(S(t) −
    S(t2)); requires `time2_col`, with t2 > t on code-3 rows — other
    rows ignore it, the `Surv(type="interval")` convention). The
    per-row contribution generalizes through ONE (P, Q) chain-rule
    frame — P = ∂ℓ/∂z_L, Q = ∂ℓ/∂z_R with z_L = (ln t − x'β)/σ,
    z_R = (ln t2 − x'β)/σ (left rows live entirely on the Q side,
    interval rows on both) — so each Newton iteration stays one
    aggregation job of CASE-kernel sums. A pure right/event input uses
    the single-z kernel (P = δ − u, no z_R side). The start regresses ln t
    (ln √(t·t2) for interval rows) over the location-informative
    (code ≠ 0) rows; identification needs more such rows than
    coefficients. The left tail ln(1 − e^{−u}) evaluates via expm1
    (small-u stability); n_events reports EXACT events only. Composes
    with `weight_col`; `strata_col` with codes 2/3 is not yet
    supported (raises).

    `dist` (r14 — the R `survreg(dist=)` error-distribution switch):
    'weibull' (default — everything above), 'loglogistic' (W standard
    logistic: proportional ODDS in time, the AFT that allows
    non-monotone hazards) and 'lognormal' (W standard normal). Each
    distribution only changes the per-row kernel (ℓ, P = dℓ/dz,
    PLL = d²ℓ/dz²) of the same frame — the sums, their unpacking and
    the Newton loop are shared (`_aft_sums`, `_aft_unpack`,
    `_aft_newton`): loglogistic is pure codegen (sigmoid/softplus),
    lognormal routes the censored tail's Mills ratio h = φ/Φ̄ through
    one Arrow pandas-UDF column per aggregation (the probit-link
    precedent) with the asymptotic h → z + 1/z guard past Φ̄
    underflow. σ starts from the residual scale over sd(W)
    (π/√3 logistic, 1 normal); no intercept shift (their W means are
    0). Non-weibull dists support right censoring only for now (codes
    2/3 or strata raise)."""
    dist = dist.lower()
    if dist not in _AFT_SD_W:
        raise ValueError(
            f"dist must be one of {sorted(_AFT_SD_W)}, got {dist!r}"
        )
    if not x_cols and not fit_intercept:
        raise ValueError("need x_cols or fit_intercept")
    if strata_col is not None and strata_col in x_cols:
        raise ValueError(
            f"strata_col {strata_col!r} must not also be a covariate "
            "(a stratum's effect lives in its scale)"
        )
    names = (["intercept"] if fit_intercept else []) + list(x_cols)
    k = len(names)
    wchk_aggs = []
    if weight_col:
        wtc = F.col(weight_col).cast("double")
        wchk_aggs = [
            F.sum(wtc).alias("sw"),
            F.min(wtc).alias("minw"),
            F.count(wtc).alias("n_w"),
            F.sum(
                wtc * (F.col(event_col).cast("double") == 1.0).cast("double")
            ).alias("swe"),
        ]
    ec = F.col(event_col).cast("double")
    if weight_col:
        # in mixed-censoring mode the identification mass lives on every
        # location-informative row (code != 0), not just exact events
        wchk_aggs.append(
            F.sum(F.col(weight_col).cast("double") * (ec != 0.0).cast("double"))
            .alias("swl")
        )
    t2_aggs = []
    if time2_col:
        t2_aggs = [
            F.sum(
                F.when(
                    (ec == 3.0)
                    & (
                        F.col(time2_col).isNull()
                        # NaN compares false to everything in Spark and
                        # +inf passes '> t' — both would silently poison
                        # the start/gradients (review r14 pass 3)
                        | F.isnan(F.col(time2_col).cast("double"))
                        | (
                            F.col(time2_col).cast("double")
                            == F.lit(float("inf"))
                        )
                        | (
                            F.col(time2_col).cast("double")
                            <= F.col(time_col).cast("double")
                        )
                    ),
                    1,
                ).otherwise(0)
            ).alias("bad_t2")
        ]
    chk = collect_small(df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((ec == 1.0).cast("double")).alias("ne"),
        F.sum((ec != 0.0).cast("double")).alias("nloc"),
        F.sum(((ec == 2.0) | (ec == 3.0)).cast("long")).alias("n_mixed"),
        F.sum((ec == 3.0).cast("long")).alias("n_int"),
        F.sum(
            F.when(
                F.col(time_col).isNull()
                | F.col(event_col).isNull()
                | (F.col(time_col).cast("double") <= 0),
                1,
            ).otherwise(0)
        ).alias("bad_t"),
        F.sum(
            (~ec.isin(0.0, 1.0, 2.0, 3.0)).cast("int")
        ).alias("bad_e"),
        *(
            [
                F.sum(
                    F.when(F.col(strata_col).isNull(), 1).otherwise(0)
                ).alias("bad_s")
            ]
            if strata_col
            else []
        ),
        *t2_aggs,
        *wchk_aggs,
    ))[0]
    if chk["bad_t"]:
        raise ValueError(
            f"{chk['bad_t']} rows have null/non-positive time or a null "
            "event code"
        )
    if chk["bad_e"]:
        raise ValueError(
            "event_col must use the R Surv codes 0 (right-censored), "
            "1 (event), 2 (left-censored), 3 (interval-censored)"
        )
    mixed = bool(int(chk["n_mixed"] or 0))
    if int(chk["n_int"] or 0) and not time2_col:
        raise ValueError(
            "interval-censored rows (event code 3) need time2_col "
            "(the interval's upper bound)"
        )
    if time2_col and chk["bad_t2"]:
        raise ValueError(
            f"{chk['bad_t2']} interval rows have null time2 or "
            "time2 <= time"
        )
    if mixed and strata_col:
        raise ValueError(
            "strata_col with left/interval censoring (codes 2/3) is not "
            "supported yet — fit per stratum or drop the strata"
        )
    if dist != "weibull" and (mixed or strata_col):
        raise ValueError(
            f"dist={dist!r} supports right censoring only (codes 0/1) "
            "and no strata — yet"
        )
    if strata_col and chk["bad_s"]:
        raise ValueError(
            f"{chk['bad_s']} rows have a null stratum — every row needs "
            "a stratum (its scale)"
        )
    n = int(chk["n"])
    if n == 0:
        raise ValueError("empty input")
    n_events = int(float(chk["ne"] or 0.0))
    n_loc = int(float(chk["nloc"] or 0.0))
    if not mixed:
        if n_events == 0:
            raise ValueError("no events — the scale is unidentified")
        if n_events <= k:
            raise ValueError(
                f"need more events than coefficients for the OLS start "
                f"(n_events={n_events}, k={k})"
            )
    else:
        # mixed mode implies >= 1 code-2/3 row, which is itself
        # location-informative, so nloc >= 1 always; the start needs
        # strictly more such rows than coefficients
        if n_loc <= k:
            raise ValueError(
                f"need more location-informative rows (codes 1/2/3) than "
                f"coefficients for the start (n={n_loc}, k={k})"
            )
        # ALL-left-censored data has a monotone likelihood (ℓ = Σ ln F →
        # 0⁻ as the location → −∞): the MLE does not exist — raise like
        # the all-right-censored case instead of drifting to ±∞
        # (review r14 pass 3). Any code-0/1/3 row bounds it again.
        if int(chk["n_mixed"] or 0) - int(chk["n_int"] or 0) == n:
            raise ValueError(
                "every row is left-censored — the likelihood is monotone "
                "(no MLE); at least one event/right/interval row is needed"
            )
    if weight_col:
        from sparkglm_spark.operators.lm import check_weight_domain

        check_weight_domain(
            weight_col, n=n, n_w=int(chk["n_w"]),
            min_w=chk["minw"], sum_w=chk["sw"],
        )
        mass = float(
            (chk["swl"] if mixed else chk["swe"]) or 0.0
        )
        if mass <= 0.0:
            raise ValueError(
                "all location-informative rows carry zero weight — the "
                "scale is unidentified (no weighted event mass)"
            )

    exprs = [F.log(F.col(time_col).cast("double")).alias("__lt"),
             F.col(event_col).cast("double").alias("__d")]
    if time2_col:
        # ln t2 only where the interval bound is real (code 3) — other
        # rows may carry garbage/null t2 by the Surv(type="interval")
        # convention
        exprs.append(
            F.when(
                F.col(event_col).cast("double") == 3.0,
                F.log(F.col(time2_col).cast("double")),
            ).alias("__lt2")
        )
    if fit_intercept:
        exprs.append(F.lit(1.0).alias("intercept"))
    exprs += [F.col(c).cast("double").alias(c) for c in x_cols]
    if weight_col:
        exprs.append(F.col(weight_col).cast("double").alias("__w"))
    if strata_col:
        exprs.append(F.col(strata_col).alias("__s"))
    work = df.select(*exprs).persist()
    try:
        from sparkglm_spark.operators.lm import LM

        strata: list = []
        if strata_col:
            # per-stratum identification check + the stratum order
            # (one bounded collect — strata are Newton-state entries)
            srows = collect_small(work.groupBy("__s").agg(
                F.sum("__d").alias("de"),
                *(
                    [F.sum(F.col("__w") * F.col("__d")).alias("we")]
                    if weight_col
                    else []
                ),
            ))
            for r in srows:
                if float(r["de"] or 0.0) == 0.0:
                    raise ValueError(
                        f"stratum {r['__s']!r} has no events — its scale "
                        "is unidentified"
                    )
                if weight_col and float(r["we"] or 0.0) <= 0.0:
                    raise ValueError(
                        f"stratum {r['__s']!r} has zero event-weight "
                        "mass — its scale is unidentified"
                    )
            strata = sorted(r["__s"] for r in srows)

        if mixed:
            # location-informative rows: ln t (codes 1/2), the interval's
            # log-midpoint ln √(t·t2) (code 3) — right-censored rows
            # carry no location and stay out of the start. Without
            # time2_col there are no code-3 rows (validated), so __lt2
            # must not be referenced at all
            ev = work.where(F.col("__d") != 0.0)
            if time2_col:
                ev = ev.withColumn(
                    "__lt",
                    F.when(
                        F.col("__d") == 3.0,
                        (F.col("__lt") + F.col("__lt2")) / 2.0,
                    ).otherwise(F.col("__lt")),
                )
        else:
            ev = work.where(F.col("__d") == 1.0)
        start = LM.fit(ev, y_col="__lt", x_cols=names,
                       weight_col="__w" if weight_col else None)
        beta = np.asarray(start.coefs, dtype=np.float64)
        # σ start from the OLS residual scale over sd(W) (π/√6 ≈ 1.283
        # extreme-value, π/√3 logistic, 1 normal) — far better
        # conditioned than σ=1 when the true scale is small, where the
        # Hessian is not yet negative definite and Newton crawls
        sd_w = _AFT_SD_W[dist]
        log_s = float(np.log(max(start.sigma / sd_w, 1e-3)))
        # method-of-moments intercept correction: the extreme-value W
        # has mean −γ (Euler), so the OLS intercept estimates β₀ − γσ;
        # uncorrected, the start sits ~0.6σ below the MLE — outside the
        # quadratic basin, where plain Newton overshoots (measured: the
        # first undamped step on planted Weibull data jumps past the
        # optimum and diverges). Corrected, the start lands in the
        # basin and Newton contracts. Logistic/normal W have mean 0 —
        # no shift.
        if fit_intercept and dist == "weibull":
            beta[0] += _EULER_GAMMA * float(np.exp(log_s))
        xs = [F.col(c) for c in names]
        # ω multiplies every per-subject likelihood term; lit(1.0)·x is
        # IEEE-exact, so unweighted sums equal the plain ones
        wv = F.col("__w") if weight_col else F.lit(1.0)
        mills = _mills_udf() if dist == "lognormal" else None

        def _chain(vals):
            # per-row stratum value: a when-chain over the stratum literals
            expr = None
            for v, x in zip(strata, vals):
                w_ = (F.col("__s") == F.lit(v), F.lit(float(x)))
                expr = F.when(*w_) if expr is None else expr.when(*w_)
            return expr.otherwise(F.lit(float("nan")))

        def terms_at(st):
            eta = F.lit(0.0)
            for col, bb in zip(xs, st[:k]):
                eta = eta + F.lit(float(bb)) * col
            if strata_col:
                sigs = np.exp(np.asarray(st[k:], dtype=np.float64))
                inv, inv2 = _chain(1.0 / sigs), _chain(1.0 / sigs ** 2)
                ls = _chain(st[k:])
                zl = (F.col("__lt") - eta) * inv
            else:
                ls = float(st[k])
                sigma = float(np.exp(ls))
                inv, inv2 = 1.0 / sigma, 1.0 / sigma**2
                zl = (F.col("__lt") - eta) / F.lit(sigma)
            zr = None
            if mixed:
                zr = zl
                if time2_col:
                    zr = F.when(
                        F.col("__d") == 3.0,
                        (F.col("__lt2") - eta) / F.lit(sigma),
                    ).otherwise(zl)
            terms = _aft_col_terms(dist, F.col("__d"), zl, ls, zr, mills)
            return terms, inv, inv2

        # a stratified fit runs the same sums per stratum: the β-block
        # sums add across the S rows, the σ entries are per stratum (the
        # cross-stratum σ Hessian is exactly 0); unstratified is one row
        sidx = {v: k + i for i, v in enumerate(strata)}

        def stats_at(st):
            terms, inv, inv2 = terms_at(st)
            sums = _aft_sums(terms, xs, wv, inv, inv2)
            aggs = [F.sum(v).alias(f"s{j}") for j, v in enumerate(sums)]
            rows = collect_small(
                work.groupBy("__s").agg(*aggs) if strata_col
                else work.agg(*aggs)
            )
            dim = len(st)
            ll, grad, hess = 0.0, np.zeros(dim), np.zeros((dim, dim))
            for r in rows:
                si = sidx[r["__s"]] if strata_col else k
                ll_r, g, h = _aft_unpack(r[-len(sums):], k)
                ll += ll_r
                grad[:k] += g[:k]
                grad[si] = g[k]
                hess[:k, :k] += h[:k, :k]
                hess[:k, si] = hess[si, :k] = h[:k, k]
                hess[si, si] = h[k, k]
            return ll, grad, hess

        def ll_at(st):
            # line-search probe: ONE scalar sum, not the O(k²) aggregate
            terms, _, _ = terms_at(st)
            v = collect_small(work.agg(F.sum(wv * terms.ll)))[0][0]
            return float(v) if v is not None else float("-inf")

        state, ll, cov, se, n_iter, converged = _aft_newton(
            stats_at, ll_at,
            np.concatenate([beta, np.full(len(strata) or 1, log_s)]),
            exact_iterations, tol, max_iter,
        )
        beta = state[:k]
    finally:
        work.unpersist()
    return WeibullAFT(
        xnames=names,
        time_col=time_col,
        event_col=event_col,
        coefs=beta,
        scale=(
            float(np.exp(state[k])) if not strata_col else float("nan")
        ),
        se=se,
        loglik=ll,
        n=n,
        n_events=n_events,
        iter=n_iter,
        converged=converged,
        cov_params=cov,
        weight_col=weight_col,
        strata_col=strata_col,
        dist=dist,
        scales=(
            {v: float(np.exp(state[k + i])) for i, v in enumerate(strata)}
            if strata_col
            else None
        ),
    )


def kaplan_meier(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str | None = None,
    time_bucket: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Kaplan-Meier product-limit survival curve, optionally per group:
    one row per distinct EVENT time with

      n_at_risk   |{j : t_j ≥ t}|       (suffix count, censored included)
      n_events    d_t
      survival    Π_{s ≤ t} (1 − d_s/n_at_risk(s))

    Plan: groupBy(time[, group]) collapses the table to distinct times
    (counts only on the wire); n_at_risk is a suffix sum and the product
    limit is exp(Σ ln(1 − d/n)) — BOTH ride one window pass per group
    (partitioned by group when given; via the range-partitioned prefix
    plan when global, so no single-partition sort). A time where every
    at-risk subject dies (survival hits exactly 0) is safe: ln(0) rows
    are clamped via a when() and survival reports 0 from there on.
    `time_bucket=w` floors the time axis to width-w buckets first — the
    distinct-time cardinality knob for micro-timestamped data.
    `weight_col` (r11) gives the ω-weighted product-limit estimator
    (survey-weighted KM: d and n_at_risk become weight MASSES and stay
    double — a long cast would truncate them)."""
    cum = _km_curve(df, time_col, event_col, group_col, time_bucket, weight_col)
    out_keys = ([group_col] if group_col else []) + [F.col("__t").alias("time")]
    cnt = (
        (lambda c: c)
        if weight_col
        else (lambda c: c.cast("long"))
    )
    return (
        cum.where(F.col("d") > 0)
        .select(
            *out_keys,
            cnt(F.col("n_at_risk")).alias("n_at_risk"),
            cnt(F.col("d")).alias("n_events"),
            F.when(F.col("__dead") == 1, 0.0)
            .otherwise(F.exp(F.col("__ls")))
            .alias("survival"),
        )
        .orderBy(*(([group_col] if group_col else []) + ["time"]))
    )


def restricted_mean_survival(
    df: DataFrame,
    time_col: str,
    event_col: str,
    tau: float,
    group_col: str | None = None,
    time_bucket: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Restricted mean survival time RMST(τ) = ∫₀^τ S(t)dt over the KM
    curve (the model-free "average event-free time over the next τ"
    effect measure — R survival::survfit + survRM2 convention),
    optionally per group.

    Instead of integrating the step function with a next-time lookup
    (which would need one more ordered window), RMST uses the drop
    identity:

        RMST(τ) = τ − Σ_{tᵢ ≤ τ} δᵢ·(τ − tᵢ),   δᵢ = S(tᵢ₋₁)·dᵢ/nᵢ

    where δᵢ is the KM survival DROP at event time tᵢ — and
    S(tᵢ₋₁) = exp(__ls − coalesce(__lt, 0)) falls out of the running
    log-sum the KM plan already carries (the inclusive sum minus the
    row's own term; at a death-to-zero row the NULL term contributes 0,
    so the expression is exactly the previous product). So RMST is the
    KM plan plus ONE aggregation — no extra window, no extra shuffle.

    Returns one row per group: (group?, tau, rmst, n_events) with
    n_events the event count inside [0, τ]. τ beyond the last event
    extends the last survival level (the standard step-function tail);
    τ before the first event gives exactly τ. `weight_col` (r11):
    RMST over the ω-weighted KM curve (n_events becomes the event
    mass, double)."""
    if not tau > 0:
        raise ValueError(f"tau must be > 0, got {tau!r}")
    cum = _km_curve(df, time_col, event_col, group_col, time_bucket, weight_col)
    # __ls itself is NULL when a group's FIRST distinct time already kills
    # everyone (grouped path: sum over only-NULL terms) — the previous
    # product there is 1, i.e. log 0
    s_prev = F.exp(
        F.coalesce(F.col("__ls"), F.lit(0.0)) - F.coalesce(F.col("__lt"), F.lit(0.0))
    )
    drop = s_prev * F.col("d") / F.col("n_at_risk")
    in_tau = (F.col("d") > 0) & (F.col("__t") <= F.lit(float(tau)))
    aggs = [
        (
            F.lit(float(tau))
            - F.sum(
                F.when(in_tau, drop * (F.lit(float(tau)) - F.col("__t"))).otherwise(
                    0.0
                )
            )
        ).alias("rmst"),
        (
            F.sum(F.when(in_tau, F.col("d")).otherwise(0.0))
            if weight_col
            else F.sum(F.when(in_tau, F.col("d")).otherwise(0.0)).cast("long")
        ).alias("n_events"),
    ]
    if group_col:
        out = cum.groupBy(group_col).agg(*aggs)
    else:
        out = cum.agg(*aggs)
    return out.select(
        *([group_col] if group_col else []),
        F.lit(float(tau)).alias("tau"),
        "rmst",
        "n_events",
    ).orderBy(*([group_col] if group_col else ["tau"]))


def logrank_test(
    df: DataFrame,
    time_col: str,
    event_col: str,
    group_col: str,
    time_bucket: float | None = None,
    weight_col: str | None = None,
    strata_col: str | None = None,
) -> dict:
    """Two-sample log-rank test (Mantel-Cox) — "are these two survival
    curves the same?", the standard companion to `kaplan_meier`:

      per event time t:  E_a = d_t·n_a(t)/n(t)
                         V_t = d_t·(n_a/n)·(1−n_a/n)·(n−d_t)/(n−1)
      χ²₁ = (Σ (d_a − E_a))² / Σ V_t,   p via `chisq_sf`

    `group_col` must take exactly two distinct non-null values (checked —
    a one-row collect of the distinct values, bounded). Plan: ONE
    groupBy(distinct time) with the per-group event/at-risk counts as
    conditional sums, suffix sums via the prefix plan, one final
    aggregation → 3 driver scalars. Ties share a time row (the standard
    discrete-time handling); times with n = 1 contribute zero variance.
    `time_bucket=w` floors the time axis first (cardinality knob, as in
    `coxph`/`kaplan_meier`).

    `weight_col` (r12): per-row FREQUENCY (case) weights — every count
    in the hypergeometric machinery becomes its Σω (at-risk n, n_a,
    events d, d_a), INCLUDING the finite-population tie correction
    (n−d)/(n−1), so an integer weight is exactly row replication for
    the statistic, the variance and the p-value (tested). That identity
    is what makes the substitution the correct frequency-weight
    formula; it is NOT the survey-sampling estimator — for sampling
    weights the variance needs ω²-terms (Xu-style, R
    `survey::svylogrank`), and the supported route here is the robust
    score test of `coxph(weight_col=)` on the group indicator.
    `n_events` keeps reporting the RAW event-row count (the
    `coxph(weight_col=)` reporting convention); weight-domain
    violations (null/NaN/negative/Σω ≤ 0) raise via the shared
    `check_weight_domain`, riding the same final aggregation — no
    extra pass.

    `strata_col` (r13) gives the STRATIFIED log-rank (R `survdiff(... +
    strata(s))`): risk sets never cross strata — the per-time frame
    keys on (stratum, time), suffix sums run per stratum (the `coxph`
    `_suffix_sums` window — one hash exchange on the stratum key, strata
    are the parallelism unit), and the same final aggregation sums O−E
    and V across strata (χ²₁ = (Σ_s Σ_t (d_a − E_a))² / Σ_s Σ_t V_t).
    Null-strata rows are DROPPED (the R `strata()` NA convention; a
    single-group stratum contributes exactly zero to both sums).
    Composes with `weight_col` and `time_bucket` unchanged."""
    from sparkglm_spark.functions.special import chisq_sf

    base = df.where(F.col(group_col).isNotNull())
    if strata_col:
        # the R strata() NA convention drops these rows BEFORE anything
        # else — including the two-group census (review r13: a group
        # value confined to null-strata rows must not fail the census)
        base = base.where(F.col(strata_col).isNotNull())
    groups = [
        r[0]
        for r in base.select(group_col).distinct().limit(3).collect()
    ]
    if len(groups) != 2:
        raise ValueError(
            f"logrank_test needs exactly 2 groups, found {len(groups)}"
        )
    ga, gb = sorted(groups, key=str)
    ev = F.col(event_col).cast("double")
    in_a = (F.col(group_col) == ga).cast("double")
    wr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    per_t_aggs = [
        F.sum(wr).alias("n_t"),
        F.sum(wr * in_a).alias("na_t"),
        F.sum(wr * ev).alias("d"),
        F.sum(wr * ev * in_a).alias("da"),
        F.sum(ev).alias("ne_raw"),
    ]
    if weight_col:
        per_t_aggs += [
            F.count(F.lit(1)).alias("cnt"),
            F.count(wr).alias("cnt_w"),
            F.min(wr).alias("minw"),
        ]
    keys = ([F.col(strata_col)] if strata_col else []) + [
        _time_expr(time_col, time_bucket).alias("__t")
    ]
    per_t = base.groupBy(*keys).agg(*per_t_aggs)
    cum = _suffix_sums(per_t, ["n_t", "na_t"], strata_col, None)
    n, na = F.col("n_t_cum"), F.col("na_t_cum")
    d, da = F.col("d"), F.col("da")
    fin_aggs = [
        F.sum(F.when(d > 0, da - d * na / n).otherwise(0.0)).alias("oe"),
        F.sum(
            F.when(
                (d > 0) & (n > 1),
                d * (na / n) * (1.0 - na / n) * (n - d) / (n - 1.0),
            ).otherwise(0.0)
        ).alias("v"),
        # ALL raw event rows — including ω = 0 rows at fully-zero-weight
        # times (review r12: gating on weighted d > 0 silently dropped
        # those from the documented raw-count convention)
        F.sum(F.col("ne_raw")).alias("ne"),
    ]
    if weight_col:
        fin_aggs += [
            F.sum("cnt").alias("n_all"),
            F.sum("cnt_w").alias("n_w"),
            F.min("minw").alias("minw"),
            F.sum("n_t").alias("sw"),
        ]
    row = cum.agg(*fin_aggs).collect()[0]
    if weight_col:
        from sparkglm_spark.operators.lm import check_weight_domain

        check_weight_domain(
            weight_col,
            n=int(row["n_all"]),
            n_w=int(row["n_w"]),
            min_w=row["minw"],
            sum_w=float(row["sw"]),
        )
    oe, v = float(row["oe"]), float(row["v"])
    if not v > 0.0:
        raise ValueError("zero log-rank variance (degenerate grouping)")
    stat = oe * oe / v
    return {
        "group_a": ga,
        "group_b": gb,
        "observed_minus_expected_a": oe,
        "variance": v,
        "n_events": int(float(row["ne"])),
        "chi2": float(stat),
        "df": 1.0,
        "p_value": float(chisq_sf(stat, 1.0)),
    }


def _aft_newton_dense(t, e, X, exact_iterations, tol, max_iter,
                      intercept_idx=None, w=None, t2=None,
                      dist="weibull"):
    """numpy twin of `weibull_aft`'s Newton-on-(β, ln σ) — the in-memory
    engine for `weibull_aft_grouped` (the `_cox_newton_dense` pattern):
    same OLS-on-event-rows start with the σ/1.283 residual-scale init
    and the γσ intercept correction (see `weibull_aft`), and the same
    Newton — `_aft_np_terms` fills the per-row frame that
    `_aft_col_terms` fills on Spark, `_aft_sums`/`_aft_unpack` make the
    gradient/Hessian from it, `_aft_newton` runs the loop. `w` (r13):
    case weights — ω on every likelihood sum, the WLS start over event
    rows (raw-count σ denominator, the `LM.fit(weight_col=)` convention).
    Returns (beta, log_s, se, loglik, n_iter, converged) or raises
    LinAlgError on a singular start/information (caller maps to the
    NULL row).

    `t2` (r14): interval upper bounds for code-3 rows — `e` then carries
    the full R Surv codes {0,1,2,3} and the (P, Q) mixed-censoring
    kernel applies (see `weibull_aft`). `dist` (r14):
    'loglogistic'/'lognormal' — right censoring only, like the
    distributed fitter."""
    n, k = X.shape
    lt = np.log(t)
    e = np.asarray(e, dtype=np.float64)
    mixed = bool(np.any((e == 2.0) | (e == 3.0)))
    if mixed and dist != "weibull":
        raise ValueError(
            f"dist={dist!r} supports right censoring only (codes 0/1)"
        )
    lt2 = None
    if mixed:
        lt2 = np.where(
            e == 3.0,
            np.log(np.where(np.asarray(t2 if t2 is not None else t) > 0,
                            np.asarray(t2 if t2 is not None else t), 1.0)),
            lt,
        )
    ev = (e != 0.0) if mixed else (e == 1.0)
    if w is None:
        w = np.ones(n, dtype=np.float64)
    ye = lt[ev]
    if mixed:
        # interval rows regress on the log-midpoint (the distributed
        # fitter's start)
        ye = np.where(e[ev] == 3.0, (lt[ev] + lt2[ev]) / 2.0, ye)
    Xe, we = X[ev], w[ev]
    xtx = Xe.T @ (Xe * we[:, None])
    np.linalg.cholesky(xtx)  # singular event-row design -> degenerate
    xty = Xe.T @ (we * ye)
    beta = np.linalg.solve(xtx, xty)
    sse = float(ye @ (we * ye) - 2.0 * beta @ xty + beta @ xtx @ beta)
    ne = int(ev.sum())
    sig = np.sqrt(max(sse, 0.0) / (ne - k)) if ne > k else 1.0
    sd_w = _AFT_SD_W[dist]
    log_s = float(np.log(max(sig / sd_w, 1e-3)))
    if intercept_idx is not None and dist == "weibull":
        beta[intercept_idx] += _EULER_GAMMA * float(np.exp(log_s))

    xs = [X[:, i] for i in range(k)]

    def terms_at(st):
        ls = float(st[k])
        sigma = float(np.exp(ls))
        xb = X @ st[:k]
        zr = (lt2 - xb) / sigma if mixed else None
        return _aft_np_terms(dist, e, (lt - xb) / sigma, ls, zr), sigma

    def stats_at(st):
        terms, sigma = terms_at(st)
        sums = _aft_sums(terms, xs, w, 1.0 / sigma, 1.0 / sigma**2)
        return _aft_unpack([v.sum() for v in sums], k)

    def ll_at(st):
        return float((w * terms_at(st)[0].ll).sum())

    state, ll, _cov, se, n_iter, converged = _aft_newton(
        stats_at, ll_at, np.append(beta, log_s), exact_iterations, tol,
        max_iter,
    )
    return state[:k], float(state[k]), se, ll, n_iter, converged


def survreg(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    dist: str = "weibull",
    **kwargs,
) -> WeibullAFT:
    """The R `survreg` front door — parametric AFT regression with the
    error-distribution switch: `dist` ∈ {'weibull', 'loglogistic',
    'lognormal'} (R's `survreg(Surv(...) ~ ..., dist=)` vocabulary;
    'exponential' is `weibull` with σ pinned — not offered, fit weibull
    and test log σ = 0 instead). Delegates to `weibull_aft(dist=)`;
    every keyword there (weights, strata, exact_iterations, the
    time2/censor-code vocabulary for weibull) passes through."""
    return weibull_aft(df, time_col, event_col, x_cols, dist=dist, **kwargs)


def weibull_aft_grouped(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_cols: list[str],
    group_cols: list[str],
    fit_intercept: bool = True,
    max_iter: int = 50,
    tol: float = 1e-9,
    exact_iterations: int | None = None,
    weight_col: str | None = None,
    time2_col: str | None = None,
    dist: str = "weibull",
) -> DataFrame:
    """One Weibull AFT model per segment — `weibull_aft` scaled out to
    many groups with no per-group driver work (the `coxph_grouped`
    pattern: each group's rows land in one Arrow batch and fit by
    `_aft_newton_dense`, which runs the distributed fit's per-row
    kernels over numpy and the same `_aft_sums`/`_aft_newton` — same
    start, damping and stopping rule, asserted against per-slice
    `weibull_aft` fits in tests).

    `weight_col` (r13): per-group case weights, same likelihood as
    `weibull_aft(weight_col=)`. Weight degeneracies follow the GROUPED
    policy — a group with null/NaN/negative weights, Σω ≤ 0, or zero
    weighted-event mass NULL-degrades instead of raising (the
    `glm_elastic_net_grouped` boolean-twin convention).

    `dist` (r14): 'loglogistic'/'lognormal' per-group fits (right
    censoring only — a group with codes 2/3 under a non-weibull dist
    NULL-degrades), with the kernels of `weibull_aft(dist=)`.

    `time2_col` (r14): the mixed-censoring twin — `event_col` carries
    the full R Surv codes {0,1,2,3} exactly as in
    `weibull_aft(time2_col=)` (the same (P, Q) kernel, so a group fit
    here matches the distributed mixed fit on the slice); a group
    whose code-3 rows lack a finite t2 > t, or
    whose codes fall outside the vocabulary, NULL-degrades.

    Degenerate groups (too few location-informative rows, null/
    non-positive times, codes outside the Surv vocabulary, non-finite
    covariates, singular design/information) yield NULL
    estimate/se/scale rather than garbage or an aborted job.

    Returns long format: group_cols…, term, estimate, se, scale,
    loglik, n_rows, n_events, iterations, converged — `se` covers β
    terms (the ln σ SE rides as the 'scale' term row's se)."""
    dist = dist.lower()
    if dist not in _AFT_SD_W:
        raise ValueError(
            f"dist must be one of {sorted(_AFT_SD_W)}, got {dist!r}"
        )
    if not x_cols and not fit_intercept:
        raise ValueError("need x_cols or fit_intercept")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    names = (["intercept"] if fit_intercept else []) + list(x_cols)
    k = len(names)
    sel = (
        [F.col(c) for c in group_cols]
        + [
            F.col(time_col).cast("double").alias("__t"),
            F.col(event_col).cast("double").alias("__e"),
        ]
        + ([F.lit(1.0).alias("intercept")] if fit_intercept else [])
        + [F.col(c).cast("double").alias(c) for c in x_cols]
        + (
            [F.col(weight_col).cast("double").alias("__w")]
            if weight_col else []
        )
        + (
            [F.col(time2_col).cast("double").alias("__t2")]
            if time2_col else []
        )
    )
    terms = names + ["scale"]

    def fit_group(pdf):
        t = pdf["__t"].to_numpy(dtype=np.float64)
        e = pdf["__e"].to_numpy(dtype=np.float64)
        X = pdf[names].to_numpy(dtype=np.float64)
        n = len(t)
        e_valid = e[np.isfinite(e)]
        ne = int((e_valid == 1.0).sum())
        mixed = bool(np.any((e_valid == 2.0) | (e_valid == 3.0)))
        # identification mass: exact events (classic) or every
        # location-informative row (mixed) — the distributed guards'
        # boolean twin
        n_id = int((e_valid != 0.0).sum()) if mixed else ne
        if weight_col:
            # pandas maps SQL NULL to NaN in a float column, so one
            # finiteness check covers both null and NaN weights
            wv = pdf["__w"].to_numpy(dtype=np.float64)
            w_ok = (
                bool(np.all(np.isfinite(wv)))
                and bool(np.all(wv >= 0.0))
                and float(wv.sum()) > 0.0
                and len(e_valid) == n
                and float(
                    (wv * ((e != 0.0) if mixed else (e == 1.0))).sum()
                ) > 0.0
            )
        else:
            wv, w_ok = None, True
        if time2_col:
            t2v = pdf["__t2"].to_numpy(dtype=np.float64)
            c3 = e == 3.0
            t2_ok = bool(
                np.all(np.isfinite(t2v[c3])) and np.all(t2v[c3] > t[c3])
            )
        else:
            t2v = None
            t2_ok = not mixed or not bool(np.any(e_valid == 3.0))
        res = None
        if (
            w_ok
            and t2_ok
            and len(e_valid) == n
            and n_id > k
            and np.all(np.isfinite(t))
            and np.all(t > 0)
            and np.all(np.isfinite(X))
            and bool(np.all(np.isin(e, (0.0, 1.0, 2.0, 3.0))))
        ):
            try:
                res = _aft_newton_dense(
                    t, e, X, exact_iterations, tol, max_iter,
                    intercept_idx=0 if fit_intercept else None,
                    w=wv, t2=t2v, dist=dist,
                )
            except (np.linalg.LinAlgError, ValueError):
                # ValueError: codes 2/3 under a non-weibull dist — the
                # grouped NULL policy, not an aborted job
                res = None
        if res is not None:
            beta, log_s, se, ll, it, conv = res
            scale = float(np.exp(log_s))
            est = [float(b) for b in beta] + [scale]
            ses = [float(s) for s in se]  # k+1 entries: β…, ln σ
        else:
            ll, it, conv, scale = None, 0, False, None
            est = [None] * (k + 1)
            ses = [None] * (k + 1)
        return [
            (term, b, se, scale, ll, n, ne, it, bool(conv))
            for term, b, se in zip(terms, est, ses)
        ]

    return apply_grouped(
        df.select(*sel), df.schema, group_cols,
        ["__t", "__e", *names, "__w" if weight_col else None,
         "__t2" if time2_col else None],
        "term string, estimate double, se double, scale double, "
        "loglik double, n_rows bigint, n_events bigint, "
        "iterations int, converged boolean",
        fit_group,
    )


def aft_residuals(
    df: DataFrame,
    model: "WeibullAFT",
    output_prefix: str = "",
) -> DataFrame:
    """Per-row AFT diagnostics — the assumption-checking surface the Cox
    side gets from `schoenfeld_residuals` (public conventions: Cox-Snell
    1968 residuals; Collett, Modelling Survival Data ch. 7). Appends to
    each row, all ONE codegen projection (no shuffle, no Python):

      z_resid     (ln t − x'β)/σ — the standardized log-time residual
                  (under the model: standard extreme-value distributed)
      cox_snell   u = exp(z) — under a CORRECT model these behave as a
                  unit-exponential censored sample (the basis of
                  `aft_fit_diagnostic`)
      martingale  δ − u (excess events vs model expectation; large
                  negative = the model expected the event much earlier)
      deviance    sign(m)·√(−2·(m + δ·ln(δ − m))) — martingale
                  symmetrized (the standard survreg deviance residual;
                  0·ln0 handled as 0 for censored rows)

    Times must be > 0 (log); rows pass through with all input columns.

    DIST-AWARE (r14 review): cox_snell is the cumulative hazard of the
    fitted error distribution −ln S(z) — e^z weibull, ln(1+e^z)
    loglogistic (codegen softplus), −ln Φ̄(z) lognormal (one Arrow
    pandas-UDF column — the only Python in the projection, lognormal
    only); under a correct model each is a censored unit-exponential
    sample, so `aft_fit_diagnostic` works unchanged for every dist.
    Rows with the mixed-censoring codes 2/3 report NULL residuals (the
    censored-exponential interpretation needs a single observation
    time — NULL, not a wrong number); a stratified model reads each
    row's σ from its stratum (was: NaN for every row)."""
    z = (
        F.log(F.col(model.time_col).cast("double")) - model._eta()
    ) / model._sigma_expr()
    d = F.col(model.event_col).cast("double")
    dist = getattr(model, "dist", "weibull")
    if dist == "loglogistic":
        u = F.when(z > 30.0, z).otherwise(F.log1p(F.exp(z)))
    elif dist == "lognormal":
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        @pandas_udf(DoubleType())
        def _nlsf(zv):
            import pandas as pd

            return pd.Series(-_norm_mills(zv.to_numpy(dtype=np.float64))[1])

        u = _nlsf(z)
    else:
        u = F.exp(z)
    m = d - u
    inner = m + F.when(d == 1.0, d * F.log(d - m)).otherwise(F.lit(0.0))
    dev = F.signum(m) * F.sqrt(F.lit(-2.0) * inner)
    ok01 = d.isin(0.0, 1.0)
    p = output_prefix
    return df.select(
        "*",
        F.when(ok01, z).alias(f"{p}z_resid"),
        F.when(ok01, u).alias(f"{p}cox_snell"),
        F.when(ok01, m).alias(f"{p}martingale"),
        F.when(ok01, dev).alias(f"{p}deviance"),
    )


def aft_fit_diagnostic(
    df: DataFrame,
    model: "WeibullAFT",
    time_bucket: float | None = None,
) -> DataFrame:
    """Cox-Snell goodness-of-fit for a fitted AFT model — the global
    distributional check (`ph_assumption_test` is the Cox analogue):
    under a correct model the Cox-Snell residuals u are a censored
    UNIT-EXPONENTIAL sample, so the Kaplan-Meier cumulative hazard of u
    should track the 45° line Ĥ(u) ≈ u. Works for EVERY `dist` (r14):
    `aft_residuals` computes u = −ln S(z) under the fitted error
    distribution, which is exactly what the unit-exponential property
    needs — a loglogistic/lognormal fit is checked against its own
    distributional assumption, not Weibull's.

    Plan: the `aft_residuals` projection feeds the SAME `_km_curve`
    prefix plan every KM consumer uses (one groupBy(u) + running
    log-sum); returns one row per distinct residual value with
    (cox_snell, n_at_risk, n_events, km_cumhaz, expected = the residual
    itself) — plot km_cumhaz vs expected, or screen max|km_cumhaz −
    expected| over the bulk of the distribution. `time_bucket` coarsens
    the residual axis (bounds output cardinality at scale, exactly as
    in `kaplan_meier`)."""
    # validate BEFORE the KM: a t ≤ 0 row (log → NULL) or a dirty
    # event/covariate would otherwise enter the distinct-residual grid as
    # a NULL key and silently shift every hazard value
    t = F.col(model.time_col).cast("double")
    e = F.col(model.event_col).cast("double")
    dirty = (
        t.isNull() | (t <= 0) | F.isnan(t)
        | e.isNull() | ((e != 0.0) & (e != 1.0))
    )
    for name in model.xnames:
        if name != "intercept":
            xc = F.col(name).cast("double")
            dirty = dirty | xc.isNull() | F.isnan(xc)
    chk = df.agg(F.sum(dirty.cast("int")).alias("bad")).collect()[0]
    if chk["bad"]:
        raise ValueError(
            f"{chk['bad']} rows have null/non-positive time, non-0/1 "
            "event, or null/NaN covariates — clean the frame first"
        )
    res = aft_residuals(df, model).select(
        F.col("cox_snell").alias("__u"),
        F.col(model.event_col).cast("double").alias("__e"),
    )
    km = _km_curve(res, "__u", "__e", None, time_bucket)
    # everyone-at-risk-dies row: S hits 0, cumhaz is infinite — report
    # NULL (the __lt log term is NULL exactly there)
    cumhaz = F.when(F.col("__lt").isNull(), F.lit(None)).otherwise(
        -F.col("__ls")
    )
    return (
        km.where(F.col("d") > 0)
        .select(
            F.col("__t").alias("cox_snell"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("d").cast("long").alias("n_events"),
            cumhaz.alias("km_cumhaz"),
            F.col("__t").alias("expected"),
        )
        .orderBy("cox_snell")
    )
