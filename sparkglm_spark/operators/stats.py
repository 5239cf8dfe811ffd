"""Column statistics and hypothesis tests.

Correlation and standardization reduce to the engine's one-pass Gram
aggregation (plans/gram.py); the hypothesis tests (Welch t, χ²
independence, two-proportion z, two-sample KS, Mann-Whitney U) are each
one or two BOUNDED aggregation jobs plus driver math — the rank/CDF
tests ride the distinct-value + range-partitioned prefix machinery, so
values (never rows) cross the wire; `numeric_profile` is the one-pass
describe() with an approx-percentile knob for scale. Nothing here
collects row data — at 100 TB every operator is a handful of
aggregation jobs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.plans.gram import gram_aggregate
from sparkglm_spark.plans.partitioning import collect_small


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation for every pair of `cols` from ONE Gram pass:
    r_ij = (n·s_ij − s_i·s_j) / √((n·s_ii − s_i²)(n·s_jj − s_j²)).
    Column sums ride in the Gram matrix as a ones-column row (same trick as
    PCA). Returns long format (col_a, col_b, corr), upper triangle i < j.
    """
    one = "__one"
    data = df.select(*[F.col(c).cast("double").alias(c) for c in cols]).withColumn(
        one, F.lit(1.0)
    )
    g = gram_aggregate(data, [one, *cols])
    n = float(g.n)
    s = g.xtx[0, 1:]          # column sums
    m = g.xtx[1:, 1:]         # raw second moments
    rows = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            num = n * m[i, j] - s[i] * s[j]
            den = np.sqrt((n * m[i, i] - s[i] ** 2) * (n * m[j, j] - s[j] ** 2))
            rows.append(
                (cols[i], cols[j], float(num / den) if den > 0 else None)
            )
    return df.sparkSession.createDataFrame(
        rows, "col_a string, col_b string, corr double"
    )


def distinct_count_salted(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    n_salts: int = 64,
    alias: str = "n_distinct",
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key group without a per-key
    distinct hotspot. A plain distinct-count shuffles every (key, value)
    row to ONE reducer per key — a single hot key (the power-law norm in
    events/token data) serializes the whole stage. Salting by
    hash(value) % n_salts splits each key across n_salts reducers; since
    a given distinct value always lands in exactly one salt bucket, the
    per-bucket distinct counts SUM to the exact global count (unlike
    salting a mean/percentile, which would need a merge step).

    Two shuffles: (keys, salt) distinct-count, then an O(keys × n_salts)
    rollup — the second stage's input is tiny regardless of row count.
    At 1000 executors, set n_salts ≳ cores so one hot key saturates the
    cluster instead of one core."""
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts))
    return (
        df.groupBy(*keys, salt.alias("__salt"))
        .agg(F.count_distinct(F.col(value_col)).alias("__partial"))
        .groupBy(*keys)
        .agg(F.sum("__partial").alias(alias))
    )


def standardize_exprs(
    stats: dict[str, tuple[float, float]], suffix: str = "_z"
) -> list[Column]:
    return [
        ((F.col(c) - F.lit(mu)) / F.lit(sd)).alias(f"{c}{suffix}")
        for c, (mu, sd) in stats.items()
    ]


def standardize(
    df: DataFrame, cols: list[str], suffix: str = "_z", ddof: int = 1
) -> DataFrame:
    """Append z-scored versions of `cols` ((x − mean)/stddev): one tiny agg
    for the 2k scalars, then a codegen projection — rows untouched, zero
    shuffles (the feature-scaling step in front of any distance-based
    operator: similarity search, k-means, PCA on heterogeneous units)."""
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"m_{c}"))
        aggs.append(
            (F.stddev_samp(c) if ddof == 1 else F.stddev_pop(c)).alias(f"s_{c}")
        )
    row = df.agg(*aggs).collect()[0]
    stats = {c: (float(row[f"m_{c}"]), float(row[f"s_{c}"])) for c in cols}
    for c, (_, sd) in stats.items():
        if not sd > 0:
            raise ValueError(f"column {c!r} has zero variance; cannot standardize")
    return df.select("*", *standardize_exprs(stats, suffix))


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str
) -> dict:
    """Welch's unequal-variance two-sample t-test (the A/B-test default;
    public convention: Welch 1947 / R `t.test`):

      t  = (x̄₁ − x̄₂) / √(s₁²/n₁ + s₂²/n₂)
      df = Welch–Satterthwaite approximation
      p  = two-sided via the engine's `t_sf`

    `group_col` must take EXACTLY two distinct non-null values (checked);
    the whole test is ONE two-row aggregation (count/mean/var_samp per
    group) — driver math after that, no second job at any data scale.
    Groups are ordered by their value so the sign of `t` is deterministic."""
    from sparkglm_spark.functions.special import t_pvalue_two_sided

    rows = collect_small(
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(value_col).alias("n"),
            F.avg(value_col).alias("mean"),
            F.var_samp(value_col).alias("var"),
        )
        .orderBy(group_col)
    )
    if len(rows) != 2:
        raise ValueError(
            f"welch_ttest needs exactly 2 groups, found {len(rows)}: "
            f"{[r[group_col] for r in rows][:5]}"
        )
    for r in rows:
        # var_samp is NULL at n <= 1 (and count drops nulls), so validate
        # BEFORE float() conversion — otherwise float(None) raises an
        # unhelpful TypeError instead of the contract error
        if int(r["n"]) < 2 or r["var"] is None:
            raise ValueError(
                f"each group needs n >= 2 non-null values; group "
                f"{r[group_col]!r} has n={int(r['n'])}"
            )
    (g1, n1, m1, v1), (g2, n2, m2, v2) = (
        (r[group_col], int(r["n"]), float(r["mean"]), float(r["var"])) for r in rows
    )
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / se2**0.5
    dof = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    # Cohen's d (pooled-SD effect size) — the magnitude large-n
    # significance hides, same rationale as chi2's Cramér's V
    pooled_sd = (((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) ** 0.5
    return {
        "group_a": g1, "group_b": g2,
        "n_a": n1, "n_b": n2,
        "mean_a": m1, "mean_b": m2,
        "var_a": v1, "var_b": v2,
        "t_stat": float(t), "df": float(dof),
        "cohens_d": float((m1 - m2) / pooled_sd) if pooled_sd > 0 else float("nan"),
        "p_value": float(t_pvalue_two_sided(t, dof)),
    }


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> dict:
    """Pearson χ² test of independence over the (col_a, col_b) contingency
    table: Σ (observed − expected)²/expected with expected =
    row_total·col_total/n.

    Plan: one groupBy(a, b) count (the contingency cells), marginals
    re-aggregate FROM THE CELLS (cells ≪ rows; the raw table is scanned
    once), and the statistic sums over the FULL ka×kb marginal grid
    (tiny crossJoin of the two marginal aggregates) left-joined with the
    observed cells — a cell with observed 0 but expected > 0 still
    contributes (the classic sparse-contingency mistake). Nothing
    row-level is collected; the driver sees 4 scalars. p via the
    engine's `chisq_sf`. Single-job design (r14): n/ka/kb ride the
    statistic job as a broadcast one-row totals crossJoin, validation
    happens after the job, and the cells join side is unhinted — AQE
    broadcasts it at runtime when it fits, a high-cardinality pair
    falls back to a shuffle join rather than risking the driver/
    broadcast limit."""
    from sparkglm_spark.functions.special import chisq_sf

    cells = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    ).persist()
    try:
        ra = cells.groupBy(col_a).agg(F.sum("o").alias("ra"))
        cb = cells.groupBy(col_b).agg(F.sum("o").alias("cb"))
        # n/ka/kb ride the SAME job as the statistic (r14 — was a
        # separate collect): a broadcast one-row totals frame crossJoins
        # onto the grid, so expected counts divide by a column instead of
        # a driver literal. Validation happens after the single job (a
        # degenerate input pays one job before raising — same error).
        tot = F.broadcast(
            cells.agg(
                F.sum("o").alias("__n"),
                F.countDistinct(col_a).alias("__ka"),
                F.countDistinct(col_b).alias("__kb"),
            )
        )
        # the FULL ka×kb grid, not just observed cells: a cell with
        # observed = 0 but expected > 0 still contributes expected to the
        # statistic (the classic sparse-contingency mistake). The cells
        # join side is unhinted — AQE broadcasts it at runtime when it
        # fits (the old explicit gate needed the driver-side ka·kb).
        grid = ra.crossJoin(cb).crossJoin(tot)
        e_cell = F.col("ra") * F.col("cb") / F.col("__n")
        stat_row = (
            grid.join(cells, [col_a, col_b], "left")
            .agg(
                F.sum(
                    (F.coalesce(F.col("o"), F.lit(0.0)) - e_cell) ** 2
                    / e_cell
                ).alias("chi2"),
                F.first("__n").alias("n"),
                F.first("__ka").alias("ka"),
                F.first("__kb").alias("kb"),
            )
            .collect()[0]
        )
        ka = int(stat_row["ka"] or 0)
        kb = int(stat_row["kb"] or 0)
        if ka < 2 or kb < 2:
            raise ValueError(
                f"need >= 2 levels per column, found {ka}x{kb}"
            )
        n = float(stat_row["n"])
    finally:
        cells.unpersist()
    chi2 = float(stat_row["chi2"])
    dof = float((ka - 1) * (kb - 1))
    # Cramér's V — the effect size the raw χ² hides at large n (at 100 TB
    # row counts EVERYTHING is "significant"; V says whether it matters):
    # V = √(χ²/(n·min(ka−1, kb−1))), in [0, 1]
    v = (chi2 / (n * min(ka - 1, kb - 1))) ** 0.5
    return {
        "chi2": chi2, "df": dof, "n": int(n),
        "levels_a": ka, "levels_b": kb,
        "cramers_v": float(v),
        "p_value": float(chisq_sf(chi2, dof)),
    }


def proportions_ztest(
    df: DataFrame, group_col: str, success_col: str
) -> dict:
    """Two-proportion pooled z-test (A/B conversion-rate comparison):
    z = (p̂₁ − p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)), p̂ pooled. `success_col`
    must be 0/1 (checked in the same single aggregation). One two-row
    aggregation job; groups ordered by value for a deterministic sign."""
    from sparkglm_spark.functions.special import norm_pvalue_two_sided

    s = F.col(success_col).cast("double")
    rows = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(s).alias("succ"),
            F.sum((s != 0.0).cast("int") * (s != 1.0).cast("int")).alias("bad"),
        )
        .orderBy(group_col)
        .collect()
    )
    if len(rows) != 2:
        raise ValueError(
            f"proportions_ztest needs exactly 2 groups, found {len(rows)}"
        )
    if any(r["bad"] for r in rows):
        raise ValueError("success_col must be 0/1")
    (g1, n1, s1), (g2, n2, s2) = (
        (r[group_col], int(r["n"]), float(r["succ"])) for r in rows
    )
    if min(n1, n2) < 1:
        raise ValueError("each group needs n >= 1")
    p1, p2 = s1 / n1, s2 / n2
    pooled = (s1 + s2) / (n1 + n2)
    denom = (pooled * (1.0 - pooled) * (1.0 / n1 + 1.0 / n2)) ** 0.5
    z = float("nan") if denom == 0.0 else (p1 - p2) / denom
    return {
        "group_a": g1, "group_b": g2,
        "n_a": n1, "n_b": n2,
        "rate_a": p1, "rate_b": p2,
        "z_stat": float(z),
        "p_value": float(norm_pvalue_two_sided(z)) if z == z else float("nan"),
    }


def _two_group_value_counts(df: DataFrame, group_col: str, value_col: str):
    """Shared scaffold for the two-sample rank/CDF tests: validate exactly
    two non-null groups, return (PERSISTED per-distinct-value counts
    frame with c1/c2 columns, group_a, group_b, n1, n2). One
    groupBy(value) over the non-null rows — distinct values only on the
    wire. Null filtering happens on the CAST value, so a non-castable
    string becomes a dropped null rather than a phantom NULL value group.
    The counts frame feeds both the totals probe and the caller's prefix
    pass — CALLERS MUST unpersist it."""
    groups = [
        r[0]
        for r in df.where(F.col(group_col).isNotNull())
        .select(group_col)
        .distinct()
        .limit(3)
        .collect()
    ]
    if len(groups) != 2:
        raise ValueError(f"need exactly 2 groups, found {len(groups)}")
    ga, gb = sorted(groups, key=str)
    in_a = (F.col(group_col) == ga).cast("double")
    # try_cast: under ANSI mode a plain cast THROWS on a malformed string;
    # here a non-castable value should be dropped like a null, not abort
    v = F.col(value_col).try_cast("double")
    vc = (
        df.where(F.col(group_col).isNotNull() & v.isNotNull() & ~F.isnan(v))
        .groupBy(v.alias("__v"))
        .agg(
            F.sum(in_a).alias("c1"),
            F.sum(F.lit(1.0) - in_a).alias("c2"),
        )
        .persist()
    )
    try:
        tot = vc.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2")).collect()[0]
        n1, n2 = float(tot["n1"] or 0), float(tot["n2"] or 0)
        if n1 < 1 or n2 < 1:
            raise ValueError(
                f"each group needs n >= 1 non-null values ({n1}, {n2})"
            )
    except Exception:
        vc.unpersist()
        raise
    return vc, ga, gb, n1, n2


def ks_test_2samp(df: DataFrame, group_col: str, value_col: str) -> dict:
    """Two-sample Kolmogorov-Smirnov test — "do these two samples come
    from the same distribution?", sensitive to ANY distributional
    difference (location, scale, shape), unlike the mean-only t-test:

        D = sup_x |F̂₁(x) − F̂₂(x)|,
        p ≈ Q_KS(√(n₁n₂/(n₁+n₂))·D)   (the classical asymptotic series)

    `group_col` must take exactly two non-null values (checked). Plan:
    one groupBy(distinct value) with per-group counts, the
    range-partitioned prefix pass for both empirical CDFs, one max
    aggregation → 2 driver scalars — distinct values only on the wire,
    never rows, never a sort to one partition. Ties are shared CDF steps
    (both CDFs jump at the tied value — the standard discrete handling)."""
    from sparkglm_spark.functions.special import kolmogorov_sf
    from sparkglm_spark.plans.prefix import global_running_sum

    vc, ga, gb, n1, n2 = _two_group_value_counts(df, group_col, value_col)
    try:
        cum = global_running_sum(vc, "__v", ["c1", "c2"])
        row = cum.agg(
            F.max(
                F.abs(F.col("c1_cum") / F.lit(n1) - F.col("c2_cum") / F.lit(n2))
            ).alias("d")
        ).collect()[0]
    finally:
        vc.unpersist()
    d = float(row["d"])
    en = (n1 * n2 / (n1 + n2)) ** 0.5
    return {
        "group_a": ga, "group_b": gb,
        "n_a": int(n1), "n_b": int(n2),
        "d_stat": d,
        "p_value": float(kolmogorov_sf(en * d)),
    }


def mannwhitney_utest(df: DataFrame, group_col: str, value_col: str) -> dict:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test — the
    nonparametric location test (no normality assumption, robust to
    outliers; the inferential face of the AUC):

        U₁  = Σ over pairs 1(x₁ > x₂) + ½·ties   (tie-aware)
        z   = (U₁ − n₁n₂/2) / σ_U,
        σ²_U = n₁n₂/12 · [(n+1) − Σ(t³−t)/(n(n−1))]   (tie-corrected)

    two-sided p via the normal approximation (the standard large-sample
    path; exact tables only matter below n ≈ 20 per group). Plan: the
    AUC machinery — one groupBy(distinct value), the prefix pass, one
    final aggregation (U and the tie correction ride together)."""
    from sparkglm_spark.functions.special import norm_pvalue_two_sided
    from sparkglm_spark.plans.prefix import global_running_sum

    vc, ga, gb, n1, n2 = _two_group_value_counts(df, group_col, value_col)
    try:
        cum = global_running_sum(
            vc.withColumn("t", F.col("c1") + F.col("c2")), "__v", ["c2"]
        )
        row = cum.agg(
            F.sum(
                F.col("c1") * (F.col("c2_cum") - F.col("c2") + F.col("c2") / 2.0)
            ).alias("u"),
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tc"),
        ).collect()[0]
    finally:
        vc.unpersist()
    u = float(row["u"])
    n = n1 + n2
    var_u = n1 * n2 / 12.0 * ((n + 1.0) - float(row["tc"]) / (n * (n - 1.0)))
    if not var_u > 0.0:
        raise ValueError("zero rank variance (all values tied)")
    z = (u - n1 * n2 / 2.0) / var_u**0.5
    return {
        "group_a": ga, "group_b": gb,
        "n_a": int(n1), "n_b": int(n2),
        "u_stat": u,
        "z_stat": float(z),
        "p_value": float(norm_pvalue_two_sided(z)),
    }


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    eps: float = 1e-6,
) -> dict:
    """Distribution drift between a REFERENCE and a CURRENT sample of one
    numeric column — the production feature/score-monitoring pair
    (public conventions: PSI as used across credit-risk monitoring;
    Jensen-Shannon divergence, Lin 1991):

        psi   = Σ_bins (pᵢ − qᵢ)·ln(pᵢ/qᵢ)   (symmetric, unbounded;
                 folk thresholds: <0.1 stable, 0.1–0.25 moderate, >0.25 major)
        js    = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2   (bounded by ln 2)
        kl_ref_cur / kl_cur_ref

    Binning: `n_bins` equal-width bins over [lo, hi] (pass FIXED bounds
    for reproducible monitoring and SQL replay; omitted bounds come from
    one min/max pass over BOTH frames); values outside clamp to the edge
    bins. PSI proportions are eps-smoothed (empty bins would give ±inf —
    the standard PSI fix); JS/KL handle true zeros exactly (0·ln0 = 0).

    Plan: one groupBy(bin) count per frame (n_bins partial-agg groups),
    ≤ 2·n_bins rows to the driver. Returns the metric dict plus
    per-bin proportions under "bins"."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    import math

    if lo is None or hi is None:
        # NaN-exclude in the bounds probe too: NaN sorts greatest in
        # Spark, so a single NaN would make max() return NaN
        cd = F.col(col).cast("double")
        cv = F.when(~F.isnan(cd), cd)
        b1 = ref.agg(F.min(cv).alias("lo"), F.max(cv).alias("hi")).collect()[0]
        b2 = cur.agg(F.min(cv).alias("lo"), F.max(cv).alias("hi")).collect()[0]
        if b1["lo"] is None or b2["lo"] is None:
            raise ValueError(
                "both frames need at least one non-null value to derive "
                "bounds — pass lo/hi explicitly or clean the frames"
            )
        lo = min(float(b1["lo"]), float(b2["lo"])) if lo is None else lo
        hi = max(float(b1["hi"]), float(b2["hi"])) if hi is None else hi
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")

    def bin_counts(df: DataFrame) -> dict[int, float]:
        c = F.col(col).cast("double")
        b = F.least(
            F.greatest(
                F.floor((c - F.lit(float(lo))) / F.lit(float(hi - lo)) * n_bins)
                .cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
        rows = (
            # ~isnan too: NaN passes isNotNull and floor(NaN).cast('int')
            # would silently bin it into bin 0, inflating the lowest-bin
            # proportion — the same exclusion _two_group_value_counts uses
            df.where(c.isNotNull() & ~F.isnan(c))
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).cast("double").alias("n"))
            .collect()
        )
        return {int(r["bin"]): float(r["n"]) for r in rows}

    rc, cc = bin_counts(ref), bin_counts(cur)
    n_ref, n_cur = sum(rc.values()), sum(cc.values())
    if n_ref == 0 or n_cur == 0:
        raise ValueError("both frames need at least one non-null value")
    psi = kl_pq = kl_qp = js = 0.0
    bins = []
    for i in range(n_bins):
        p = rc.get(i, 0.0) / n_ref
        q = cc.get(i, 0.0) / n_cur
        ps, qs = max(p, eps), max(q, eps)  # PSI smoothing
        psi += (ps - qs) * math.log(ps / qs)
        if p > 0 and q > 0:
            kl_pq += p * math.log(p / q)
            kl_qp += q * math.log(q / p)
        elif p > 0 or q > 0:
            kl_pq = kl_pq if p == 0 else float("inf")
            kl_qp = kl_qp if q == 0 else float("inf")
        m = (p + q) / 2.0
        if p > 0:
            js += 0.5 * p * math.log(p / m)
        if q > 0:
            js += 0.5 * q * math.log(q / m)
        bins.append({"bin": i, "p_ref": p, "p_cur": q})
    return {
        "psi": float(psi),
        "js_divergence": float(js),
        "kl_ref_cur": float(kl_pq),
        "kl_cur_ref": float(kl_qp),
        "n_ref": int(n_ref),
        "n_cur": int(n_cur),
        "lo": float(lo),
        "hi": float(hi),
        "n_bins": n_bins,
        "bins": bins,
    }


def distribution_drift_grouped(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    group_col: str,
    n_bins: int = 10,
    lo: float = None,
    hi: float = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-segment `distribution_drift` — PSI/JS for EVERY group in one
    distributed pass (per-feature-per-source monitoring), no driver loop:

    one groupBy(group, bin) count per frame, a dense (group × bin) grid
    (distinct groups ⋈ bin range — G·n_bins compact rows), both count
    frames left-joined in, per-group metric aggregation with the PSI/JS
    terms as codegen expressions. Returns (group, n_ref, n_cur, psi,
    js_divergence); a group present in only ONE frame gets NULL metrics
    (its drift is undefined, not zero or infinite). Bounds must be FIXED
    (lo/hi) — per-group auto-bounds would make segments incomparable."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    if lo is None or hi is None:
        raise ValueError(
            "grouped drift requires explicit lo/hi bounds (per-group "
            "auto-bounds would make segments incomparable)"
        )
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")

    def bins_of(df: DataFrame, cname: str) -> DataFrame:
        c = F.col(col).cast("double")
        b = F.least(
            F.greatest(
                F.floor((c - F.lit(float(lo))) / F.lit(float(hi - lo)) * n_bins)
                .cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
        return (
            # ~isnan: NaN would otherwise floor-cast into bin 0 silently
            df.where(c.isNotNull() & ~F.isnan(c) & F.col(group_col).isNotNull())
            .groupBy(F.col(group_col).alias("__g"), b.alias("__b"))
            .agg(F.count(F.lit(1)).cast("double").alias(cname))
        )

    rb = bins_of(ref, "rn")
    cb = bins_of(cur, "cn")
    rt = rb.groupBy("__g").agg(F.sum("rn").alias("rtot"))
    ct = cb.groupBy("__g").agg(F.sum("cn").alias("ctot"))
    spark = ref.sparkSession
    bins = spark.range(0, n_bins).select(F.col("id").cast("int").alias("__b"))
    groups = rt.select("__g").unionByName(ct.select("__g")).distinct()
    grid = groups.crossJoin(F.broadcast(bins))
    p = F.coalesce(F.col("rn"), F.lit(0.0)) / F.col("rtot")
    q = F.coalesce(F.col("cn"), F.lit(0.0)) / F.col("ctot")
    ps = F.greatest(p, F.lit(float(eps)))
    qs = F.greatest(q, F.lit(float(eps)))
    m = (p + q) / 2.0
    psi_term = (ps - qs) * F.log(ps / qs)
    js_term = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(0.0) + F.when(
        q > 0, 0.5 * q * F.log(q / m)
    ).otherwise(0.0)
    joined = (
        grid.join(rb, ["__g", "__b"], "left")
        .join(cb, ["__g", "__b"], "left")
        .join(rt, "__g", "left")
        .join(ct, "__g", "left")
    )
    both = F.col("rtot").isNotNull() & F.col("ctot").isNotNull()
    return (
        joined.groupBy("__g")
        .agg(
            F.max("rtot").alias("__rt"),
            F.max("ctot").alias("__ct"),
            F.sum(F.when(both, psi_term)).alias("psi"),
            F.sum(F.when(both, js_term)).alias("js_divergence"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__rt").cast("long").alias("n_ref"),
            F.col("__ct").cast("long").alias("n_cur"),
            "psi",
            "js_divergence",
        )
        .orderBy(group_col)
    )


def numeric_profile(
    df: DataFrame,
    cols: list[str],
    approx_mode: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """`describe()` that scales and is engine-exact: per column —
    (column, n, n_null, mean, std, min, max, p25, p50, p75, p90) — in ONE
    aggregation pass over the table (k columns → one job, partial-agg
    map-side).

    Percentiles default to the EXACT linear-interpolation definition (the
    DuckDB quantile_cont convention — what the oracle replays), but
    Spark's exact `percentile` buffers every distinct value per
    aggregation buffer: over a continuous column at 100 TB that is
    memory-unbounded. `approx_mode=True` switches to the
    `approx_percentile` t-digest sketch (bounded state, rank error
    ≤ 1/accuracy) — use it for any profile over a large continuous
    column; exact mode remains the default for small-data / oracle-exact
    runs.

    std is the SAMPLE standard deviation (stddev_samp). Long format so
    downstream code joins/filters on the column name."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if accuracy < 1:
        raise ValueError("accuracy must be >= 1")
    pcts = F.lit([0.25, 0.5, 0.75, 0.9])
    aggs: list[Column] = []
    for c in cols:
        col = F.col(c).cast("double")
        pct = (
            F.percentile_approx(col, pcts, F.lit(int(accuracy)))
            if approx_mode
            else F.percentile(col, pcts)
        )
        aggs += [
            F.count(col).alias(f"__n_{c}"),
            F.sum(col.isNull().cast("long")).alias(f"__nn_{c}"),
            F.avg(col).alias(f"__mean_{c}"),
            F.stddev_samp(col).alias(f"__std_{c}"),
            F.min(col).alias(f"__min_{c}"),
            F.max(col).alias(f"__max_{c}"),
            pct.alias(f"__pct_{c}"),
        ]
    row = collect_small(df.agg(*aggs))[0]
    out = []
    for c in cols:
        pct = row[f"__pct_{c}"] or [None] * 4
        out.append(
            (
                c,
                int(row[f"__n_{c}"]),
                int(row[f"__nn_{c}"] or 0),
                float(row[f"__mean_{c}"]) if row[f"__mean_{c}"] is not None else None,
                float(row[f"__std_{c}"]) if row[f"__std_{c}"] is not None else None,
                float(row[f"__min_{c}"]) if row[f"__min_{c}"] is not None else None,
                float(row[f"__max_{c}"]) if row[f"__max_{c}"] is not None else None,
                *[float(p) if p is not None else None for p in pct],
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, n bigint, n_null bigint, mean double, std double, "
        "min double, max double, p25 double, p50 double, p75 double, "
        "p90 double",
    )


def oneway_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_groups: int = 100_000,
) -> dict:
    """One-way ANOVA F-test across k groups (R `oneway.test(var.equal=
    TRUE)` / `aov`) — "do any of the segment means differ?", the k-group
    generalization of the pooled t-test:

        F = (SSB/(k−1)) / (SSW/(N−k)),  p via the engine's `f_sf`
        eta_squared = SSB/SST (effect size — the variance share the
        grouping explains; the magnitude large-N significance hides)

    ONE k-row aggregation (count/mean/var_samp per group, partial
    map-side — var_samp's JVM implementation is the numerically STABLE
    accumulator, so SSW = Σ(n_g−1)·var_g never cancels, unlike the
    raw-Σx² textbook form which silently returns garbage F on
    large-offset data like epoch timestamps); driver math after that —
    no second job at any data scale. Null group keys and null/NaN
    values are excluded; the test needs k ≥ 2 and N > k (checked); a
    frame with NO within-group variance at all raises rather than
    reporting a confident F = ∞ on possibly-degenerate input.

    The k-row collect is bounded: a group column with more than
    `max_groups` distinct levels raises instead of silently pulling
    millions of rows to the driver (the chi2 ka·kb ≤ 1e6 convention —
    the LIMIT is pushed into the plan, so the wire is bounded too). A
    grouping that wide isn't a k-segment ANOVA question; pre-bucket the
    column first."""
    from sparkglm_spark.functions.special import f_sf

    v = F.col(value_col).cast("double")
    rows = (
        df.where(
            F.col(group_col).isNotNull() & v.isNotNull() & ~F.isnan(v)
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("m"),
            F.var_samp(v).alias("var"),
        )
        .limit(max_groups + 1)
        .collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"oneway_anova: group_col has > {max_groups} distinct levels "
            "— pre-bucket the grouping or raise max_groups explicitly"
        )
    k = len(rows)
    if k < 2:
        raise ValueError(f"oneway_anova needs >= 2 groups, found {k}")
    n_tot = sum(int(r["n"]) for r in rows)
    if n_tot <= k:
        raise ValueError(
            f"need N > k for the within-group variance (N={n_tot}, k={k})"
        )
    grand = sum(int(r["n"]) * float(r["m"]) for r in rows) / n_tot
    ssb = sum(int(r["n"]) * (float(r["m"]) - grand) ** 2 for r in rows)
    # var_samp is NULL at n = 1 — a singleton group contributes 0 to SSW
    ssw = sum(
        (int(r["n"]) - 1) * float(r["var"])
        for r in rows
        if r["var"] is not None
    )
    df1, df2 = k - 1, n_tot - k
    if ssw <= 0:
        raise ValueError(
            "no within-group variance — the F statistic is undefined "
            "(every group is constant; check the value column)"
        )
    f_stat = (ssb / df1) / (ssw / df2)
    return {
        "f_stat": float(f_stat),
        "p_value": float(f_sf(f_stat, df1, df2)),
        "df_between": df1,
        "df_within": df2,
        "n": n_tot,
        "k_groups": k,
        "ss_between": float(ssb),
        "ss_within": float(ssw),
        "eta_squared": float(ssb / (ssb + ssw)),
    }


def _midranks(df: DataFrame, col: str, out: str) -> DataFrame:
    """(value, midrank) for every DISTINCT value of `col` — the tie-aware
    average rank (midrank = #smaller + (count+1)/2), built from the
    distinct-value counts + the range-partitioned prefix plan (the same
    machinery as the MW-U test; distinct values only on the wire)."""
    from sparkglm_spark.plans.prefix import global_running_sum

    counts = df.groupBy(F.col(col).alias("__v")).agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    )
    cum = global_running_sum(counts, "__v", ["__c"])
    return cum.select(
        F.col("__v").alias(col),
        (
            F.col("__c_cum") - F.col("__c") + (F.col("__c") + 1.0) / 2.0
        ).alias(out),
    )


def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> dict:
    """Spearman rank correlation with TIE-AWARE midranks (the
    `cor(method="spearman")` convention — Pearson correlation of the
    average ranks), for monotone-but-nonlinear association where
    Pearson's linearity assumption misleads.

    Plan: rows with a null/NaN on either side are dropped; each column
    reduces to its DISTINCT values (bounded by the value domain), gets
    midranks from the range-partitioned prefix plan, and joins back —
    the wire carries (value, rank) pairs and the final Pearson is ONE
    aggregation. No full-table sort, no single-partition window.
    p-value: the t approximation t = ρ·√((n−2)/(1−ρ²)) (two-sided, the
    R default for n beyond the exact tables)."""
    from sparkglm_spark.functions.special import t_pvalue_two_sided

    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    # the filtered projection feeds THREE consumers (two midrank builds
    # + the final join/agg) — persist for the eager computation below
    # (the _two_group_value_counts convention)
    base = df.where(
        a.isNotNull() & ~F.isnan(a) & b.isNotNull() & ~F.isnan(b)
    ).select(a.alias(col_a), b.alias(col_b)).persist()
    try:
        ranked = base.join(_midranks(base, col_a, "__ra"), col_a).join(
            _midranks(base, col_b, "__rb"), col_b
        )
        row = ranked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__ra").alias("sa"),
            F.sum("__rb").alias("sb"),
            F.sum(F.col("__ra") * F.col("__ra")).alias("saa"),
            F.sum(F.col("__rb") * F.col("__rb")).alias("sbb"),
            F.sum(F.col("__ra") * F.col("__rb")).alias("sab"),
        ).collect()[0]
    finally:
        base.unpersist()
    n = int(row["n"])
    if n < 3:
        raise ValueError(f"spearman_corr needs n >= 3 non-null pairs, got {n}")
    sa, sb = float(row["sa"]), float(row["sb"])
    num = n * float(row["sab"]) - sa * sb
    den2 = (n * float(row["saa"]) - sa * sa) * (n * float(row["sbb"]) - sb * sb)
    if den2 <= 0:
        raise ValueError(
            "a side is constant (all ranks tied) — correlation undefined"
        )
    rho = num / den2**0.5
    if abs(rho) >= 1.0:
        p = 0.0
    else:
        t = rho * ((n - 2) / (1.0 - rho * rho)) ** 0.5
        p = t_pvalue_two_sided(t, float(n - 2))
    return {"rho": float(rho), "p_value": float(p), "n": n}
