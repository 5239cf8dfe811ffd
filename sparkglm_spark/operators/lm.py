"""OLS linear model — the reference's LM.scala re-expressed Spark-first.

Reference behavior reproduced (cited file:line into /root/reference):
- fit via normal equations X'X, X'y (LM.scala:142-155,191-214) — here a
  single declarative Gram aggregation (see plans/gram.py) + a k×k driver
  solve (Cholesky via numpy, not an explicit inverse — SURVEY §2.13.4).
- stats: σ² = SSE/(n−k); stdErr = √(σ²·diag((X'X)⁻¹)) (LM.scala:260-263);
  R² = ESS/TSS (LM.scala:185,206); F = ((TSS−SSE)/(k−1))/(SSE/(n−k))
  (LM.scala:186,207); adjR² / dfm / dfe / t / p as in SummaryLM
  (LM.scala:68-90).
- predict keeps the input rows and appends a `prediction` column (a pure
  Catalyst linear-combination expression — no RDD round-trip, unlike
  LM.scala:39-61); `predict_indexed` offers the reference's positional
  (index, value) surface (LM.scala:27,41,54-60).

Scale: fit = 1 aggregation job in "moments" mode (default) or 2 in "exact"
mode (residual pass). No collect of row data, no caching requirement, no
partition-count dispatch — the same plan at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.formula import expand_dot, parse_formula
from sparkglm_spark.functions.encoding import (
    model_matrix,
    model_matrix_levels,
    omit_na,
)
from sparkglm_spark.functions.special import t_pvalue_two_sided
from sparkglm_spark.plans.gram import gram_aggregate, gram_sums, gram_unpack
from sparkglm_spark.plans.partitioning import collect_small


def solve_normal(xtx: np.ndarray, xty: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Solve X'X β = X'y by Cholesky; return (β, (X'X)⁻¹).

    The reference uses an explicit Breeze `inv` (LM.scala:197,225); Cholesky
    is numerically better on the same normal equations. Falls back to
    pseudo-inverse for rank-deficient designs.
    """
    try:
        c, low = np.linalg.cholesky(xtx), True
        coefs = np.linalg.solve(xtx, xty)
        # invert from the Cholesky factor: X'X = L L' → inv = L'^-1 L^-1
        linv = np.linalg.inv(c)
        xtxi = linv.T @ linv
    except np.linalg.LinAlgError:
        xtxi = np.linalg.pinv(xtx)
        coefs = xtxi @ xty
    return coefs, xtxi


def linear_combination(x_cols: list[str], coefs: np.ndarray) -> Column:
    """Σ βᵢ·xᵢ as one Catalyst expression (whole-stage-codegen friendly)."""
    expr = F.lit(float(coefs[0])) * F.col(x_cols[0])
    for c, b in zip(x_cols[1:], coefs[1:]):
        expr = expr + F.lit(float(b)) * F.col(c)
    return expr


def sql_double_lit(v: float) -> str:
    """`v` as a Spark SQL DOUBLE literal, bit-exact: repr() is the
    shortest round-trip form and both Python and the SQL lexer parse it
    to the same IEEE-754 double (asserted in tests); non-finite values
    need the string-cast spelling."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def sql_linear_combination(x_cols: list[str], coefs) -> str:
    """`linear_combination` as ONE SQL string — the same left-associated
    (β₀·x₀) + (β₁·x₁) + … tree, so values are bit-identical. Iterative
    fitters rebuild their per-iteration plan around changing β literals;
    constructing hundreds of Column objects per iteration costs ~0.4 s
    of py4j round-trips (measured, r14), while a string is one call —
    the β-independent expression trees are built once and reused."""
    terms = [
        f"({sql_double_lit(b)} * `{c.replace('`', '``')}`)"
        for c, b in zip(x_cols, coefs)
    ]
    return " + ".join(terms)


def scoring_feature_exprs(
    xnames: list[str], levels: dict[str, list[str]], df_columns: list[str]
) -> list[Column]:
    """Feature expressions over a RAW scoring DataFrame, one per model
    column, without touching any other column:
    - already-encoded / numeric predictor → cast to double
    - 'intercept' absent from the data → lit(1.0)
    - '<col>_<level>' dummy for a known categorical → when/otherwise
    - anything else → lit(0.0)  (match_cols zero-backfill,
      utils.scala:21-33; novel levels get all-zero dummies, SURVEY §2.13.8)
    """
    have = set(df_columns)
    dummy_of: dict[str, tuple[str, str]] = {
        f"{c}_{lvl}": (c, lvl) for c, lvls in levels.items() for lvl in lvls[1:]
    }
    out: list[Column] = []
    for name in xnames:
        if name in have:
            out.append(F.col(name).cast("double").alias(name))
        elif name == "intercept":
            out.append(F.lit(1.0).alias(name))
        elif name in dummy_of and dummy_of[name][0] in have:
            c, lvl = dummy_of[name]
            out.append(F.when(F.col(c) == lvl, 1.0).otherwise(0.0).alias(name))
        else:
            out.append(F.lit(0.0).alias(name))
    return out


def prediction_over_raw(
    xnames: list[str],
    coefs: np.ndarray,
    levels: dict[str, list[str]],
    df_columns: list[str],
) -> Column:
    """Σ βᵢ·featureᵢ directly over raw columns — one projection, no
    intermediate encoding pass."""
    feats = scoring_feature_exprs(xnames, levels, df_columns)
    expr = F.lit(float(coefs[0])) * feats[0]
    for f_expr, b in zip(feats[1:], coefs[1:]):
        expr = expr + F.lit(float(b)) * f_expr
    return expr


@dataclass
class LM:
    """Fitted OLS model (reference: class LM, LM.scala:16-25)."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    std_err: np.ndarray
    sigma: float
    r2: float
    f_stat: float
    nrow: int
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""
    cov_params: np.ndarray | None = None  # σ̂²(X'X)⁻¹ — interval construction
    # fit flavor — the OLS-only downstream paths (influence diagnostics,
    # prediction intervals, sandwich SEs) check these and refuse instead of
    # silently returning numbers whose (X'X)⁻¹ assumptions don't hold
    weighted: bool = False   # WLS fit: cov_params is σ̂²(X'WX)⁻¹
    l2_penalty: float = 0.0  # ridge fit: cov_params is σ̂²(X'X+λI)⁻¹, biased

    # ---- fitting ----------------------------------------------------------

    @staticmethod
    def fit(
        x: DataFrame,
        y_col: str,
        x_cols: list[str] | None = None,
        sse_mode: str = "moments",
        weight_col: str | None = None,
        l2: float = 0.0,
    ) -> "LM":
        """Fit OLS where `x` holds both predictors and the label column —
        single-DataFrame surface replacing the reference's fragile
        two-aligned-DataFrames contract (SURVEY §1.4).

        `weight_col` → WLS: β = (X'WX)⁻¹X'Wy (reference: utils.wlsSingle /
        wlsMultiple, utils.scala:70-80,103-112 — SURVEY §2.11 M5/M6); all
        moments (SSE/TSS/R²/σ²) become w-weighted, ȳ the w-weighted mean.
        stdErr is √(σ̂²·diag((X'WX)⁻¹)); the reference's WLSObj.diagDesign is
        the unscaled √diag (used inside IRLS where W is the information).

        sse_mode:
          "moments" — one pass; SSE/ESS/TSS from the same Gram aggregates
                      (SSE = y'y − 2β'X'y + β'X'Xβ).
          "exact"   — adds a residual pass (matches LM.scala:160-188 shape).
        """
        x_cols = x_cols or [c for c in x.columns if c not in (y_col, weight_col)]
        g = gram_aggregate(x, x_cols, y_col=y_col, weight_col=weight_col)
        if weight_col is not None:
            # weight-domain guard riding the SAME Gram job (min_w/n_w are
            # already aggregated) — null/NaN/negative/Σw ≤ 0 would
            # silently corrupt every weighted moment below (r12: aligns
            # the WLS surface with the glm/coxph/enet family convention)
            check_weight_domain(
                weight_col,
                n=g.n,
                n_w=g.n_w if g.n_w is not None else g.n,
                min_w=g.min_w,
                sum_w=g.sum_w,
            )
        xtx = g.xtx
        if l2 > 0.0:
            # ridge: λ on the raw (unnormalized) Gram diagonal, intercept
            # unpenalized — the distributed plan is unchanged (same single
            # aggregation job); only the driver k×k solve shifts.
            pen = np.full(len(x_cols), float(l2))
            if "intercept" in x_cols:
                pen[x_cols.index("intercept")] = 0.0
            xtx = g.xtx + np.diag(pen)
        coefs, xtxi = solve_normal(xtx, g.xty)
        n, k = g.n, len(x_cols)
        n_w = g.sum_w if weight_col else float(n)  # Σw (= n unweighted)
        y_mean = g.sum_y / n_w

        if sse_mode == "moments":
            sse = float(g.sum_y2 - 2.0 * coefs @ g.xty + coefs @ g.xtx @ coefs)
            tss = g.sum_y2 - n_w * y_mean * y_mean
            # ESS = Σw(ŷ−ȳ)² = β'X'WXβ − 2ȳ·β'(X'W1) + Σw·ȳ²; X'W1 (weighted
            # column sums) is the intercept row of the Gram matrix when an
            # intercept column is present, else fall back to TSS−SSE (exact
            # with intercept, approximation without).
            if "intercept" in x_cols:
                i0 = x_cols.index("intercept")
                x1 = g.xtx[:, i0]
                ess = float(coefs @ g.xtx @ coefs - 2.0 * y_mean * (coefs @ x1) + n_w * y_mean**2)
            else:
                ess = tss - sse
        else:
            pred = linear_combination(x_cols, coefs)
            y = F.col(y_col)
            w = F.col(weight_col) if weight_col else F.lit(1.0)
            row = x.agg(
                F.sum(w * (y - pred) * (y - pred)).alias("sse"),
                F.sum(w * (pred - F.lit(y_mean)) * (pred - F.lit(y_mean))).alias("ess"),
                F.sum(w * (y - F.lit(y_mean)) * (y - F.lit(y_mean))).alias("tss"),
            ).collect()[0]
            sse, ess, tss = float(row["sse"]), float(row["ess"]), float(row["tss"])

        r2 = ess / tss  # reference: top/bot, LM.scala:185,206
        # LM.scala:186,207 — IEEE semantics (k=1 → ±inf, like Scala doubles)
        with np.errstate(divide="ignore", invalid="ignore"):
            f_stat = float(
                (np.float64(tss - sse) / np.float64(k - 1.0))
                / (np.float64(sse) / np.float64(n - k))
            )
        sig2 = sse / (n - k)  # LM.scala:260
        std_err = np.sqrt(sig2 * np.diag(xtxi))  # LM.scala:262-263

        return LM(
            xnames=list(x_cols),
            yname=y_col,
            coefs=np.asarray(coefs, dtype=np.float64),
            std_err=std_err,
            sigma=float(np.sqrt(sig2)),
            r2=float(r2),
            f_stat=float(f_stat),
            nrow=n,
            cov_params=sig2 * xtxi,
            weighted=weight_col is not None,
            l2_penalty=float(l2),
        )

    # ---- scoring ----------------------------------------------------------

    def prediction_expr(self) -> Column:
        return linear_combination(self.xnames, self.coefs)

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        interval: str | None = None,
        level: float = 0.95,
    ) -> DataFrame:
        """Score: keep input rows untouched, append the prediction column.
        Training-time encoding (dummies, intercept, zero-backfill) is applied
        inline as expressions over only the needed source columns (reference
        predict + matchCols semantics, LM.scala:29-37, utils.scala:21-33).

        `interval='confidence'` additionally appends (se_fit, lo, hi) for
        the MEAN response at each row — se_fit² = x'·Cov(β)·x, a pure
        codegen quadratic form over the k² stored covariance entries;
        `interval='prediction'` widens by the residual variance (+σ̂²) for
        a NEW observation. Bounds use the Student-t quantile at
        df = n − k (driver scalar). Still ONE projection, no shuffle."""
        expr = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        out = df.withColumn(output_col, expr)
        if interval is None:
            return out
        if interval not in ("confidence", "prediction"):
            raise ValueError("interval must be None, 'confidence' or 'prediction'")
        if self.l2_penalty > 0.0:
            raise ValueError(
                "intervals are OLS/WLS-only: a ridge fit's stored cov_params "
                "is σ̂²(X'X+λI)⁻¹, not the sandwich covariance of the biased "
                "ridge estimator — refit with l2=0 for intervals"
            )
        if self.weighted and interval == "prediction":
            raise ValueError(
                "prediction intervals need the NEW observation's variance, "
                "which under WLS is σ²/w (per-row), not the constant σ̂² this "
                "path adds — use interval='confidence' (valid for WLS: "
                "cov_params is σ̂²(X'WX)⁻¹) or an unweighted fit"
            )
        if self.cov_params is None:
            raise ValueError(
                "this model carries no cov_params (older persisted file?) — "
                "refit to enable intervals"
            )
        if not 0.0 < level < 1.0:
            raise ValueError("level must be in (0, 1)")
        feats = scoring_feature_exprs(self.xnames, self.levels, df.columns)
        k = len(self.xnames)
        var = F.lit(0.0)
        for i in range(k):
            for j in range(k):
                var = var + F.lit(float(self.cov_params[i, j])) * feats[i] * feats[j]
        if interval == "prediction":
            var = var + F.lit(float(self.sigma) ** 2)
        from sparkglm_spark.functions.special import t_ppf

        tq = t_ppf(0.5 + level / 2.0, self.nrow - k)
        se = F.sqrt(var)
        return (
            out.withColumn("se_fit", se)
            .withColumn("lo", F.col(output_col) - F.lit(tq) * se)
            .withColumn("hi", F.col(output_col) + F.lit(tq) * se)
        )

    def predict_indexed(self, df: DataFrame) -> DataFrame:
        """Reference-parity output shape: (index, value) with a positional
        index (LM.scala:27,41,54-60). Index is a contiguous 0-based ordinal
        in the DataFrame's partition order."""
        expr = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        pred = df.select(expr.alias("value"))
        rdd = pred.rdd.zipWithIndex().map(lambda t: (int(t[1]), float(t[0][0])))
        return pred.sparkSession.createDataFrame(rdd, "index: long, value: double")

    # ---- summary ----------------------------------------------------------

    def summary(self) -> "LMSummary":
        return LMSummary(self)


@dataclass
class LMSummary:
    """reference: SummaryLM (LM.scala:66-137)."""

    model: LM

    @property
    def adj_r2(self) -> float:  # LM.scala:68-70
        m = self.model
        p = len(m.xnames)
        return 1.0 - ((1.0 - m.r2) * (m.nrow - 1.0)) / (m.nrow - p - 1.0)

    @property
    def dfm(self) -> float:  # LM.scala:72-74
        return len(self.model.xnames) - 1

    @property
    def dfe(self) -> float:  # LM.scala:76-78
        return self.model.nrow - len(self.model.xnames)

    @property
    def t_vals(self) -> np.ndarray:  # LM.scala:84-86
        return self.model.coefs / self.model.std_err

    @property
    def p_vals(self) -> np.ndarray:  # LM.scala:88-90
        return np.array([t_pvalue_two_sided(t, self.dfe) for t in self.t_vals])

    @property
    def formula(self) -> str:  # LM.scala:92-98
        return f"{self.model.yname} ~ " + " + ".join(self.model.xnames)

    def as_dict(self) -> dict:
        """The R front-end's summary record (call, coefficients, RSE, R2,
        Fstat) — reference: LM.R:118-128."""
        m = self.model
        return {
            "call": m.call or self.formula,
            "coefficients": {
                name: {
                    "estimate": float(c),
                    "std_error": float(s),
                    "t_value": float(t),
                    "p_value": float(p),
                }
                for name, c, s, t, p in zip(
                    m.xnames, m.coefs, m.std_err, self.t_vals, self.p_vals
                )
            },
            "RSE": m.sigma,
            "R2": m.r2,
            "adj_R2": self.adj_r2,
            "Fstat": m.f_stat,
            "df": (self.dfm, self.dfe),
            "n": m.nrow,
        }

    def __str__(self) -> str:
        m = self.model
        lines = ["Model:", self.formula, "", "Coefficients:"]
        lines.append(f"{'':<24}{'Estimate':>14}{'Std. Error':>14}{'t value':>12}{'Pr(>|t|)':>12}")
        for name, c, s, t, p in zip(m.xnames, m.coefs, m.std_err, self.t_vals, self.p_vals):
            lines.append(f"{name:<24}{c:>14.6g}{s:>14.6g}{t:>12.4f}{p:>12.4g}")
        lines.append("")
        lines.append(f"Residual standard error: {m.sigma:.6g} on {self.dfe:.0f} degrees of freedom")
        lines.append(f"Multiple R-Squared: {m.r2:.4f}, Adjusted R-Squared: {self.adj_r2:.4f}")
        lines.append(f"F-statistic: {m.f_stat:.5g} on {self.dfm:.0f} and {self.dfe:.0f} DF")
        return "\n".join(lines)


def _encode_formula(
    df: DataFrame,
    formula: str,
    na_action: str = "omit",
    extra_cols: list[str] | None = None,
):
    """The formula front-end scaffold shared by lm / huber_lm /
    quantile_lm: parse → drop NAs → encode categoricals with GLOBAL
    levels → inject intercept. Returns (encoded, x_cols, target, levels);
    `extra_cols` (e.g. a weight column) pass through untouched — and
    are EXCLUDED from '.' expansion ('y ~ .' with a weight column must
    not also make it a covariate). One place, so an encoding-policy
    change cannot silently diverge the fitters."""
    extra = list(extra_cols or [])
    parsed = expand_dot(
        parse_formula(formula), [c for c in df.columns if c not in extra]
    )
    # collision guard (r14, the guard-matrix audit): an auxiliary column
    # (weight/offset/fold) explicitly referenced by the formula would be
    # selected twice, and every later F.col on it dies mid-plan with an
    # opaque AMBIGUOUS_REFERENCE — refuse loudly up front instead.
    # ('.'-expansion already EXCLUDES extras, so only explicit refs hit.)
    bad = [c for c in extra
           if c == parsed.target or c in parsed.predictors]
    if bad:
        raise ValueError(
            f"column(s) {bad} are both formula (modeling) columns and "
            "auxiliary columns (weight/offset/fold) — a column cannot "
            "play both roles"
        )
    data = df.select(parsed.target, *parsed.predictors, *extra)
    if na_action == "omit":
        data = omit_na(data)
    levels = model_matrix_levels(data.select(*parsed.predictors))
    encoded = model_matrix(data, levels=levels)
    x_cols: list[str] = []
    if parsed.intercept:
        encoded = encoded.withColumn("intercept", F.lit(1.0))
        x_cols.append("intercept")
    for p in parsed.predictors:
        if p in levels:
            x_cols.extend(f"{p}_{lvl}" for lvl in levels[p][1:])
        else:
            x_cols.append(p)
    return encoded, x_cols, parsed.target, levels


def lm(
    df: DataFrame,
    formula: str,
    na_action: str = "omit",
    sse_mode: str = "moments",
    weight_col: str | None = None,
    l2: float = 0.0,
) -> LM:
    """Formula front-end (reference: sparkLM, R/pkg/R/LM.R:24-72):
    parse → drop NAs → encode categoricals → inject intercept → fit.
    `l2 > 0` → ridge (Tikhonov) on the raw Gram, intercept unpenalized."""
    encoded, x_cols, target, levels = _encode_formula(
        df, formula, na_action, extra_cols=[weight_col] if weight_col else []
    )
    model = LM.fit(
        encoded,
        y_col=target,
        x_cols=x_cols,
        sse_mode=sse_mode,
        weight_col=weight_col,
        l2=l2,
    )
    model.levels = levels
    if l2 > 0.0:
        model.call = f"ridge({formula}, l2={l2})"
    elif weight_col:
        model.call = f"wls({formula}, w={weight_col})"
    else:
        model.call = f"lm({formula})"
    return model


def wls(df: DataFrame, formula: str, weight_col: str, **kwargs) -> LM:
    """Weighted least squares (reference: utils.wlsSingle/wlsMultiple,
    utils.scala:70-80,103-112) — `lm` with a weight column."""
    return lm(df, formula, weight_col=weight_col, **kwargs)


def ridge(df: DataFrame, formula: str, l2: float, **kwargs) -> LM:
    """L2-regularized OLS: β = (X'X + λI)⁻¹X'y, intercept unpenalized.
    Same one-job Gram plan as `lm` — the penalty is a driver-side O(k)
    diagonal shift, so the 100 TB cost profile is identical to OLS."""
    return lm(df, formula, l2=l2, **kwargs)


def _design(
    df: DataFrame,
    formula: str,
    keep_cols: list[str],
    na_action: str = "omit",
    weight_col: str | None = None,
    offset_col: str | None = None,
):
    """Shared encoding for the segmented/fold fitters: parse the formula
    (excluding `keep_cols` from `.` expansion), drop NAs on the modeling
    columns only, expand categoricals with GLOBAL levels, inject the
    intercept. Returns (encoded_df, x_cols, target) with `keep_cols`
    passed through untouched; `weight_col`/`offset_col` ride through as
    double-cast columns and — like keep_cols — are EXCLUDED from '.'
    expansion ('y ~ .' with a weight column must not duplicate it as a
    covariate; code-review r11, the `_encode_formula` fix's grouped
    twin)."""
    skip = set(keep_cols) | {c for c in (weight_col, offset_col) if c}
    parsed = expand_dot(
        parse_formula(formula),
        [c for c in df.columns if c not in skip],
    )
    # collision guard (r14 — `_encode_formula`'s grouped twin): a
    # group/weight/offset column explicitly referenced by the formula
    # would be selected twice → opaque mid-plan AMBIGUOUS_REFERENCE
    bad = [c for c in skip if c == parsed.target or c in parsed.predictors]
    if bad:
        raise ValueError(
            f"column(s) {sorted(bad)} are both formula (modeling) "
            "columns and group/weight/offset columns — a column cannot "
            "play both roles"
        )
    sel = [*keep_cols, parsed.target, *parsed.predictors]
    for c in (weight_col, offset_col):
        if c:
            sel.append(c)
    data = df.select(*sel)
    if na_action == "omit":
        data = omit_na(data, cols=[c for c in sel if c not in keep_cols])

    levels = model_matrix_levels(data.select(*parsed.predictors))
    exprs: list[Column] = [F.col(c) for c in keep_cols]
    x_cols: list[str] = []
    if parsed.intercept:
        exprs.append(F.lit(1.0).alias("intercept"))
        x_cols.append("intercept")
    for p in parsed.predictors:
        if p in levels:
            from sparkglm_spark.functions.encoding import dummy_columns

            exprs.extend(dummy_columns(p, levels[p]))
            x_cols.extend(f"{p}_{lvl}" for lvl in levels[p][1:])
        else:
            exprs.append(F.col(p).cast("double").alias(p))
            x_cols.append(p)
    exprs.append(F.col(parsed.target).cast("double").alias(parsed.target))
    for c in (weight_col, offset_col):
        if c:
            exprs.append(F.col(c).cast("double").alias(c))
    return data.select(*exprs), x_cols, parsed.target


def _group_arrays(pdf, names, target, weight_col=None, offset_col=None):
    """One group's design arrays from its Arrow batch, as `_design` laid
    them out: (X, y, ω, offset, ok) with ω all ones without `weight_col`
    and the offset all zeros without `offset_col`. `ok` is the grouped
    NULL verdict on ω and the offset — the boolean twin of
    `check_weight_domain` (ω finite, ≥ 0, Σω > 0) plus a finite offset."""
    X = pdf[names].to_numpy(dtype=np.float64)
    y = pdf[target].to_numpy(dtype=np.float64)
    n = len(y)
    w = pdf[weight_col].to_numpy(dtype=np.float64) if weight_col else np.ones(n)
    o = pdf[offset_col].to_numpy(dtype=np.float64) if offset_col else np.zeros(n)
    ok = bool(
        np.all(np.isfinite(w))
        and np.all(w >= 0.0)
        and float(w.sum()) > 0.0
        and np.all(np.isfinite(o))
    )
    return X, y, w, o, ok


def lm_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    na_action: str = "omit",
    weight_col: str | None = None,
) -> DataFrame:
    """One OLS fit per group — LM.fit scaled out to millions of segments
    with no per-group driver work at all.

    Stage 1 (the only data-proportional shuffle): `groupBy(group_cols)`
    over the k(k+1)/2+k+3 Gram sum expressions — partial map-side
    aggregation, so the wire carries O(G·k²) doubles (G = #groups),
    never rows.
    Stage 2: each group's k×k normal-equation solve runs DISTRIBUTED via
    an Arrow-batched `mapInPandas` over the G-row Gram table (numpy
    Cholesky per group), round-robin fanned out (`fanout_groups`) so
    AQE's byte-targeted coalescing cannot serialize the G Python solves
    — the second exchange moves only the G tiny Gram rows. The driver
    never sees data or models, so G is unbounded — the pattern the
    reference cannot express at all (its fit is one model per driver,
    LM.scala:241-254).

    Encoding levels are computed once on the WHOLE input, so every group
    shares the same design columns (a group missing a level just gets zero
    dummies there).

    Returns long format: group_cols…, term, estimate, n_rows, r2. Groups
    with n < k or a numerically singular Gram get NULL estimate/r2 (the
    pinv fallback is not used per-group: silent least-norm coefficients on
    a degenerate segment would be misleading output).
    """
    from pyspark.sql import types as T

    encoded, x_cols, target = _design(
        df, formula, group_cols, na_action=na_action, weight_col=weight_col
    )
    k = len(x_cols)
    w = F.col(weight_col) if weight_col else None

    def wgt(e: Column) -> Column:
        return e if w is None else e * w

    y = F.col(target)
    aggs = gram_sums([F.col(c) for c in x_cols], w, y, prefix="__")
    aggs.append(F.sum(wgt(y)).alias("__sy"))
    aggs.append(F.sum(wgt(y * y)).alias("__syy"))
    aggs.append(F.count(F.lit(1)).alias("__n"))
    aggs.append((F.sum(w) if w is not None else F.count(F.lit(1)).cast("double")).alias("__sw"))
    gram = encoded.groupBy(*group_cols).agg(*aggs)

    out_schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [
            T.StructField("term", T.StringType()),
            T.StructField("estimate", T.DoubleType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("r2", T.DoubleType()),
        ]
    )
    names = list(x_cols)
    gcols = list(group_cols)

    def solve_groups(batches):
        import pandas as pd

        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in gcols}
            cols.update(term=[], estimate=[], n_rows=[], r2=[])
            # (not itertuples: namedtuples positionally rename the
            # underscore-prefixed Gram columns)
            for r in pdf.to_dict("records"):
                n = int(r["__n"])
                xtx, xty = gram_unpack(r, k, prefix="__")
                coefs, r2_val = None, None
                if n >= k:
                    try:
                        # positive-definiteness probe only — LinAlgError
                        # on a singular group routes to NULL estimates
                        np.linalg.cholesky(xtx)
                        coefs = np.linalg.solve(xtx, xty)
                        sw = float(r["__sw"])
                        ybar = r["__sy"] / sw
                        sse = float(r["__syy"] - 2.0 * coefs @ xty + coefs @ xtx @ coefs)
                        tss = float(r["__syy"] - sw * ybar * ybar)
                        r2_val = 1.0 - sse / tss if tss > 0 else None
                    except np.linalg.LinAlgError:
                        coefs = None
                for i, name in enumerate(names):
                    for c in gcols:
                        cols[c].append(r[c])
                    cols["term"].append(name)
                    cols["estimate"].append(float(coefs[i]) if coefs is not None else None)
                    cols["n_rows"].append(n)
                    cols["r2"].append(r2_val)
            yield pd.DataFrame(cols)

    # the G-row Gram table is byte-small — round-robin fan-out keeps
    # the G Python solves CPU-parallel under AQE (see fanout_groups)
    from sparkglm_spark.plans.partitioning import fanout_groups

    return fanout_groups(gram, []).mapInPandas(solve_groups, out_schema)


def check_weight_domain(
    weight_col: str,
    n: int,
    n_w: int,
    min_w: float | None,
    sum_w: float | None,
) -> None:
    """THE weight-domain guard (code-review r11: five hand-duplicated
    variants had already drifted — this is now the single point of
    truth for `_prepare_gram`, `fold_gram_collect`, `glm_elastic_net`
    and `_glm_enet_pathwise`; `elastic_net_grouped` keeps its own
    boolean twin because its per-group policy is NULL, not raise).
    Raises ValueError on: null weights (they silently DROP rows from
    F.sum while still counting in n), negative weights (corrupt every
    moment; MLlib raises likewise) and Σw ≤ 0 (no statistical mass).
    The penalized GLM's ≤ 1-effective-row refusal (Σw − Σw²/Σw ≤ 0) is
    its start's verdict (`enet._enet_start`)."""
    import math

    if n_w < n:
        raise ValueError(
            f"weight column {weight_col!r} has {n - n_w} null values"
        )
    if sum_w is not None and math.isnan(float(sum_w)):
        # a single NaN weight poisons every sum while passing the
        # null/negative checks (Spark min orders NaN last, NaN <= 0 is
        # false) — code-review r11
        raise ValueError(f"weight column {weight_col!r} contains NaN")
    if min_w is not None and float(min_w) < 0.0:
        raise ValueError(
            f"weight column {weight_col!r} has negative values "
            f"(min = {float(min_w)})"
        )
    if sum_w is not None and float(sum_w) <= 0.0:
        raise ValueError(
            f"weights in {weight_col!r} sum to {float(sum_w)} — need Σw > 0"
        )


def fold_gram_collect(
    encoded: DataFrame,
    x_cols: list[str],
    target: str,
    n_folds: int,
    weight_col: str | None = None,
) -> dict[int, tuple]:
    """Per-fold Gram sufficient statistics in ONE groupBy('__fold')
    aggregation — the shared engine of `lm_cross_validate` and
    `elastic_net_cv` (the `_encode_formula` no-triplication rule).
    Returns {fold: (xtx, xty, sy, syy, n, col_sums, sw)}; col_sums
    (Σ[w·]xⱼ per fold) feeds the no-intercept standardization path of
    the elastic-net CV. With `weight_col` every sum is W-weighted and
    `sw` = Σw per fold (None unweighted); n stays the raw row count.
    Raises on fold ids outside [0, n_folds): a silently dropped fold
    would still ride every training set while never being validated —
    biased CV with no visible symptom. Raises on negative/null weights
    (same silent-corruption hazard as `_prepare_gram`'s guards)."""
    k = len(x_cols)
    xs = [F.col(c) for c in x_cols]
    y = F.col(target)
    w = F.col(weight_col) if weight_col else None

    def wgt(e: Column) -> Column:
        return e if w is None else e * w

    aggs = gram_sums(xs, w, y)
    aggs += [F.sum(wgt(xs[i])).alias(f"xs_{i}") for i in range(k)]
    aggs.append(F.sum(wgt(y)).alias("sy"))
    aggs.append(F.sum(wgt(y * y)).alias("syy"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    if w is not None:
        aggs.append(F.sum(w).alias("sw"))
        aggs.append(F.min(w).alias("minw"))
        aggs.append(F.count(w).alias("nw"))
    rows = collect_small(encoded.groupBy("__fold").agg(*aggs))

    if w is not None and rows:
        # Σw ≤ 0 over ALL rows would silently degenerate EVERY training
        # set (the per-fold sw_t <= 0 skip) into an empty CV frame —
        # match the single-fit elastic_net's loud refusal
        check_weight_domain(
            weight_col,
            n=sum(int(r["n"]) for r in rows),
            n_w=sum(int(r["nw"]) for r in rows),
            min_w=min(
                (float(r["minw"]) for r in rows if r["minw"] is not None),
                default=None,
            ),
            sum_w=sum(float(r["sw"]) for r in rows if r["sw"] is not None),
        )

    def unpack(r):
        xtx, xty = gram_unpack(r, k)
        col_sums = np.array([r[f"xs_{i}"] for i in range(k)])
        sw = float(r["sw"]) if w is not None else None
        return (
            xtx, xty, float(r["sy"]), float(r["syy"]), int(r["n"]),
            col_sums, sw,
        )

    folds = {int(r["__fold"]): unpack(r) for r in rows}
    bad = sorted(f for f in folds if not 0 <= f < n_folds)
    if bad:
        raise ValueError(
            f"fold ids {bad} are outside [0, {n_folds}) — fix fold_expr "
            "or n_folds (a dropped fold would bias every training set)"
        )
    return folds


def lm_cross_validate(
    df: DataFrame,
    formula: str,
    fold_expr: Column | str,
    n_folds: int = 5,
    na_action: str = "omit",
) -> DataFrame:
    """K-fold cross-validation for OLS in ONE pass over the data.

    Gram sufficient statistics are additive, so a single
    `groupBy(fold)` aggregation yields every fold's (X'X, X'y, y'y, …);
    fold i's TRAINING statistics are (total − fold_i), its model solves on
    the driver (k×k, n_folds of them), and its HELD-OUT error evaluates
    from the same fold statistics:
        SSE_i = (y'y)_i − 2β_i'(X'y)_i + β_i'(X'X)_i β_i.
    No second scan, no per-fold jobs, no prediction materialization — the
    whole CV costs exactly one aggregation job at any data size (the shape
    a naive per-fold refit-and-score loop cannot afford at 100 TB).

    `fold_expr`: integer column/expression in [0, n_folds) assigning rows
    to folds (e.g. `F.pmod(F.xxhash64("id"), F.lit(5))` for a
    partition-invariant hash fold, or a modulo on a key for an
    SQL-reproducible one).

    Returns one row per fold: fold, n_train, n_val, rmse_train, rmse_val,
    r2_val (NULL r2 when a fold's validation variance is zero).
    """
    keep: list[str] = []
    if isinstance(fold_expr, str):
        fold_expr = F.col(fold_expr)
    encoded, x_cols, target = _design(
        df.withColumn("__fold", fold_expr.cast("int")),
        formula,
        ["__fold"],
        na_action=na_action,
    )
    folds = fold_gram_collect(encoded, x_cols, target, n_folds)
    tot_xtx = sum(v[0] for v in folds.values())
    tot_xty = sum(v[1] for v in folds.values())
    tot_sy = sum(v[2] for v in folds.values())
    tot_syy = sum(v[3] for v in folds.values())
    tot_n = sum(v[4] for v in folds.values())
    k = len(x_cols)

    out = []
    for f in range(n_folds):
        if f not in folds:
            continue
        xtx_v, xty_v, sy_v, syy_v, n_v, _xs_v, _sw_v = folds[f]
        xtx_t, xty_t = tot_xtx - xtx_v, tot_xty - xty_v
        syy_t, n_t = tot_syy - syy_v, tot_n - n_v
        if n_t < k:
            continue
        beta, _ = solve_normal(xtx_t, xty_t)
        sse_t = float(syy_t - 2.0 * beta @ xty_t + beta @ xtx_t @ beta)
        sse_v = float(syy_v - 2.0 * beta @ xty_v + beta @ xtx_v @ beta)
        ybar_v = sy_v / n_v
        tss_v = syy_v - n_v * ybar_v * ybar_v
        out.append(
            (
                f,
                n_t,
                n_v,
                float(np.sqrt(max(sse_t, 0.0) / n_t)),
                float(np.sqrt(max(sse_v, 0.0) / n_v)),
                float(1.0 - sse_v / tss_v) if tss_v > 0 else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "fold int, n_train bigint, n_val bigint, "
        "rmse_train double, rmse_val double, r2_val double",
    )


def robust_standard_errors(
    df: DataFrame, model: LM, kind: str = "HC1"
) -> np.ndarray:
    """Heteroskedasticity-consistent (sandwich) standard errors for a
    fitted OLS model over its training data — the Eicker-Huber-White
    estimator family (public convention set: MacKinnon & White 1985):

      V = (X'X)⁻¹ · Σ uᵢ·xᵢxᵢ' · (X'X)⁻¹
      HC0: u = e²            HC1: u = e² · n/(n−k)
      HC2: u = e²/(1−hᵢ)     HC3: u = e²/(1−hᵢ)²   (hᵢ = xᵢ'(X'X)⁻¹xᵢ)

    The classical stdErr (LM.std_err) assumes constant error variance;
    with heteroskedastic errors it is biased in either direction, and
    HC1 is the regression-software default remedy (R sandwich / Stata
    `robust`).

    Plan: features re-derive from RAW columns exactly like `LM.predict`
    (dummies/intercept/zero-backfill as expressions), the residual is the
    same codegen linear combination, and the meat's k(k+1)/2 weighted
    sums ride ONE aggregation job together with X'X — the `gram_aggregate`
    shape, driver math k×k. HC2/HC3 need the leverage hᵢ, whose
    (X'X)⁻¹ quadratic form must come from a FIRST pass — they cost two
    aggregation jobs, HC0/HC1 one. Unweighted OLS only (WLS sandwiches
    need the W-weighted meat — not implemented; ridge bread is not
    (X'X)⁻¹) — enforced via the model's fit-flavor flags."""
    kinds = ("HC0", "HC1", "HC2", "HC3")
    if kind not in kinds:
        raise ValueError(f"kind must be one of {kinds}")
    if model.weighted or model.l2_penalty > 0.0:
        raise ValueError(
            "robust_standard_errors supports unweighted, unpenalized OLS "
            "fits only (the sandwich bread must be (X'X)⁻¹); this model "
            f"was fit with weighted={model.weighted}, l2={model.l2_penalty}"
        )
    k = len(model.xnames)
    n = model.nrow
    feats = scoring_feature_exprs(model.xnames, model.levels, df.columns)
    fcols = [f.alias(f"__f{i}") for i, f in enumerate(feats)]
    base = df.select(F.col(model.yname).alias("__y"), *fcols)
    pred = F.lit(float(model.coefs[0])) * F.col("__f0")
    for i in range(1, k):
        pred = pred + F.lit(float(model.coefs[i])) * F.col(f"__f{i}")
    e2 = (F.col("__y") - pred) * (F.col("__y") - pred)

    fs = [F.col(f"__f{i}") for i in range(k)]
    if kind in ("HC2", "HC3"):
        # pass 1: X'X alone -> (X'X)^-1 enters the leverage expression
        row = collect_small(base.agg(*gram_sums(fs)))[0]
        xtxi = np.linalg.inv(gram_unpack(row, k, with_xy=False)[0])
        h = F.lit(0.0)
        for i in range(k):
            for j in range(k):
                h = h + F.lit(float(xtxi[i, j])) * F.col(f"__f{i}") * F.col(f"__f{j}")
        u = e2 / (F.lit(1.0) - h)
        if kind == "HC3":
            u = u / (F.lit(1.0) - h)
        row = collect_small(base.agg(*gram_sums(fs, u, prefix="m")))[0]
    else:
        row = collect_small(
            base.agg(*gram_sums(fs), *gram_sums(fs, e2, prefix="m"))
        )[0]
        xtxi = np.linalg.inv(gram_unpack(row, k, with_xy=False)[0])
    meat = gram_unpack(row, k, prefix="m", with_xy=False)[0]
    if kind == "HC1":
        meat *= n / (n - k)
    v = xtxi @ meat @ xtxi
    return np.sqrt(np.diag(v))


def influence_diagnostics(df: DataFrame, model: LM) -> DataFrame:
    """Per-row regression influence diagnostics for a fitted OLS model over
    (any frame with) its raw training columns — the classical leave-one-out
    measures (public convention set: Belsley, Kuh & Welsch 1980; R's
    `influence.measures`):

      leverage        hᵢ  = xᵢ'(X'X)⁻¹xᵢ            (Σhᵢ = k on the
                                                      training data)
      std_resid       rᵢ  = eᵢ / (σ̂·√(1−hᵢ))        (internally studentized)
      student_resid   tᵢ  = rᵢ·√((n−k−1)/(n−k−rᵢ²)) (externally studentized —
                                                      the exact leave-one-out
                                                      identity, no refits)
      cooks_d         Dᵢ  = rᵢ²·hᵢ / (k·(1−hᵢ))
      dffits              = tᵢ·√(hᵢ/(1−hᵢ))

    Reference surface: the predict-as-projection contract (LM.scala:29-61);
    the reference has no diagnostics — this extends M3/M4 the way R's
    `influence.lm` extends `lm`.

    Plan: (X'X)⁻¹ is k² DRIVER literals (cov_params/σ̂² — the quadratic-form
    convention `LM.predict(interval=...)` set); features re-derive from RAW
    columns exactly like predict (dummies/intercept/zero-backfill inline).
    Everything is ONE whole-stage-codegen projection over the scan — no
    join, no aggregation, no exchange (plan-asserted). At 100 TB this scores
    at scan speed; nothing is collected.

    Appends (prediction, residual, leverage, std_resid, student_resid,
    cooks_d, dffits) to the input rows."""
    if model.weighted or model.l2_penalty > 0.0:
        raise ValueError(
            "influence_diagnostics supports unweighted, unpenalized OLS "
            "only: the hat diagonal hᵢ = xᵢ'(X'X)⁻¹xᵢ and the σ̂-scaled "
            "residuals assume cov_params/σ̂² = (X'X)⁻¹, which a WLS or "
            f"ridge fit violates (weighted={model.weighted}, "
            f"l2={model.l2_penalty})"
        )
    if model.cov_params is None:
        raise ValueError(
            "this model carries no cov_params (older persisted file?) — "
            "refit to enable influence diagnostics"
        )
    if not model.sigma > 0.0:
        raise ValueError("influence diagnostics need sigma > 0 (non-degenerate fit)")
    k = len(model.xnames)
    n = model.nrow
    if n <= k + 1:
        raise ValueError(f"need n > k+1 rows (n={n}, k={k})")
    xtxi = model.cov_params / (model.sigma**2)
    feats = scoring_feature_exprs(model.xnames, model.levels, df.columns)
    pred = F.lit(float(model.coefs[0])) * feats[0]
    for f_expr, b in zip(feats[1:], model.coefs[1:]):
        pred = pred + F.lit(float(b)) * f_expr
    h = F.lit(0.0)
    for i in range(k):
        for j in range(k):
            h = h + F.lit(float(xtxi[i, j])) * feats[i] * feats[j]
    out = df.withColumn("prediction", pred)
    out = out.withColumn(
        "residual", F.col(model.yname).cast("double") - F.col("prediction")
    )
    out = out.withColumn("leverage", h)
    r = F.col("residual") / (
        F.lit(float(model.sigma)) * F.sqrt(F.lit(1.0) - F.col("leverage"))
    )
    out = out.withColumn("std_resid", r)
    t = F.col("std_resid") * F.sqrt(
        F.lit(float(n - k - 1))
        / (F.lit(float(n - k)) - F.col("std_resid") * F.col("std_resid"))
    )
    out = out.withColumn("student_resid", t)
    out = out.withColumn(
        "cooks_d",
        F.col("std_resid")
        * F.col("std_resid")
        * F.col("leverage")
        / (F.lit(float(k)) * (F.lit(1.0) - F.col("leverage"))),
    )
    return out.withColumn(
        "dffits",
        F.col("student_resid")
        * F.sqrt(F.col("leverage") / (F.lit(1.0) - F.col("leverage"))),
    )


def anova_lm(reduced: LM, full: LM) -> dict:
    """Nested-model F-test (the `anova(lm1, lm2)` surface R puts next to
    the reference's summary tables):

      F = ((SSE_r − SSE_f)/(df_r − df_f)) / (SSE_f/df_f),
      p = P(F_{df_r−df_f, df_f} > F)

    Pure driver math — both models already carry SSE as σ̂²·(n−k); no
    Spark job runs. Models must be fit on the same response and the same
    rows (checked by yname/nrow; column-subset nesting is checked by
    name)."""
    from sparkglm_spark.functions.special import f_sf

    if reduced.yname != full.yname:
        raise ValueError(
            f"models fit different responses: {reduced.yname!r} vs {full.yname!r}"
        )
    if reduced.nrow != full.nrow:
        raise ValueError(
            f"models fit different row sets: n={reduced.nrow} vs {full.nrow}"
        )
    if not set(reduced.xnames) < set(full.xnames):
        raise ValueError(
            "reduced model's columns must be a strict subset of the full "
            f"model's: {reduced.xnames} vs {full.xnames}"
        )
    n = full.nrow
    df_r = n - len(reduced.xnames)
    df_f = n - len(full.xnames)
    sse_r = reduced.sigma**2 * df_r
    sse_f = full.sigma**2 * df_f
    df_num = df_r - df_f
    f_stat = ((sse_r - sse_f) / df_num) / (sse_f / df_f)
    return {
        "sse_reduced": sse_r,
        "sse_full": sse_f,
        "df_num": float(df_num),
        "df_den": float(df_f),
        "f_stat": float(f_stat),
        "p_value": f_sf(float(f_stat), float(df_num), float(df_f)),
    }


@dataclass
class HuberLM:
    """Huber M-estimated robust regression fit (`huber_lm`). Carries only
    what the robust fit defines: coefficients, the robust scale, and the
    iteration trace — no R²/F (they are OLS constructs) and no classical
    SEs (use `robust_standard_errors` on an OLS fit, or bootstrap, for
    inference)."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    scale: float
    c: float
    iter: int
    nrow: int
    converged: bool
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        """Same keyed scoring projection as LM.predict (raw columns in,
        rows untouched, one codegen pass)."""
        expr = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        return df.withColumn(output_col, expr)


@dataclass
class QuantileLM:
    """Fitted quantile regression (`quantile_lm`). Carries the fitted
    quantile level, coefficients and the iteration trace; no R²/SEs (they
    are OLS constructs — bootstrap for quantile-regression inference)."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    q: float
    iter: int
    nrow: int
    converged: bool
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        """Same keyed scoring projection as LM.predict (raw columns in,
        rows untouched, one codegen pass)."""
        expr = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        return df.withColumn(output_col, expr)


def _reweighted_ls(step_at, beta, exact, tol, max_iter):
    """The robust reweighted-least-squares loop of `huber_lm`,
    `quantile_lm` and their grouped twins: `step_at(β) -> β′` is one
    reweighted solve, or None to stop with the current β (Huber's zero
    scale). Stops once max|Δβ| ≤ tol·max(1, max|β|), or after exactly
    `exact` steps with no test (reported converged). Returns
    (β, steps, converged)."""
    n, converged = 0, False
    for _ in range(exact if exact is not None else max_iter):
        new = step_at(beta)
        if new is None:
            break
        step = float(np.max(np.abs(new - beta)))
        beta = np.asarray(new, dtype=np.float64)
        n += 1
        if exact is None and step <= tol * max(1.0, float(np.max(np.abs(beta)))):
            converged = True
            break
    return beta, n, converged or exact is not None


def _robust_frame(df, formula, na_action, weight_col):
    """The robust fitters' persisted working frame (response, design and
    weight columns, fanned out once): (work, x_cols, target, levels)."""
    from sparkglm_spark.plans.partitioning import ensure_parallel

    encoded, x_cols, target, levels = _encode_formula(
        df, formula, na_action,
        extra_cols=[weight_col] if weight_col else None,
    )
    keep = [target, *x_cols] + ([weight_col] if weight_col else [])
    return ensure_parallel(encoded.select(*keep)).persist(), x_cols, target, levels


def _wls_step(work: DataFrame, x_cols: list[str], target: str, w: Column):
    """One Spark reweighted solve: the weighted Gram under the weight
    Column `w`, then the normal equations."""
    g = gram_aggregate(
        work.withColumn("__w", w), x_cols, y_col=target, weight_col="__w"
    )
    return solve_normal(g.xtx, g.xty)[0]


def _np_wls(X, y, w):
    """The numpy twin of `_wls_step` (a singular Gram raises)."""
    Xw = X * w[:, None]
    return np.linalg.solve(X.T @ Xw, Xw.T @ y)


def quantile_lm(
    df: DataFrame,
    formula: str,
    q: float = 0.5,
    max_iter: int = 100,
    tol: float = 1e-6,
    delta: float | None = None,
    exact_iterations: int | None = None,
    na_action: str = "omit",
    weight_col: str | None = None,
) -> QuantileLM:
    """Linear quantile regression by iteratively reweighted least squares
    (the smoothed-check-loss IRLS approximation of Koenker & Bassett
    1978's estimator — each iteration solves a WLS with

        w(e) = |q − 1(e < 0)| / max(|e|, δ)

    which is exactly the majorize-minimize step for the check loss
    ρ_q(e) = e·(q − 1(e<0)) with an |e| ≥ δ smoothing floor). Median
    regression (q = 0.5) is the LAD special case. Use when the
    CONDITIONAL QUANTILE is the target — p95 latency vs load, median
    price vs size under heteroskedastic noise — where OLS's conditional
    mean is the wrong summary.

    δ defaults to 1e-6·mean|OLS residual| (one scale-probe agg); it bounds the
    weights (the check loss is not differentiable at 0) and sets the
    effective convergence resolution — estimates are exact to O(δ), not
    simplex-exact (the classic interior-point/simplex LP solvers are
    driver-bound; this IRLS keeps every iteration the same one-job
    weighted-Gram aggregation WLS uses, so it scales like `huber_lm`).

    Plan: OLS start, then per iteration ONE weighted-Gram aggregation with
    the weight a pure codegen expression of the residual (no median pass —
    cheaper per iteration than Huber). `exact_iterations=N` runs exactly N
    reweighted solves (the deterministic trajectory a SQL oracle replays).
    Convergence: max|Δβ| ≤ tol·max(1, max|β|) — tol defaults to 1e-6,
    matched to the O(δ) resolution of the smoothed estimator (the IRLS
    tail near the check-loss kink is slow geometric; a tighter tol buys
    no real accuracy, only iterations).

    Sanity property (tested): the fraction of training residuals below 0
    converges to ≈ q.

    `weight_col` (r12): per-row CASE weights ω ≥ 0 on the check loss
    (minimize Σ ω·ρ_q(e)) — ω folds into the WLS start, the δ scale
    probe (ω-weighted mean |e|) and every MM re-weighting (the IRLS
    weight becomes ω·|q−1(e<0)|/max(|e|,δ)), so an integer weight is
    exactly row replication (tested). Under the default
    `na_action='omit'` a null/NaN weight drops its ROW (Spark's
    na.drop treats NaN as missing — review r12); negative weights and
    Σω ≤ 0 — and null/NaN under `na_action='keep'` — raise via the
    WLS start's shared guard."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q!r}")
    work, x_cols, target, levels = _robust_frame(
        df, formula, na_action, weight_col
    )
    y = F.col(target).cast("double")
    wr = F.col(weight_col).cast("double") if weight_col else None
    try:
        start = LM.fit(work, y_col=target, x_cols=x_cols, weight_col=weight_col)
        beta = np.asarray(start.coefs, dtype=np.float64)
        n = start.nrow
        if delta is None:
            # scale probe: (ω-weighted) mean |OLS residual| — one extra
            # aggregation, sets the smoothing floor relative to the noise
            abs_e0 = F.abs(y - linear_combination(x_cols, beta))
            if wr is not None:
                s_e = F.sum(wr * abs_e0) / F.sum(wr)
            else:
                s_e = F.avg(abs_e0)
            srow = collect_small(work.agg(s_e.alias("s")))[0]
            delta = max(1e-6 * float(srow["s"]), 1e-12)
        if not delta > 0:
            raise ValueError(f"delta must be > 0, got {delta!r}")

        def step_at(b):
            resid = y - linear_combination(x_cols, b)
            asym = F.when(resid < 0, F.lit(1.0 - q)).otherwise(F.lit(q))
            w = asym / F.greatest(F.abs(resid), F.lit(float(delta)))
            return _wls_step(work, x_cols, target, w if wr is None else wr * w)

        beta, n_iter, converged = _reweighted_ls(
            step_at, beta, exact_iterations, tol, max_iter
        )
    finally:
        work.unpersist()
    return QuantileLM(
        xnames=list(x_cols),
        yname=target,
        coefs=beta,
        q=float(q),
        iter=n_iter,
        nrow=n,
        converged=converged,
        levels=levels,
        call=f"quantile_lm({formula}, q={q})",
    )


def huber_lm(
    df: DataFrame,
    formula: str,
    c: float = 1.345,
    max_iter: int = 30,
    tol: float = 1e-8,
    exact_iterations: int | None = None,
    na_action: str = "omit",
    median_mode: str = "auto",
    accuracy: int = 10000,
    weight_col: str | None = None,
) -> HuberLM:
    """Huber M-estimator robust regression via IRLS (public convention:
    Huber 1964; R MASS `rlm(psi = psi.huber)`), resistant to outliers in
    the RESPONSE that wreck OLS:

        w(e) = 1                if |e| ≤ c·s
             = c·s/|e|          otherwise        (c = 1.345 ⇒ 95%
                                                  efficiency at the normal)

    with the robust scale s re-estimated each iteration as
    median(|e|)/0.6745 (the uncentered MAD — the regression residual
    already absorbs location; documented difference from the centered
    MAD some texts use). Starting point is the OLS fit.

    Plan: each iteration is TWO jobs over the encoded frame — a median
    of |e| and the SAME weighted-Gram aggregation WLS uses, with the
    weight a pure codegen expression of the residual (no intermediate
    materialization; the frame is persisted once). Driver math stays
    k×k. `exact_iterations=N` runs exactly N reweighted solves after the
    OLS start (no convergence test) — the deterministic trajectory the
    SQL oracle replays.

    `median_mode` governs the per-iteration median of |e|:
      "exact"  — Spark's exact `percentile` aggregate. Its buffer holds
                 every distinct |e| value, which is memory-unbounded over
                 a continuous residual column at 100 TB scale.
      "approx" — the `approx_percentile` t-digest sketch (bounded state,
                 rank error ≤ 1/`accuracy`). Huber weights are robust to
                 a small relative median error by construction (ψ is
                 continuous at c·s), so the fit is insensitive to the
                 sketch error.
      "auto"   — (default) exact below 5M rows, approx at or above —
                 small fits (and the SQL oracle replay) stay bit-exact
                 while large fits never hit the unbounded buffer.

    Convergence: max|Δβ| ≤ tol·max(1, max|β|). A zero robust scale
    (≥ half the rows fit exactly) stops with the current β.

    `weight_col` (r12): per-row FREQUENCY weights — POSITIVE INTEGERS
    (validated upfront, one cheap aggregation): ω folds into the WLS
    start and every IRLS Gram (weight ω·ψ(e)/e), and the robust scale
    becomes the frequency-weighted median of |e| via Spark's exact
    `percentile(…, frequency=ω)`, whose interpolation semantics ARE
    row replication — so an integer weight is exactly replication for
    the whole trajectory (tested). Integrality is required because a
    general-ω weighted quantile has no replication-pinnable definition
    (several interpolation conventions exist); for reliability/survey
    weights use `quantile_lm(weight_col=)` (median regression — no
    quantile of residuals needed) or `lm(weight_col=)`. The
    `approx_percentile` sketch has no frequency argument, so
    `median_mode='approx'` with `weight_col` raises and 'auto' stays
    exact at any size."""
    if c <= 0:
        raise ValueError(f"c must be > 0, got {c!r}")
    if median_mode not in ("auto", "exact", "approx"):
        raise ValueError(
            f"median_mode must be 'auto', 'exact' or 'approx', got {median_mode!r}"
        )
    if accuracy < 1:
        raise ValueError("accuracy must be >= 1")
    if weight_col and median_mode == "approx":
        raise ValueError(
            "median_mode='approx' does not support weight_col (the "
            "t-digest sketch has no frequency argument) — use 'exact'"
        )
    work, x_cols, target, levels = _robust_frame(
        df, formula, na_action, weight_col
    )
    y = F.col(target).cast("double")
    wr = F.col(weight_col).cast("double") if weight_col else None
    try:
        if wr is not None:
            # frequency-weight domain: positive integers (one aggregation;
            # null/NaN/negative/Σω ≤ 0 raise via the WLS start's guard)
            vrow = collect_small(work.agg(
                F.sum(
                    ((wr != F.floor(wr)) | (wr < 1.0)).cast("long")
                ).alias("bad")
            ))[0]
            if vrow["bad"]:
                raise ValueError(
                    f"huber_lm weight_col {weight_col!r} must hold positive "
                    f"INTEGER frequency weights ({int(vrow['bad'])} rows "
                    "violate) — the robust scale is a frequency-weighted "
                    "median; see the docstring for alternatives"
                )
        start = LM.fit(work, y_col=target, x_cols=x_cols, weight_col=weight_col)
        beta = np.asarray(start.coefs, dtype=np.float64)
        n = start.nrow
        use_approx = wr is None and (
            median_mode == "approx"
            or (median_mode == "auto" and n >= 5_000_000)
        )
        scale = float("nan")

        def step_at(b):
            nonlocal scale
            resid = y - linear_combination(x_cols, b)
            abs_e = F.abs(resid)
            if use_approx:
                med = F.percentile_approx(abs_e, F.lit(0.5), F.lit(int(accuracy)))
            elif wr is not None:
                med = F.percentile(abs_e, F.lit(0.5), wr.cast("bigint"))
            else:
                med = F.percentile(abs_e, F.lit(0.5))
            srow = collect_small(work.agg(med.alias("mad")))[0]
            scale = float(srow["mad"]) / 0.6745
            if not scale > 0.0:
                return None
            cs = c * scale
            w = F.when(F.abs(resid) <= cs, 1.0).otherwise(F.lit(cs) / F.abs(resid))
            return _wls_step(work, x_cols, target, w if wr is None else wr * w)

        beta, n_iter, converged = _reweighted_ls(
            step_at, beta, exact_iterations, tol, max_iter
        )
    finally:
        work.unpersist()
    return HuberLM(
        xnames=list(x_cols),
        yname=target,
        coefs=beta,
        scale=scale,
        c=float(c),
        iter=n_iter,
        nrow=n,
        converged=converged,
        levels=levels,
        call=f"huber_lm({formula}, c={c})",
    )


def _irls_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    na_action: str,
    extra_field: str,
    fit_one,
    weight_col: str | None = None,
):
    """Shared per-segment IRLS scaffold for `huber_lm_grouped` /
    `quantile_lm_grouped` — the `coxph_grouped` pattern: encode ONCE with
    GLOBAL levels (every segment shares the design columns), ONE shuffle
    on the group key, then each group's full IRLS runs as a numpy twin
    inside its Arrow batch (applyInPandas). The twin replays the
    distributed fitter's trajectory — same OLS start, same weight
    formula, same convergence test — so a group's result matches the
    whole-frame fitter run on that slice; the driver never sees data or
    models, so the number of segments is unbounded.

    Degenerate groups (n < k, non-finite values, singular Gram — and
    with `weight_col`: negative ω or Σω ≤ 0, plus NaN ω under
    `na_action='keep'`; the grouped NULL policy) emit NULL estimates
    rather than garbage (the `lm_grouped` convention). `fit_one(X, y, w) -> (beta|None, extras: dict,
    n_iter, converged)`; `w` is all-ones when no weight column."""
    from sparkglm_spark.plans.partitioning import apply_grouped

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    encoded, x_cols, target = _design(
        df, formula, group_cols, na_action, weight_col=weight_col
    )
    k = len(x_cols)
    names = list(x_cols)

    def fit_group(pdf):
        X, yv, wv, _o, ok = _group_arrays(pdf, names, target, weight_col)
        n = len(yv)
        beta, extras, n_iter, conv = None, {}, 0, False
        if ok and n >= k and np.all(np.isfinite(X)) and np.all(np.isfinite(yv)):
            try:
                beta, extras, n_iter, conv = fit_one(X, yv, wv)
            except np.linalg.LinAlgError:
                beta = None
        return [
            (
                name, float(beta[i]) if beta is not None else None,
                extras.get(extra_field), n, n_iter, bool(conv),
            )
            for i, name in enumerate(names)
        ]

    return apply_grouped(
        encoded, df.schema, group_cols, [target, *x_cols, weight_col],
        f"term string, estimate double, {extra_field} double, "
        "n_rows bigint, iterations int, converged boolean",
        fit_group,
    )


def _np_ols_start(X, y, w, weighted: bool):
    """The grouped robust fitters' (weighted) OLS start; a singular
    design raises (the Cholesky probe routes it to the NULL row)."""
    Xw0 = X * w[:, None] if weighted else X
    xtx = X.T @ Xw0
    np.linalg.cholesky(xtx)
    return np.linalg.solve(xtx, Xw0.T @ y)


def _weighted_median_expanded(values: np.ndarray, freqs: np.ndarray) -> float:
    """Median of `values` expanded by integer `freqs` WITHOUT
    materializing the expansion — the exact interpolation semantics of
    Spark's `percentile(col, 0.5, frequency)` (index p·(N−1), linear
    between the straddling order statistics), so the grouped twin
    matches the distributed `huber_lm(weight_col=)` bit-for-bit."""
    order = np.argsort(values, kind="mergesort")
    v = values[order]
    cum = np.cumsum(freqs[order].astype(np.int64))
    pos = 0.5 * (int(cum[-1]) - 1)
    lo = int(np.floor(pos))
    hi = int(np.ceil(pos))
    vlo = float(v[np.searchsorted(cum, lo, side="right")])
    vhi = float(v[np.searchsorted(cum, hi, side="right")])
    return vlo + (pos - lo) * (vhi - vlo)


def huber_lm_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    c: float = 1.345,
    max_iter: int = 30,
    tol: float = 1e-8,
    exact_iterations: int | None = None,
    na_action: str = "omit",
    weight_col: str | None = None,
) -> DataFrame:
    """One `huber_lm` per segment — robust regression scaled out to
    unbounded group counts via the `_irls_grouped` numpy twin (the
    `coxph_grouped` pattern). Each group replays the distributed
    fitter's exact trajectory: OLS start, per iteration the uncentered
    MAD scale median(|e|)/0.6745 (numpy's linear-interpolation median =
    Spark's exact `percentile(0.5)`), Huber weights, weighted normal
    equations, the same max|Δβ| ≤ tol·max(1, max|β|) stop.
    `exact_iterations=N` pins N reweighted solves (SQL-replayable).

    Returns long format: group_cols…, term, estimate, scale, n_rows,
    iterations, converged. Degenerate groups (n < k, non-finite values,
    singular Gram) emit NULL estimates. A zero robust scale (≥ half the
    group's rows fit exactly) stops with the CURRENT β — the same
    behavior as the distributed `huber_lm`, not a NULL row.

    `weight_col` (r12): the `huber_lm(weight_col=)` FREQUENCY-weight
    convention per group — positive-integer ω (a violating group emits
    NULLs, the grouped policy, where the single fit raises), ω-weighted
    OLS start and Gram, frequency-weighted median of |e| with Spark's
    percentile interpolation semantics (`_weighted_median_expanded`),
    so per-slice results match the distributed fitter and integer ω is
    exactly replication."""
    if c <= 0:
        raise ValueError(f"c must be > 0, got {c!r}")
    weighted = weight_col is not None

    def fit_one(X, yv, wv):
        if weighted and not bool(np.all((wv >= 1.0) & (wv == np.floor(wv)))):
            return None, {}, 0, False  # non-frequency weights: NULL group
        scale = float("nan")

        def step_at(b):
            nonlocal scale
            ae = np.abs(yv - X @ b)
            if weighted:
                scale = _weighted_median_expanded(ae, wv) / 0.6745
            else:
                scale = float(np.median(ae)) / 0.6745
            if not scale > 0.0:
                return None
            cs = c * scale
            w = np.ones(len(ae))
            mask = ae > cs
            w[mask] = cs / ae[mask]
            return _np_wls(X, yv, wv * w if weighted else w)

        beta, n_iter, conv = _reweighted_ls(
            step_at, _np_ols_start(X, yv, wv, weighted), exact_iterations,
            tol, max_iter,
        )
        return beta, {"scale": scale if scale == scale else None}, n_iter, conv

    return _irls_grouped(
        df, formula, group_cols, na_action,
        "scale", fit_one,
        weight_col=weight_col,
    )


def quantile_lm_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    q: float = 0.5,
    max_iter: int = 100,
    tol: float = 1e-6,
    delta: float | None = None,
    exact_iterations: int | None = None,
    na_action: str = "omit",
    weight_col: str | None = None,
) -> DataFrame:
    """One `quantile_lm` per segment (per-segment conditional quantiles —
    p95 latency per service, median price per region) via the
    `_irls_grouped` numpy twin. Each group replays the distributed
    fitter's trajectory: OLS start, per-group smoothing floor
    δ = max(1e-6·mean|OLS residual|, 1e-12) (unless `delta` is given —
    then every group shares it, the SQL-replayable mode), the smoothed
    check-loss weights |q − 1(e<0)| / max(|e|, δ), the same convergence
    test. Returns long format: group_cols…, term, estimate, delta,
    n_rows, iterations, converged; degenerate groups emit NULLs.

    `weight_col` (r12): the `quantile_lm(weight_col=)` case-weight
    convention per group — ω ≥ 0 into the WLS start, the ω-weighted
    mean-|e| δ probe and every MM re-weighting; negative ω or Σω ≤ 0
    (and NaN ω under `na_action='keep'` — under 'omit' those rows
    drop first) degenerate the group to NULLs (the grouped policy)."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q!r}")
    if delta is not None and not delta > 0:
        raise ValueError(f"delta must be > 0, got {delta!r}")
    weighted = weight_col is not None

    def fit_one(X, yv, wv):
        beta = _np_ols_start(X, yv, wv, weighted)
        if delta is None:
            ae0 = np.abs(yv - X @ beta)
            if weighted:
                d = max(1e-6 * float((wv * ae0).sum() / wv.sum()), 1e-12)
            else:
                d = max(1e-6 * float(np.mean(ae0)), 1e-12)
        else:
            d = float(delta)

        def step_at(b):
            e = yv - X @ b
            w = np.where(e < 0, 1.0 - q, q) / np.maximum(np.abs(e), d)
            return _np_wls(X, yv, wv * w if weighted else w)

        beta, n_iter, conv = _reweighted_ls(
            step_at, beta, exact_iterations, tol, max_iter
        )
        return beta, {"delta": d}, n_iter, conv

    return _irls_grouped(
        df, formula, group_cols, na_action,
        "delta", fit_one,
        weight_col=weight_col,
    )


from sparkglm_spark.plans.caching import CacheRegistry

_GP_CACHES = CacheRegistry()


@_GP_CACHES.scoped
def grouped_predict(
    df: DataFrame,
    fits: DataFrame,
    formula: str,
    group_cols: list[str],
    output_col: str = "prediction",
    link: str | None = None,
) -> DataFrame:
    """Score every row with ITS OWN segment's coefficients — the serving
    half of the grouped-fitter family (`lm_grouped`, `glm_grouped`,
    `huber_lm_grouped`, `quantile_lm_grouped` all emit the long
    (group…, term, estimate) format this consumes). Appends `output_col`
    to the input rows.

    Plan: the fits table pivots to one wide coefficient row per group
    (one narrow O(G·k)→O(G) aggregation — `first(when(term=t))`
    map-side combines), joins onto the scoring frame on the group key
    (AQE broadcasts when G is small; at millions of segments it is a
    plain shuffle join on the key the fact table often already groups
    by), and the dot product is a codegen projection — no Python, one
    pass over the fact rows. Term columns rebuild from the TERM NAMES:
    a term matching a df column scores as that column; `pred_level`
    dummy terms score as `(pred == 'level')` — no level table needed
    (the dropped-first level is implicit: all its dummies are 0).

    NULL semantics: a degenerate group's NULL estimates, and rows whose
    group has NO fit row, score NULL (never a silent zero). `link` maps
    the linear predictor through the GLM mean function ('logit', 'log',
    … — anything in `functions.links.LINKS`) for `glm_grouped` fits;
    None/'identity' returns the linear predictor."""
    from sparkglm_spark.functions.links import get_link

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    parsed = expand_dot(
        parse_formula(formula), [c for c in df.columns if c not in group_cols]
    )
    # the fits frame feeds TWO consumers — the terms probe (a job, now)
    # and the wide pivot (lazy, in the returned plan). A grouped fit is
    # expensive (per-group IRLS); persist it so the pivot reuses the
    # materialized result instead of re-running every segment's fit
    # (invocation-scoped registry — the repo's persist-inside-lazy-return
    # convention, see plans/caching.py)
    fits = _GP_CACHES.persist(fits)
    # distinct terms: model metadata, k rows — not data
    terms = sorted(r["term"] for r in fits.select("term").distinct().collect())
    if not terms:
        raise ValueError(
            "grouped_predict: the fits frame is empty — nothing to score with"
        )
    by_len = sorted(parsed.predictors, key=len, reverse=True)

    def term_expr(t: str) -> Column:
        if t == "intercept":
            return F.lit(1.0)
        if t in df.columns:
            return F.col(t).cast("double")
        for p in by_len:  # longest predictor prefix wins ('a_b' before 'a')
            if t.startswith(p + "_"):
                return (F.col(p) == F.lit(t[len(p) + 1:])).cast("double")
        raise ValueError(
            f"term {t!r} is neither a column of the scoring frame nor a "
            f"'<predictor>_<level>' dummy of {sorted(parsed.predictors)}"
        )

    exprs = {t: term_expr(t) for t in terms}  # validate before any job
    wide = fits.groupBy(*group_cols).agg(
        *[
            F.first(
                F.when(F.col("term") == t, F.col("estimate")), ignorenulls=True
            ).alias(f"__b_{i}")
            for i, t in enumerate(terms)
        ]
    )
    eta = None
    for i, t in enumerate(terms):
        contrib = F.col(f"__b_{i}") * exprs[t]
        eta = contrib if eta is None else eta + contrib
    out = eta if link in (None, "identity") else get_link(link).unlink(eta, F.lit(1.0))
    # withColumn, not select-append: replaces an existing output_col
    # instead of emitting a duplicate-named column (the LM.predict
    # convention)
    joined = df.join(wide, list(group_cols), "left")
    return joined.withColumn(output_col, out).select(
        *[c for c in df.columns if c != output_col], output_col
    )
