"""Elastic-net / lasso linear regression — L1(+L2)-penalized OLS with the
MLlib `LinearRegression(regParam, elasticNetParam)` objective, fit by
cyclic coordinate descent over the SAME one-pass Gram statistics the OLS
family uses (plans/gram.py).

Objective (matching MLlib, `standardize=True` default):

    min_β  1/(2n)·Σᵢ(yᵢ − β₀ − xᵢ'β)²  +  λ·(α·‖θ‖₁ + (1−α)/2·‖θ‖²)

where θⱼ = βⱼ·σⱼ/σ_y are the coefficients of the centered/standardized
problem (sample std, n−1) and λ is `reg_param`, α `elastic_net_param`
(1 = lasso, 0 = ridge). With `standardize=False` the penalty applies to
the raw β instead (MLlib's `standardization=false`):
λ·(α·Σ|βⱼ| + (1−α)/2·Σβⱼ²). Both reduce to per-coordinate
(λ1ⱼ, λ2ⱼ) pairs on the standardized problem — the solver is one loop.

Scale story (the whole point): the DATA pass is exactly one Gram
aggregation — k(k+1)/2 + k + 3 sums through Catalyst partial+final
aggregation, identical to `LM.fit`'s plan at any data size. Every
coordinate-descent sweep after that is O(k²) DRIVER arithmetic on the
k×k Gram; λ paths and cross-validation reuse the same statistics
(Gram additivity), so a 100-λ CV path over 100 TB still costs one
aggregation job (per fold-grouping, see `elastic_net_cv`).

The reference has no penalized fitter; this extends its LM family
(LM.scala:16-25) the same way ridge did, toward MLlib
`LinearRegression` parity (golden-tested against it)."""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.functions.families import (
    deviance_np,
    irls_mu_np,
    irls_wz_np,
)
from sparkglm_spark.plans.gram import gram_aggregate, gram_sums, gram_unpack
from sparkglm_spark.plans.partitioning import apply_grouped, collect_small
from sparkglm_spark.operators.lm import (
    _design,
    _encode_formula,
    _group_arrays,
    check_weight_domain,
    prediction_over_raw,
)


def _intercept_split(x_cols: list[str]):
    """(index of the unpenalized intercept or None, feature indices)."""
    i0 = x_cols.index("intercept") if "intercept" in x_cols else None
    return i0, [i for i in range(len(x_cols)) if i != i0]


def _enet_penalty(lam, alpha, standardize, s):
    """Per-coordinate (λ1ⱼ, λ2ⱼ) of the standardized problem with scales
    `s` (1 for constant features). `standardize=False` un-standardizes
    both penalties IN θ-SPACE, MLlib's `standardization=false`:
    L1Updater gets λ1/σⱼ and L2Regularization (applyFeaturesStd path)
    λ2·θⱼ²/σⱼ² (golden-matched vs MLlib, linear and logistic)."""
    if standardize:
        p = len(s)
        return np.full(p, alpha * lam), np.full(p, (1.0 - alpha) * lam)
    return alpha * lam / s, (1.0 - alpha) * lam / (s * s)


def _cd_sweeps(A, b, nw, l1, l2, live, theta, n_sweeps, tol):
    """The one soft-threshold coordinate-descent sweep, for the linear fit
    (`_cd_enet`) and the prox-Newton subproblem
    (`_penalized_irls_update`) alike: minimizes
    (1/(2·nw))[θ'Aθ − 2b'θ] + Σ λ1ⱼ|θⱼ| + λ2ⱼ/2·θⱼ² over the scaled A, b.

        ρⱼ = (bⱼ − Σ_{k≠j} Aⱼₖθₖ)/nw
        θⱼ ← S(ρⱼ, λ1ⱼ) / (Aⱼⱼ/nw + λ2ⱼ)

    Updates `theta` in place; a dead coordinate (`live` False — a
    constant feature) stays at 0. Stops when no coordinate moved more
    than `tol`; `tol=None` runs exactly `n_sweeps` sweeps. Returns
    (sweeps, converged)."""
    denom = np.diag(A) / nw + l2
    sweeps = 0
    for _ in range(n_sweeps):
        max_d = 0.0
        for j in range(len(b)):
            if not live[j]:
                theta[j] = 0.0
                continue
            rho = (b[j] - A[j] @ theta + A[j, j] * theta[j]) / nw
            t_new = np.sign(rho) * max(abs(rho) - l1[j], 0.0) / denom[j]
            max_d = max(max_d, abs(t_new - theta[j]))
            theta[j] = t_new
        sweeps += 1
        if tol is not None and max_d <= tol:
            return sweeps, True
    return sweeps, tol is None


def _cd_enet(
    xtx: np.ndarray,
    xty: np.ndarray,
    n: int,
    sum_y: float,
    sum_y2: float,
    x_cols: list[str],
    reg_param: float,
    elastic_net_param: float,
    standardize: bool,
    max_sweeps: int,
    tol: float,
    exact_sweeps: int | None,
    col_sums: np.ndarray | None = None,
    theta0: np.ndarray | None = None,
    return_theta: bool = False,
    sum_w: float | None = None,
):
    """Cyclic coordinate descent on the centered/standardized problem,
    entirely from Gram sufficient statistics. Returns (beta in ORIGINAL
    scale and `x_cols` order, sweeps, converged, sse).

    The sweep is `_cd_sweeps` over A = X̂'X̂, b = X̂'ŷ assembled from
    the raw Gram via Aⱼₖ = (Gⱼₖ − n·mⱼ·mₖ)/(σⱼσₖ). `exact_sweeps=N`
    runs exactly N cyclic sweeps from θ = 0 with no convergence test
    (deterministic trajectory — the oracle-pin hook, same convention as
    the GLM/Cox/AFT fixed-iteration kernels). With `sum_w` the statistics are the
    W-weighted ones (xtx = X'WX, xty = X'Wy, sum_y = Σwy, …) and every
    statistical n becomes Σw — the MLlib weightCol convention (probed
    exact: population stds over Σw, objective 1/(2Σw))."""
    i0, feats = _intercept_split(x_cols)
    has_int = i0 is not None
    p = len(feats)
    lam = float(reg_param)
    alpha = float(elastic_net_param)
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("elastic_net_param must be in [0, 1]")
    if lam < 0.0:
        raise ValueError("reg_param must be >= 0")

    # MLlib LinearRegression scales by the CENTERED POPULATION std
    # (denominator n — probed at 1e-15 agreement; its 1/weightSum
    # normalization differs from LogisticRegression's SAMPLE-std
    # summarizer, see _enet_start) and the label std even when
    # fitIntercept=false — only the centering of the DATA follows the
    # intercept flag (golden-matched vs LinearRegression both ways)
    nw = float(sum_w) if sum_w is not None else float(n)
    y_mean = sum_y / nw
    cyy = sum_y2 - nw * y_mean * y_mean
    sig_y = float(np.sqrt(max(cyy, 0.0) / nw))

    if p == 0:
        beta = np.zeros(len(x_cols))
        if has_int:
            beta[i0] = y_mean
        sse = cyy if has_int else sum_y2
        out = (beta, 0, True, float(sse))
        return out + (np.zeros(0),) if return_theta else out

    G = xtx[np.ix_(feats, feats)]
    gy = xty[feats]
    if has_int:
        m = xtx[i0, feats] / nw  # Σw·xⱼ / Σw
    elif col_sums is not None:
        m = col_sums[feats] / nw
    else:
        m = np.zeros(p)
    cvar = (np.diag(G) - nw * m * m) / nw
    sig = np.sqrt(np.maximum(cvar, 0.0))
    if has_int:
        A = G - nw * np.outer(m, m)
        b = gy - m * sum_y
    else:
        A = G.copy()
        b = gy.copy()
    live = sig > 0.0  # constant features get θ = β = 0 (MLlib behavior)
    if sig_y <= 0.0:
        if not has_int:
            raise ValueError(
                "constant label with no intercept — the scaled problem "
                "is undefined (the MLlib yStd == 0 refusal)"
            )
        # constant label: the penalized fit is β = 0, intercept = ȳ
        beta = np.zeros(len(x_cols))
        beta[i0] = y_mean
        out = (beta, 0, True, 0.0)
        return out + (np.zeros(p),) if return_theta else out

    s_out = np.where(live, sig, 1.0)
    A = A / np.outer(s_out, s_out)
    b = b / (s_out * sig_y)
    l1, l2 = _enet_penalty(lam / sig_y, alpha, standardize, s_out)
    theta = np.zeros(p) if theta0 is None else np.asarray(theta0, float).copy()
    sweeps, converged = _cd_sweeps(
        A, b, nw, l1, l2, live, theta,
        exact_sweeps if exact_sweeps is not None else max_sweeps,
        None if exact_sweeps is not None else tol,
    )

    beta = np.zeros(len(x_cols))
    bf = np.where(live, theta * sig_y / s_out, 0.0)
    for idx, j in enumerate(feats):
        beta[j] = bf[idx]
    if has_int:
        beta[i0] = y_mean - float(m @ bf)
    # SSE from the same moments: ||y−Xβ||² = y'y − 2β'X'y + β'Gβ
    sse = float(sum_y2 - 2.0 * beta @ xty + beta @ xtx @ beta)
    if return_theta:
        return beta, sweeps, converged, sse, theta
    return beta, sweeps, converged, sse


@dataclass
class ElasticNetLM:
    """Fitted elastic-net linear model. Scoring is the LM path — one
    codegen projection over raw columns via `prediction_over_raw`
    (dummies / intercept / zero-backfill inline, no encoding pass)."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    reg_param: float
    elastic_net_param: float
    standardize: bool
    nrow: int
    sse: float
    sweeps: int
    converged: bool
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""

    @property
    def n_nonzero(self) -> int:
        """Selected support size, intercept excluded — the lasso's point."""
        return _count_nonzero(self.xnames, self.coefs)

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        expr = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        return df.withColumn(output_col, expr)


def _count_nonzero(x_cols: list[str], beta) -> int:
    """Selected support size, intercept excluded — the single point of
    truth for every surface's n_nonzero (exact-zero convention: CD's
    soft-threshold produces literal 0.0 for dropped coordinates)."""
    return int(
        sum(1 for nm, c in zip(x_cols, beta) if nm != "intercept" and c != 0.0)
    )


def _prepare_gram(
    x: DataFrame, y_col: str, x_cols: list[str], weight_col: str | None = None
):
    """One Gram job for the CD solvers, with the no-intercept twist:
    without an 'intercept' column the fit still scales by the CENTERED
    stds (the MLlib fitIntercept=false convention), so the Gram carries
    one extra ones-column row for the feature means — still a single
    aggregation. With `weight_col` every sum is W-weighted (the ones
    row then carries Σw·xⱼ — exactly the weighted means the solver
    needs). Returns (gram_result, col_sums-or-None)."""
    has_int = "intercept" in x_cols
    gram_cols = list(x_cols)
    if not has_int:
        x = x.withColumn("__one", F.lit(1.0))
        gram_cols = gram_cols + ["__one"]
    g = gram_aggregate(x, gram_cols, y_col=y_col, weight_col=weight_col)
    if g.n <= 1:
        raise ValueError("need more than one row")
    if weight_col is not None:
        # weight-domain guards (same aggregation — min_w/n_w ride the
        # Gram job; shared guard: operators/lm.py::check_weight_domain)
        check_weight_domain(
            weight_col,
            n=g.n,
            n_w=g.n_w if g.n_w is not None else g.n,
            min_w=g.min_w,
            sum_w=g.sum_w,
        )
    p = len(x_cols)
    col_sums = None if has_int else g.xtx[p, :p].copy()
    return g, col_sums


def elastic_net_fit(
    x: DataFrame,
    y_col: str,
    x_cols: list[str],
    reg_param: float,
    elastic_net_param: float = 1.0,
    standardize: bool = True,
    max_sweeps: int = 10_000,
    tol: float = 1e-10,
    exact_sweeps: int | None = None,
    weight_col: str | None = None,
) -> ElasticNetLM:
    """Low-level fit over a pre-encoded frame (the `LM.fit` contract:
    `x` holds predictors + label; an 'intercept' column of ones marks an
    unpenalized, centered intercept). ONE Gram aggregation job, then
    driver-side coordinate descent — see the module docstring. Without
    an intercept column the fit goes through the origin but still
    scales by the CENTERED stds (the MLlib fitIntercept=false
    convention), so the Gram carries one extra ones-column row for the
    feature means — still a single job (`_prepare_gram`)."""
    if exact_sweeps is not None and exact_sweeps < 1:
        raise ValueError("exact_sweeps must be >= 1")
    g, col_sums = _prepare_gram(x, y_col, x_cols, weight_col=weight_col)
    p = len(x_cols)
    beta, sweeps, converged, sse = _cd_enet(
        g.xtx[:p, :p],
        g.xty[:p],
        g.n,
        float(g.sum_y),
        float(g.sum_y2),
        x_cols,
        reg_param,
        elastic_net_param,
        standardize,
        max_sweeps,
        tol,
        exact_sweeps,
        col_sums=col_sums,
        sum_w=float(g.sum_w) if weight_col else None,
    )
    return ElasticNetLM(
        xnames=list(x_cols),
        yname=y_col,
        coefs=beta,
        reg_param=float(reg_param),
        elastic_net_param=float(elastic_net_param),
        standardize=standardize,
        nrow=g.n,
        sse=sse,
        sweeps=sweeps,
        converged=converged,
    )


def elastic_net(
    df: DataFrame,
    formula: str,
    reg_param: float,
    elastic_net_param: float = 1.0,
    standardize: bool = True,
    na_action: str = "omit",
    max_sweeps: int = 10_000,
    tol: float = 1e-10,
    exact_sweeps: int | None = None,
    weight_col: str | None = None,
) -> ElasticNetLM:
    """Formula front-end (`lm`'s scaffold: parse → omit NAs → encode
    categoricals with global levels → inject intercept → fit).
    `elastic_net_param=1` is the lasso, `0` pure ridge (matching
    `ridge()` only under `standardize=False`, since MLlib's default
    penalizes standardized coefficients). `weight_col` gives the
    penalized-WLS fit with the MLlib weightCol convention: every
    statistic is W-weighted and the objective is
    1/(2Σw)·Σwᵢ(yᵢ−ŷᵢ)² + penalty (same single Gram job)."""
    encoded, x_cols, target, levels = _encode_formula(
        df, formula, na_action, extra_cols=[weight_col] if weight_col else []
    )
    model = elastic_net_fit(
        encoded,
        y_col=target,
        x_cols=x_cols,
        reg_param=reg_param,
        elastic_net_param=elastic_net_param,
        standardize=standardize,
        max_sweeps=max_sweeps,
        tol=tol,
        exact_sweeps=exact_sweeps,
        weight_col=weight_col,
    )
    model.levels = levels
    model.call = (
        f"elastic_net({formula}, reg_param={reg_param}, "
        f"elastic_net_param={elastic_net_param})"
    )
    return model


def lasso_lm(df: DataFrame, formula: str, reg_param: float, **kwargs) -> ElasticNetLM:
    """Pure-L1 shorthand: `elastic_net(elastic_net_param=1.0)`."""
    return elastic_net(df, formula, reg_param, elastic_net_param=1.0, **kwargs)


def elastic_net_cv(
    df: DataFrame,
    formula: str,
    reg_params: list[float],
    fold_expr,
    n_folds: int = 5,
    elastic_net_param: float = 1.0,
    standardize: bool = True,
    na_action: str = "omit",
    max_sweeps: int = 10_000,
    tol: float = 1e-10,
    weight_col: str | None = None,
) -> DataFrame:
    """K-fold cross-validation over a λ path in ONE data pass — the
    `lm_cross_validate` shape: Gram statistics are additive, so a single
    `groupBy(fold)` aggregation yields every fold's (X'X, X'y, y'y, …);
    each (fold, λ) model is a driver-side coordinate descent on
    (total − fold) statistics and its held-out SSE evaluates from the
    fold's own moments. A 100-λ path over any data size costs exactly
    one aggregation job.

    `fold_expr` must land in [0, n_folds) — an out-of-range fold id
    raises (it would ride every training set but never be validated).

    `weight_col` runs the penalized-WLS CV (the `elastic_net(weight_col=)`
    fit applied per training set — same Σw conventions, same single
    job): rmse_train/rmse_val become the W-weighted RMS error
    √(Σw·e²/Σw), the natural weighted generalization.

    Returns one row per (reg_param, fold): reg_param, fold, n_train,
    n_val, rmse_train, rmse_val, n_nonzero."""
    if not reg_params:
        raise ValueError("reg_params must be non-empty")
    if isinstance(fold_expr, str):
        fold_expr = F.col(fold_expr)
    encoded, x_cols, target, _levels = _encode_formula(
        df.withColumn("__fold", fold_expr.cast("int")),
        formula,
        na_action,
        extra_cols=["__fold"] + ([weight_col] if weight_col else []),
    )
    from sparkglm_spark.operators.lm import fold_gram_collect

    has_int = "intercept" in x_cols
    folds = fold_gram_collect(
        encoded, x_cols, target, n_folds, weight_col=weight_col
    )
    tot = tuple(
        sum(v[i] for v in folds.values()) for i in range(6)
    ) + ((sum(v[6] for v in folds.values()),) if weight_col else (None,))
    out = []
    for lam in reg_params:
        for f in range(n_folds):
            if f not in folds:
                continue
            xtx_v, xty_v, sy_v, syy_v, n_v, xs_v, sw_v = folds[f]
            xtx_t = tot[0] - xtx_v
            xty_t = tot[1] - xty_v
            sy_t, syy_t, n_t = tot[2] - sy_v, tot[3] - syy_v, tot[4] - n_v
            sw_t = (tot[6] - sw_v) if weight_col else None
            if n_t <= 1 or (sw_t is not None and sw_t <= 0.0):
                continue
            beta, _sw, _cv, sse_t = _cd_enet(
                xtx_t, xty_t, n_t, sy_t, syy_t, x_cols,
                lam, elastic_net_param, standardize, max_sweeps, tol, None,
                # no-intercept designs still standardize by the CENTERED
                # stds (the fit path's MLlib convention) — feed the
                # training col sums so CV scores the model it would fit
                col_sums=None if has_int else (tot[5] - xs_v),
                sum_w=sw_t,
            )
            sse_v = float(syy_v - 2.0 * beta @ xty_v + beta @ xtx_v @ beta)
            nz = _count_nonzero(x_cols, beta)
            # weighted: RMS errors over Σw (the statistical sample size)
            den_t = sw_t if weight_col else n_t
            den_v = sw_v if weight_col else n_v
            out.append(
                (
                    float(lam),
                    f,
                    n_t,
                    n_v,
                    float(np.sqrt(max(sse_t, 0.0) / den_t)),
                    float(np.sqrt(max(sse_v, 0.0) / den_v)) if den_v else None,
                    nz,
                )
            )
    return df.sparkSession.createDataFrame(
        out,
        "reg_param double, fold int, n_train bigint, n_val bigint, "
        "rmse_train double, rmse_val double, n_nonzero int",
    )


def elastic_net_path(
    df: DataFrame,
    formula: str,
    reg_params: list[float],
    elastic_net_param: float = 1.0,
    standardize: bool = True,
    na_action: str = "omit",
    max_sweeps: int = 10_000,
    tol: float = 1e-10,
    weight_col: str | None = None,
) -> DataFrame:
    """The whole regularization path from ONE data pass: a single Gram
    aggregation, then one warm-started coordinate descent per λ on the
    driver (λ sorted descending so each solution seeds the next — the
    standard pathwise trick; identical fixed points to cold starts,
    just fewer sweeps). Returns one (reg_param, term) row block per
    INPUT λ — duplicates in `reg_params` produce duplicate blocks
    (differing at most in `sweeps`), so the output shape is always
    len(reg_params) × n_terms.

    Each row also carries the λ-selection criteria for the whole fit:
    aic = n·ln(SSE/n) + 2·df and bic = n·ln(SSE/n) + ln(n)·df with
    df = n_nonzero (+1 with an intercept) — the standard lasso
    degrees-of-freedom estimate (Zou, Hastie & Tibshirani 2007: the
    active-set size is unbiased for the lasso's df), so a path fit
    selects λ with one argmin over the output, no held-out pass.

    `weight_col` fits the penalized-WLS path (the
    `elastic_net(weight_col=)` conventions); SSE in the criteria is
    then the W-weighted SSE over the raw row count n — the WLS
    log-likelihood's σ̂² = Σw·e²/n form (the Σln wᵢ term is constant
    across λ, so it cancels out of the argmin)."""
    if not reg_params:
        raise ValueError("reg_params must be non-empty")
    encoded, x_cols, target, _levels = _encode_formula(
        df, formula, na_action, extra_cols=[weight_col] if weight_col else []
    )
    g, col_sums = _prepare_gram(encoded, target, x_cols, weight_col=weight_col)
    p = len(x_cols)
    out = []
    theta = None
    # duplicates are kept (one output block per input λ — the
    # documented contract); descending order preserves the warm starts
    for lam in sorted((float(v) for v in reg_params), reverse=True):
        beta, sweeps, _conv, _sse, theta = _cd_enet(
            g.xtx[:p, :p], g.xty[:p], g.n, float(g.sum_y), float(g.sum_y2),
            x_cols, lam, elastic_net_param, standardize, max_sweeps, tol,
            None, col_sums=col_sums, theta0=theta, return_theta=True,
            sum_w=float(g.sum_w) if weight_col else None,
        )
        nz = _count_nonzero(x_cols, beta)
        dof = nz + (1 if "intercept" in x_cols else 0)
        n = g.n
        ll_core = n * float(np.log(max(_sse, 1e-300) / n))
        aic = ll_core + 2.0 * dof
        bic = ll_core + float(np.log(n)) * dof
        for nm, c in zip(x_cols, beta):
            out.append((lam, nm, float(c), nz, sweeps, aic, bic))
    return df.sparkSession.createDataFrame(
        out,
        "reg_param double, term string, estimate double, "
        "n_nonzero int, sweeps int, aic double, bic double",
    )


def elastic_net_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    reg_param: float,
    elastic_net_param: float = 1.0,
    standardize: bool = True,
    na_action: str = "omit",
    max_sweeps: int = 10_000,
    tol: float = 1e-10,
    exact_sweeps: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One elastic-net model per segment — the `lm_grouped` shape, which
    is STRONGER than the IRLS-grouped fitters' at scale: stage 1 is one
    `groupBy(group_cols)` over the Gram sum expressions (partial
    map-side aggregation; the wire carries O(G·k²) doubles, never rows),
    stage 2 runs each group's coordinate descent DISTRIBUTED via
    Arrow-batched `mapInPandas` over the G-row Gram table. No per-group
    driver work, no row materialization — G (number of segments) is
    unbounded.

    Encoding levels are computed once on the whole input (the grouped
    convention: groups missing a level get zero dummies). Degenerate
    groups (n ≤ 1, a constant label in a no-intercept design, or —
    with `weight_col` — negative/null weights or Σw ≤ 0 in the group)
    yield NULL estimates (the grouped NULL policy; the single-fit
    surface raises instead). Returns long format: group_cols…, term,
    estimate, n_rows, n_nonzero, sweeps, converged."""
    from pyspark.sql import types as T

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if exact_sweeps is not None and exact_sweeps < 1:
        raise ValueError("exact_sweeps must be >= 1")
    encoded, x_cols, target = _design(
        df, formula, group_cols, na_action=na_action, weight_col=weight_col
    )
    k = len(x_cols)
    has_int = "intercept" in x_cols
    xs = [F.col(c) for c in x_cols]
    y = F.col(target)
    w = F.col(weight_col) if weight_col else None

    def wgt(e):
        return e if w is None else e * w

    aggs = gram_sums(xs, w, y, prefix="__")
    aggs += [F.sum(wgt(xs[i])).alias(f"__xs_{i}") for i in range(k)]
    aggs.append(F.sum(wgt(y)).alias("__sy"))
    aggs.append(F.sum(wgt(y * y)).alias("__syy"))
    aggs.append(F.count(F.lit(1)).alias("__n"))
    if w is not None:
        aggs.append(F.sum(w).alias("__sw"))
        aggs.append(F.min(w).alias("__minw"))
        aggs.append(F.count(w).alias("__nw"))
    gram = encoded.groupBy(*group_cols).agg(*aggs)

    out_schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [
            T.StructField("term", T.StringType()),
            T.StructField("estimate", T.DoubleType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_nonzero", T.IntegerType()),
            T.StructField("sweeps", T.IntegerType()),
            T.StructField("converged", T.BooleanType()),
        ]
    )
    names = list(x_cols)
    gcols = list(group_cols)
    lam, alpha, std = float(reg_param), float(elastic_net_param), standardize
    msw, ctol, nex = max_sweeps, tol, exact_sweeps
    weighted = weight_col is not None
    # validate once on the driver, not per group inside the UDF
    _cd_enet(
        np.eye(k), np.zeros(k), 2, 0.0, 1.0, x_cols, lam, alpha, std,
        1, ctol, None,
    )

    def solve_groups(batches):
        import pandas as pd

        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in gcols}
            cols.update(
                term=[], estimate=[], n_rows=[], n_nonzero=[],
                sweeps=[], converged=[],
            )
            for r in pdf.to_dict("records"):
                n = int(r["__n"])
                xtx, xty = gram_unpack(r, k, prefix="__")
                csums = np.array([r[f"__xs_{i}"] for i in range(k)])
                sw = None
                ok_w = True
                if weighted:
                    # per-group weight-domain check — the boolean twin of
                    # lm.py::check_weight_domain: a bad group gets NULL
                    # estimates (grouped NULL policy), never raises
                    sw = r["__sw"]
                    ok_w = (
                        int(r["__nw"]) == n
                        and r["__minw"] is not None
                        and float(r["__minw"]) >= 0.0
                        and sw is not None
                        and float(sw) > 0.0
                    )
                    sw = float(sw) if ok_w else None
                beta, sweeps, conv, nz = None, 0, False, None
                if (
                    n > 1 and ok_w
                    and np.all(np.isfinite(xtx)) and np.all(np.isfinite(xty))
                ):
                    try:
                        beta, sweeps, conv, _sse = _cd_enet(
                            xtx, xty, n, float(r["__sy"]), float(r["__syy"]),
                            names, lam, alpha, std, msw, ctol, nex,
                            col_sums=None if has_int else csums,
                            sum_w=sw,
                        )
                        nz = _count_nonzero(names, beta)
                    except (ValueError, np.linalg.LinAlgError):
                        beta = None
                for i, name in enumerate(names):
                    for c in gcols:
                        cols[c].append(r[c])
                    cols["term"].append(name)
                    cols["estimate"].append(
                        float(beta[i]) if beta is not None else None
                    )
                    cols["n_rows"].append(n)
                    cols["n_nonzero"].append(nz)
                    cols["sweeps"].append(sweeps)
                    cols["converged"].append(bool(conv) if beta is not None else False)
            yield pd.DataFrame(cols)

    # the G-row Gram table is byte-small, so AQE would coalesce the
    # solve stage onto 1-2 cores (the fanout_groups pathology) — a
    # ROUND-ROBIN repartition of G tiny rows costs nothing and keeps
    # the G coordinate descents CPU-parallel (a keyed repartition would
    # match the aggregation's partitioning and be optimizer-eliminated)
    from sparkglm_spark.plans.partitioning import fanout_groups

    return fanout_groups(gram, []).mapInPandas(solve_groups, out_schema)


# ---------------------------------------------------------------------------
# Penalized GLM — glmnet's prox-Newton (penalized IRLS), written once.
# Every fitter below runs the same steps: `_glm_enet_spec` checks the
# arguments; the training moments (`_Moments`) go through `_enet_start`
# for the fixed standardization, the intercept start and the degeneracy
# verdict; `_irls_lockstep` advances a list of models one
# `_penalized_irls_update` per statistics pass; `_lambda_path` walks the λ
# grid. Only the statistics backend differs: `_SparkEnet` (one aggregate
# per pass over the whole frame) or `_NpGroup` (numpy over one group's
# Arrow batch).
# ---------------------------------------------------------------------------

_ENET_FAMILIES = ("binomial", "poisson", "gamma", "tweedie", "negbinomial")


@dataclass(frozen=True)
class _GLMEnetSpec:
    """The checked arguments every penalized-GLM fit shares."""

    family: str
    fam: object  # the families.py plug-in (var_power / nb_alpha bound)
    alpha: float
    standardize: bool
    max_iter: int
    tol: float
    max_sweeps: int
    exact: int | None
    var_power: float
    nb_alpha: float


def _glm_enet_spec(
    who, family, lams, elastic_net_param, standardize, max_iter, tol,
    max_sweeps, exact_iterations, var_power, nb_alpha,
) -> _GLMEnetSpec:
    """The argument check of every penalized-GLM entry point (`who` names
    it in the family error). `lams` is the λ grid; None skips the λ
    checks (a per-group λ column, checked per group). A bad tweedie
    `var_power` or negbinomial `nb_alpha` raises here, also on the
    grouped surfaces whose numpy kernels would otherwise return
    plausible-but-wrong deviances."""
    from sparkglm_spark.functions.families import get_family

    if family not in _ENET_FAMILIES:
        raise ValueError(
            f"{who} supports {'/'.join(_ENET_FAMILIES)}, got {family!r}"
        )
    if lams is not None:
        if not lams:
            raise ValueError("reg_params must be non-empty")
        if any(float(v) < 0.0 for v in lams):
            raise ValueError("reg_param must be >= 0")
    alpha = float(elastic_net_param)
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("elastic_net_param must be in [0, 1]")
    if exact_iterations is not None and exact_iterations < 1:
        raise ValueError("exact_iterations must be >= 1")
    return _GLMEnetSpec(
        family=family,
        fam=get_family(family, float(var_power), float(nb_alpha)),
        alpha=alpha,
        standardize=standardize,
        max_iter=max_iter,
        tol=tol,
        max_sweeps=max_sweeps,
        exact=exact_iterations,
        var_power=float(var_power),
        nb_alpha=float(nb_alpha),
    )


def _enet_label_domain_error(family: str, ymin: float, ymax: float):
    """Shared penalized-fitter label-domain check: None when [ymin, ymax]
    lies in the family's support, else the raise/NULL-degrade message.
    binomial [0, 1]; poisson/tweedie/negbinomial ≥ 0; gamma STRICTLY
    > 0 (its deviance has log(y))."""
    if family == "binomial" and (ymin < 0.0 or ymax > 1.0):
        return (
            f"binomial label must lie in [0, 1]; observed [{ymin}, {ymax}]"
        )
    if family in ("poisson", "tweedie", "negbinomial") and ymin < 0.0:
        return f"{family} label must be >= 0; observed min = {ymin}"
    if family == "gamma" and ymin <= 0.0:
        return f"gamma label must be > 0; observed min = {ymin}"
    return None


@dataclass
class _Moments:
    """A training set's upfront sums: n, Σω, Σω², Σωy, Σωx, Σωx², Σωo
    over the features (ω = 1 unweighted). `sww` is None unweighted,
    `soff` None without an offset."""

    n: int
    sw: float
    sww: float | None
    sy: float
    sx: np.ndarray
    sxx: np.ndarray
    soff: float | None


@dataclass
class _EnetState:
    """One model of a lock-step penalized IRLS: `j` is its held-out fold
    (None for a full-data model), `train` the backend's handle on its
    training rows, `sig` its fixed feature stds, `nw` its Σω."""

    j: int | None
    n: int
    nw: float
    sig: np.ndarray
    beta: np.ndarray
    theta: np.ndarray
    train: object
    iters: int = 0
    conv: bool = False
    active: bool = True


def _np_link_init(fam_name: str, mu0: float) -> float:
    """Intercept-start link: binomial logit with the μ clamp, log with
    the underflow floor (a no-op behind `_enet_start`'s ȳ > 0 verdict)."""
    if fam_name == "binomial":
        mu0 = min(max(mu0, 1e-10), 1 - 1e-10)
        return float(np.log(mu0 / (1 - mu0)))
    return float(np.log(max(mu0, 1e-300)))


def _enet_start(mo: _Moments, family: str, k: int, i0, j=None, train=None):
    """The one start of every penalized-GLM model: moments → fixed
    standardization σ, intercept start and degeneracy verdict. Returns
    (state, None), or (None, reason) when nothing can be fitted: ≤ 1
    row, Σω ≤ 0, ≤ 1 effective row, or a constant binomial / all-zero
    count label. The single fits raise the reason; the path/CV engines
    skip the model; the grouped fitters NULL the group.

    σ uses MLlib's weighted summarizer variance (Σωx² − Σω·m²)/(Σω −
    Σω²/Σω) — the RELIABILITY-weights denominator (probed, see
    `glm_elastic_net`); unweighted it is the sample n − 1. The start is
    glmnet's β = 0, intercept = link(ȳ), minus the mean offset so the
    start's η ≈ link(ȳ) at the typical row (a Newton start, not a fit
    convention)."""
    if mo.n <= 1:
        return None, "need more than one row"
    nw = mo.sw
    if nw <= 0.0:
        return None, "weights sum to <= 0"
    sdenom = nw - mo.sww / nw if mo.sww is not None else float(mo.n - 1)
    if sdenom <= 0.0:
        return None, (
            "weights carry <= 1 effective row (Σw − Σw²/Σw <= 0) — the "
            "weighted std is undefined"
        )
    ybar = mo.sy / nw
    if family == "binomial" and not 0.0 < ybar < 1.0:
        return None, "binomial label is constant 0 or 1"
    if family != "binomial" and ybar <= 0.0:
        return None, f"{family} label sums to 0 — no signal to fit"
    ms = mo.sx / nw
    sig = np.sqrt(np.maximum((mo.sxx - nw * ms * ms) / sdenom, 0.0))
    beta = np.zeros(k)
    if i0 is not None:
        beta[i0] = _np_link_init(family, ybar)
        if mo.soff is not None:
            beta[i0] -= mo.soff / nw
    state = _EnetState(
        j=j, n=mo.n, nw=nw, sig=sig, beta=beta,
        theta=np.zeros(len(sig)), train=train,
    )
    return state, None


def _penalized_irls_update(Gw, gz, sw, swz, feats, i0, s, lam, spec):
    """ONE prox-Newton quadratic-subproblem solve from the zw-Gram pieces
    (X'WX, X'Wz, Σw, Σwz at the model's current β): weighted centering
    against the free intercept, the `_cd_sweeps` sweep over the fixed
    stds, σ-unscaling, intercept back-solve. Updates `s.theta` in place;
    returns the new β."""
    Gf = Gw[np.ix_(feats, feats)]
    bf = gz[feats]
    if i0 is not None:
        wx = Gw[i0, feats]  # Σ w·xⱼ
        A = Gf - np.outer(wx, wx) / sw
        bvec = bf - wx * (swz / sw)
    else:
        A = Gf
        bvec = bf
    live = s.sig > 0.0
    sd = np.where(live, s.sig, 1.0)
    l1, l2 = _enet_penalty(lam, spec.alpha, spec.standardize, sd)
    _cd_sweeps(
        A / np.outer(sd, sd), bvec / sd, s.nw, l1, l2, live, s.theta,
        spec.max_sweeps, spec.tol * 0.01,
    )
    new_beta = np.zeros(len(gz))
    bfeat = np.where(live, s.theta / sd, 0.0)
    new_beta[feats] = bfeat
    if i0 is not None:
        new_beta[i0] = (swz - wx @ bfeat) / sw
    return new_beta


def _irls_lockstep(states, stats_of, lam, spec, feats, i0) -> None:
    """glmnet's outer loop, once for every fitter: each pass asks
    `stats_of(live)` for every live model's (X'WX, X'Wz, Σw, Σwz) — one
    Spark aggregate or a numpy Gram per model — then takes one
    `_penalized_irls_update` per model. A model stops when no
    coefficient moved more than `tol`; `spec.exact=N` runs exactly N
    passes with no convergence test (the oracle-pin hook; every model
    then reports converged). Updates the states in place: β, θ,
    `iters`, `conv`."""
    for s in states:
        s.active, s.iters, s.conv = True, 0, False
    for _ in range(spec.exact if spec.exact is not None else spec.max_iter):
        live = [s for s in states if s.active]
        if not live:
            break
        for s, (Gw, gz, sw, swz) in zip(live, stats_of(live)):
            new_beta = _penalized_irls_update(
                Gw, gz, sw, swz, feats, i0, s, lam, spec
            )
            delta = float(np.max(np.abs(new_beta - s.beta))) if len(gz) else 0.0
            s.beta = new_beta
            s.iters += 1
            if spec.exact is None and delta <= spec.tol:
                s.conv, s.active = True, False
    if spec.exact is not None:
        for s in states:
            s.conv = True


def _lambda_path(reg_params, fit_lambda):
    """The λ-path driver: fits each DISTINCT λ once, descending
    (glmnet's pathwise order — the models `fit_lambda(λ)` advances
    carry β/θ into the next λ as a warm start, so later λs converge in
    1-3 iterations), and returns one (λ, records) pair per INPUT λ,
    descending, duplicates sharing their records. A None from
    `fit_lambda` aborts the path and returns None."""
    lam_in = sorted((float(v) for v in reg_params), reverse=True)
    by_lam: dict[float, object] = {}
    for lam in lam_in:
        if lam not in by_lam:
            by_lam[lam] = fit_lambda(lam)
            if by_lam[lam] is None:
                return None
    return [(lam, by_lam[lam]) for lam in lam_in]


class _SparkEnet:
    """The Spark statistics backend: the persisted model frame (`work`,
    the caller unpersists it) and the one spelling of every per-row
    column the distributed penalized fits aggregate."""

    def __init__(self, encoded, x_cols, target, spec, offset_col, weight_col,
                 keep=()):
        from sparkglm_spark.functions.links import get_link
        from sparkglm_spark.plans.partitioning import ensure_parallel

        extra = [c for c in (offset_col, weight_col) if c]
        self.work = ensure_parallel(
            encoded.select(*keep, target, *x_cols, *extra)
        ).persist()
        self.spec = spec
        self.lnk = get_link(spec.fam.default_link)
        self.k = len(x_cols)
        self.i0, self.feats = _intercept_split(x_cols)
        self.xs = [F.col(c) for c in x_cols]
        self.y = F.col(target)
        self.off = F.col(offset_col).cast("double") if offset_col else None
        self.wt = F.col(weight_col).cast("double") if weight_col else None
        self.wr = self.wt if self.wt is not None else F.lit(1.0)  # prior ω
        self.weight_col = weight_col

    def moments_aggs(self) -> list:
        """The upfront pass: n, Σωy, the label range, the weight-domain
        sums and the (ω-weighted but IRLS-unweighted) feature moments of
        the fixed standardization — MLlib's summarizer."""
        wr, y = self.wr, self.y
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(wr * y).alias("sy"),
            F.min(y).alias("ymin"),
            F.max(y).alias("ymax"),
        ]
        if self.wt is not None:
            aggs += [
                F.sum(self.wt).alias("sw0"),
                F.sum(self.wt * self.wt).alias("sww"),
                F.min(self.wt).alias("minw"),
                F.count(self.wt).alias("n_w"),
            ]
        if self.off is not None:
            aggs.append(F.sum(wr * self.off).alias("soff"))
        for i, j in enumerate(self.feats):
            c = self.xs[j]
            aggs.append(F.sum(wr * c).alias(f"s_{i}"))
            aggs.append(F.sum(wr * c * c).alias(f"ss_{i}"))
        return aggs

    def check(self, rows) -> None:
        """Raise on input no model can fit, from the moments rows of all
        data: ≤ 1 row, a bad weight column (shared guard:
        operators/lm.py::check_weight_domain), or labels outside the
        family's support — the IRLS clamp bounds μ, not y, so a y = −3
        would silently corrupt the working response (glm raises
        likewise)."""
        n = sum(int(r["n"]) for r in rows)
        if n <= 1:
            raise ValueError("need more than one row")
        if self.wt is not None:
            check_weight_domain(
                self.weight_col,
                n=n,
                n_w=sum(int(r["n_w"]) for r in rows),
                min_w=min(
                    (float(r["minw"]) for r in rows if r["minw"] is not None),
                    default=None,
                ),
                sum_w=sum(float(r["sw0"]) for r in rows),
            )
        dom_err = _enet_label_domain_error(
            self.spec.family,
            min(float(r["ymin"]) for r in rows),
            max(float(r["ymax"]) for r in rows),
        )
        if dom_err:
            raise ValueError(dom_err)

    def start(self, rows, j=None, train=None):
        """`_enet_start` over the summed moments rows of a training set."""

        def tot(key):
            return sum(float(r[key]) for r in rows)

        n = sum(int(r["n"]) for r in rows)
        p = len(self.feats)
        mo = _Moments(
            n=n,
            sw=tot("sw0") if self.wt is not None else float(n),
            sww=tot("sww") if self.wt is not None else None,
            sy=tot("sy"),
            sx=np.array([tot(f"s_{i}") for i in range(p)]),
            sxx=np.array([tot(f"ss_{i}") for i in range(p)]),
            soff=tot("soff") if self.off is not None else None,
        )
        return _enet_start(mo, self.spec.family, self.k, self.i0, j, train)

    def irls_cols(self, beta):
        """(w, z, ω·deviance term) at β — the one Spark spelling of an
        IRLS step's per-row quantities. η = Xβ + offset; binomial clamps
        μ to [1e-10, 1−1e-10] before w and z; z is the working response
        of the LINEAR part only (the fixed offset drops out of the WLS
        subproblem — the glm convention)."""
        fam, one = self.spec.fam, F.lit(1.0)
        eta_lin = F.lit(0.0)
        for c, bb in zip(self.xs, beta):
            eta_lin = eta_lin + F.lit(float(bb)) * c
        eta = eta_lin if self.off is None else eta_lin + self.off
        mu = self.lnk.unlink(eta, one)
        if self.spec.family == "binomial":
            mu = F.least(F.greatest(mu, F.lit(1e-10)), F.lit(1.0 - 1e-10))
        grad = self.lnk.lprime(mu, one)
        w = self.wr / (fam.variance(mu, one) * grad * grad)
        z = eta_lin + (self.y - mu) * grad
        return w, z, self.wr * fam.deviance_term(self.y, mu, one)

    def aggregate(self, betas, zw: bool, dev: bool, keep=()):
        """One projection and its aggregate list over the models `betas`
        (model si): with `zw` the zw-Gram sums — `m{si}_` Gram/X'Wz,
        `sw{si}` = Σw, `swz{si}` = Σwz; with `dev` `dv{si}` = 2·Σω·
        deviance term. `keep` columns (the fold key) ride along."""
        sel, aggs = [*keep, *self.xs], []
        for si, beta in enumerate(betas):
            w, z, devt = self.irls_cols(beta)
            if zw:
                sel += [w.alias(f"__w{si}"), z.alias(f"__z{si}")]
                w_c, z_c = F.col(f"__w{si}"), F.col(f"__z{si}")
                aggs += gram_sums(self.xs, w_c, z_c, prefix=f"m{si}_")
                aggs.append(F.sum(w_c).alias(f"sw{si}"))
                aggs.append(F.sum(w_c * z_c).alias(f"swz{si}"))
            if dev:
                sel.append(devt.alias(f"__d{si}"))
                aggs.append(
                    (F.lit(2.0) * F.sum(F.col(f"__d{si}"))).alias(f"dv{si}")
                )
        return self.work.select(*sel), aggs

    def zw_unpack(self, rows, si):
        """Model si's (X'WX, X'Wz, Σw, Σwz), summed over `rows` (its
        training folds' blocks — Gram additivity)."""
        Gw = np.zeros((self.k, self.k))
        gz = np.zeros(self.k)
        sw = swz = 0.0
        for r in rows:
            g_xtx, g_xty = gram_unpack(r, self.k, prefix=f"m{si}_")
            Gw += g_xtx
            gz += g_xty
            sw += float(r[f"sw{si}"])
            swz += float(r[f"swz{si}"])
        return Gw, gz, sw, swz


@dataclass
class GLMElasticNet:
    """Fitted L1/L2-penalized GLM (`glm_elastic_net`). Scoring mirrors
    `GLM.predict`: one codegen projection over raw columns, response
    scale by default or `type='link'` for η.

    `deviance` convention: each outer iteration aggregates deviance at
    the CURRENT β before solving the update, so on a `converged` exit
    the value is the deviance at the second-to-last β — within `tol` of
    the returned coefficients' (the iteration that converged changed no
    coefficient by more than tol). When the fit stops at `max_iter`
    without converging, the fitter RE-AGGREGATES deviance at the
    returned β (one extra scalar job), so `deviance` always describes
    `coefs`. Under `exact_iterations=N` (the oracle-pin hook) the value
    is deliberately the N-th aggregation — i.e. deviance at β_{N−1} —
    because the pinned SQL trajectory replays exactly N aggregations."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    family: str
    link: str
    reg_param: float
    elastic_net_param: float
    standardize: bool
    deviance: float
    nrow: int
    iter: int
    converged: bool
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""

    @property
    def n_nonzero(self) -> int:
        return _count_nonzero(self.xnames, self.coefs)

    def predict(
        self, df: DataFrame, output_col: str = "prediction", type: str = "response"
    ) -> DataFrame:
        from sparkglm_spark.functions.links import get_link

        eta = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        if type == "link":
            return df.withColumn(output_col, eta)
        if type != "response":
            raise ValueError("type must be 'response' or 'link'")
        lnk = get_link(self.link)
        return df.withColumn(output_col, lnk.unlink(eta, F.lit(1.0)))


def glm_elastic_net(
    df: DataFrame,
    formula: str,
    reg_param: float,
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    exact_iterations: int | None = None,
    offset_col: str | None = None,
    weight_col: str | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> GLMElasticNet:
    """Sparse GLM — L1(+L2)-penalized logistic / Poisson regression with
    the MLlib `LogisticRegression(regParam, elasticNetParam,
    standardization)` objective (golden-tested for binomial; Poisson has
    no MLlib elastic-net analog and is verified by its KKT conditions):

        min_β  (1/n)·Σᵢ −ℓᵢ(β)  +  λ·(α‖θ‖₁ + (1−α)/2·‖θ‖²)

    with θⱼ = βⱼ·σⱼ (upfront UNWEIGHTED sample feature stds — the MLlib
    summarizer convention; no label scaling, unlike the linear case) and
    the intercept unpenalized. `standardize=False` un-standardizes the
    penalties per coordinate (L1/σⱼ, L2/σⱼ²), matching MLlib.

    `weight_col` gives the prior-weighted fit with the MLlib
    `LogisticRegression(weightCol)` convention (golden-tested): every
    statistical n becomes Σω — the objective is (1/Σω)·Σωᵢ(−ℓᵢ) + the
    same penalty, feature stds use MLlib's weighted summarizer variance
    (Σωx² − Σω·m²)/(Σω − Σω²/Σω) — the RELIABILITY-weights unbiased
    denominator, PROBED at 3e-8 against candidate conventions (sample
    Σω−1 and population Σω are each ~1e-4 off); with unit weights
    Σω² = n so it degrades exactly to the unweighted n−1. The IRLS
    working weights pick up the ω factor and deviance is Σω-weighted.
    An integer weight is EXACTLY row replication ONLY in the fitted
    objective sense (the reliability denominator W−Σω²/W ≠ the
    replicated frame's W−1, an O(1/n) std difference the penalty
    scaling sees — tested at the matching tolerance). Weights must be
    non-null, ≥ 0, Σω > 0, and carry > 1 effective row
    (Σω − Σω²/Σω > 0) — violations raise upfront on the same
    aggregation.

    Algorithm — penalized IRLS (glmnet's prox-Newton): each outer
    iteration is ONE aggregation job (the `GLM.fit` zw-Gram shape — the
    weighted Gram over [intercept]+features carries Σw / ΣWx / X'WX /
    X'Wz / deviance in one pass), then the quadratic subproblem solves
    by weighted-centered coordinate descent on the DRIVER — the same
    100 TB cost profile per iteration as the unpenalized `glm`. This is
    the one-model, one-λ case of the shared loop (`_irls_lockstep`).

    Families: binomial/logit (Bernoulli y ∈ [0,1]), poisson/log
    (y ≥ 0), gamma/log (r13; y > 0; working weight μ²/V = 1,
    the constant-weight log-link case), tweedie(`var_power`)/log
    (r13; 1 < p < 2; y ≥ 0 with an exact point mass at 0 — sparse
    insurance severity/total-cost models; w = μ^(2−p)), and
    negbinomial(`nb_alpha`)/log (r14; NB2 with FIXED dispersion α > 0,
    variance μ + αμ², w = μ/(1+αμ) — the sparse overdispersed-count
    model a penalized poisson silently mis-weights; α→0 recovers
    poisson). All reuse the same prox-Newton with the family's
    variance/deviance kernels swapped in (families.py), golden-tested
    against the unpenalized `glm` at λ = 0. `offset_col` adds a fixed per-row term to η (the `glm`
    offset contract: η = Xβ + offset, fit unchanged in cost — one extra
    column in the per-iteration expressions, zero extra jobs) —
    penalized Poisson with `offset_col=log(exposure)` is the standard
    sparse rate model. At λ = 0 the fit matches `glm(offset_col=)`
    (parity-tested). Scoring note: like `GLM.predict`, `predict()`
    scores η = Xβ WITHOUT the offset — add it on the link scale when
    scoring rate models. No m_col on this surface (use `glm`,
    unpenalized). Converges on max coefficient change ≤ `tol`;
    `exact_iterations=N` runs exactly N outer solves with no
    convergence test (deterministic trajectory — the oracle-pin hook;
    with a single covariate the inner CD is exact in one update, so
    the whole trajectory is closed-form)."""
    spec = _glm_enet_spec(
        "glm_elastic_net", family, [reg_param], elastic_net_param,
        standardize, max_iter, tol, max_sweeps, exact_iterations,
        var_power, nb_alpha,
    )
    lam = float(reg_param)
    encoded, x_cols, target, levels = _encode_formula(
        df, formula, na_action,
        extra_cols=[c for c in (offset_col, weight_col) if c],
    )
    fr = _SparkEnet(encoded, x_cols, target, spec, offset_col, weight_col)
    try:
        r0 = collect_small(fr.work.agg(*fr.moments_aggs()))[0]
        fr.check([r0])
        s, err = fr.start([r0])
        if err:
            raise ValueError(err)
        dev = None

        def stats_of(live):
            nonlocal dev
            proj, aggs = fr.aggregate([live[0].beta], zw=True, dev=True)
            r = collect_small(proj.agg(*aggs))[0]
            dev = float(r["dv0"])
            return [fr.zw_unpack([r], 0)]

        _irls_lockstep([s], stats_of, lam, spec, fr.feats, fr.i0)
        if exact_iterations is None and not s.conv and s.iters > 0:
            # stopped at max_iter: the loop's deviance is one iteration
            # stale (see GLMElasticNet.deviance) — recompute at the
            # returned β with one scalar-only aggregation
            proj, aggs = fr.aggregate([s.beta], zw=False, dev=True)
            dev = float(collect_small(proj.agg(*aggs))[0]["dv0"])
    finally:
        fr.work.unpersist()

    return GLMElasticNet(
        xnames=list(x_cols),
        yname=target,
        coefs=s.beta,
        family=family,
        link=spec.fam.default_link,
        reg_param=lam,
        elastic_net_param=spec.alpha,
        standardize=standardize,
        deviance=dev if dev is not None else float("nan"),
        nrow=s.n,
        iter=s.iters,
        converged=s.conv,
        levels=levels,
        call=(
            f"glm_elastic_net({formula}, family={family}, reg_param={lam}, "
            f"elastic_net_param={spec.alpha}"
            + (f", var_power={var_power}" if family == "tweedie" else "")
            + (f", nb_alpha={nb_alpha}" if family == "negbinomial" else "")
            + (f", weight_col={weight_col}" if weight_col else "")
            + ")"
        ),
    )


def _collect_fold_rows(proj, aggs) -> dict:
    """ONE `groupBy('__fold')` aggregation job — the only data pass of a
    pathwise-CV outer iteration (`_glm_enet_pathwise`). Split out as the
    monkeypatch point for the job-count plan test: the lock-step design's
    load-bearing claim is that EVERY fold model (and the λ warm-start
    machinery) advances from this single aggregation."""
    return {
        int(r["__fold"]): r
        for r in collect_small(proj.groupBy("__fold").agg(*aggs))
    }


def _glm_enet_pathwise(
    df: DataFrame,
    formula: str,
    reg_params: list[float],
    fold_expr,
    n_folds: int,
    spec: _GLMEnetSpec,
    na_action: str,
    offset_col: str | None,
    weight_col: str | None,
    mode: str,
):
    """Shared engine of `glm_elastic_net_cv` (mode='cv') and
    `glm_elastic_net_path` (mode='path') — pathwise penalized IRLS with
    every model advancing in LOCK-STEP from one aggregation per outer
    iteration. `weight_col` applies the `glm_elastic_net(weight_col=)`
    convention per model: all statistical n's become the model's
    training Σω (assembled fold-additively like the moments), feature
    stds use the reliability-weights denominator Σω − Σω²/Σω, IRLS
    working weights and deviances pick up ω, and weight-domain
    violations raise upfront; a training set with ≤ 1 effective row
    degenerates that fold (skipped like a constant-label fold).
    Details:

    * mode='cv': one model per fold j (trained on all rows with
      __fold ≠ j). Each outer iteration projects every ACTIVE model's
      (w, z) columns and runs ONE `groupBy(__fold)`
      zw-Gram aggregation; model j's training Gram is the sum of the
      other folds' blocks (Gram additivity over groups — the
      `fold_gram_collect` idea lifted to IRLS working responses, which
      depend on each model's own β and so need per-model blocks).
    * mode='path': a single full-data model, same machinery with one
      constant fold group.

    λs run DESCENDING with warm starts (`_lambda_path`). Per-model
    standardization uses the model's own TRAINING stds (assembled from
    per-fold Σx/Σx² — the convention a cold fit on the filtered training
    rows would use, parity-tested at 1e-8). Total jobs: 1 upfront
    moments pass + Σ_λ(iterations) Gram passes + a final deviance pass
    evaluating every (λ, model) at its CONVERGED β (so reported
    deviances describe the returned fits, not the penultimate iterate).

    Returns (path, x_cols, has_int, n_total): `path` is one (λ, records)
    pair per input λ, a record per model — a dict of lam, j, beta, n_t,
    iters, conv, dev_train, dev_val, n_v."""
    if mode == "cv":
        if isinstance(fold_expr, str):
            fold_expr = F.col(fold_expr)
        base = df.withColumn("__fold", fold_expr.cast("int"))
    else:
        base = df.withColumn("__fold", F.lit(0))
        n_folds = 1
    encoded, x_cols, target, _levels = _encode_formula(
        base, formula, na_action,
        extra_cols=["__fold"] + [c for c in (offset_col, weight_col) if c],
    )
    fr = _SparkEnet(
        encoded, x_cols, target, spec, offset_col, weight_col, keep=["__fold"]
    )
    fold = [F.col("__fold")]
    try:
        # ------ upfront pass: per-fold moments (one job) ------
        groups = _collect_fold_rows(fr.work, fr.moments_aggs())
        bad = sorted(g for g in groups if not 0 <= g < n_folds)
        if bad:
            raise ValueError(
                f"fold ids {bad} are outside [0, {n_folds}) — fix "
                "fold_expr or n_folds (a dropped fold would bias every "
                "training set)"
            )
        fr.check(list(groups.values()))
        n_total = sum(int(r["n"]) for r in groups.values())

        # ------ per-model starts from group-moment additivity ------
        states = []
        for j in range(n_folds) if mode == "cv" else [None]:
            if mode == "cv" and j not in groups:
                continue  # no validation rows — nothing to report
            tg = [g for g in groups if g != j]
            s, _err = fr.start([groups[g] for g in tg], j=j, train=tg)
            if s is not None:
                states.append(s)
        if not states:
            # in path mode this IS the single full-data model — fail with
            # the single-fit vocabulary, not fold-speak (and never return
            # an empty frame for degenerate data)
            if mode == "path":
                raise ValueError(
                    "degenerate input: constant label or <= 1 effective "
                    "row — nothing to fit (glm_elastic_net would raise on "
                    "the same data)"
                )
            raise ValueError("no fittable fold models (degenerate folds)")

        def stats_of(live):
            rows = _collect_fold_rows(
                *fr.aggregate([s.beta for s in live], zw=True, dev=False,
                              keep=fold)
            )
            return [
                fr.zw_unpack([rows[g] for g in s.train], si)
                for si, s in enumerate(live)
            ]

        def fit_lambda(lam):
            _irls_lockstep(states, stats_of, lam, spec, fr.feats, fr.i0)
            return [
                dict(lam=lam, j=s.j, beta=s.beta, n_t=s.n, iters=s.iters,
                     conv=s.conv)
                for s in states
            ]

        path = _lambda_path(reg_params, fit_lambda)

        # ------ final deviance pass: every (λ, model) at its FINAL β ------
        # (distinct λs only; ≤64 deviance columns per pass)
        results = [r for recs in dict(path).values() for r in recs]
        for lo in range(0, len(results), 64):
            part = results[lo : lo + 64]
            rows = _collect_fold_rows(
                *fr.aggregate([r["beta"] for r in part], zw=False, dev=True,
                              keep=fold)
            )
            for ri, res in enumerate(part):
                per_group = {g: float(rows[g][f"dv{ri}"]) for g in rows}
                j = res["j"]
                res["dev_train"] = sum(
                    v for g, v in per_group.items() if g != j
                )
                res["dev_val"] = per_group.get(j) if j is not None else None
                res["n_v"] = int(groups[j]["n"]) if j is not None else 0
    finally:
        fr.work.unpersist()
    return path, x_cols, fr.i0 is not None, n_total


def glm_elastic_net_cv(
    df: DataFrame,
    formula: str,
    reg_params: list[float],
    fold_expr,
    n_folds: int = 5,
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    offset_col: str | None = None,
    exact_iterations: int | None = None,
    weight_col: str | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> DataFrame:
    """K-fold cross-validation for the penalized GLM (`glm_elastic_net`)
    over a λ grid — the sparse-logistic λ-selection surface (VERDICT
    r10 #1). A naive loop costs folds × λs separate IRLS fits, each
    paying its own per-iteration aggregation; here every fold model
    advances in LOCK-STEP from ONE `groupBy(fold)` zw-Gram aggregation
    per outer iteration (each model's training Gram = the sum of the
    other folds' blocks), and the λ grid runs descending with warm
    starts so later λs converge in 1-3 iterations. Total data passes:
    1 moments pass + Σ_λ(iterations) + 1 final deviance pass — at any
    data size (see `_glm_enet_pathwise`).

    Held-out metric: `deviance_val` is the model's deviance over its
    OWN fold's rows, evaluated at the final converged β (the natural
    GLM generalization of CV RMSE; select λ by the Σ over folds —
    glmnet's cv deviance). `deviance_train` is the training-rows twin.

    `fold_expr`: integer column/expression in [0, n_folds); out-of-range
    ids raise. Degenerate folds (constant training label) are skipped.
    `offset_col` follows the `glm_elastic_net` offset contract;
    `weight_col` the `glm_elastic_net(weight_col=)` convention (per-fold
    training Σω as the statistical n, ω-weighted deviances — so
    `deviance_val` is the ω-weighted held-out deviance).
    `exact_iterations=N` runs exactly N lock-step iterations per λ (the
    oracle-pin hook).

    Returns one row per (reg_param, fold): reg_param, fold, n_train,
    n_val, deviance_train, deviance_val, n_nonzero, iterations,
    converged."""
    spec = _glm_enet_spec(
        "glm_elastic_net", family, reg_params, elastic_net_param,
        standardize, max_iter, tol, max_sweeps, exact_iterations,
        var_power, nb_alpha,
    )
    path, x_cols, _has_int, _n = _glm_enet_pathwise(
        df, formula, reg_params, fold_expr, n_folds, spec, na_action,
        offset_col, weight_col, mode="cv",
    )
    out = [
        (
            lam,
            int(r["j"]),
            int(r["n_t"]),
            int(r["n_v"]),
            float(r["dev_train"]),
            float(r["dev_val"]) if r["dev_val"] is not None else None,
            _count_nonzero(x_cols, r["beta"]),
            int(r["iters"]),
            bool(r["conv"]),
        )
        for lam, recs in path
        for r in recs
    ]
    return df.sparkSession.createDataFrame(
        out,
        "reg_param double, fold int, n_train bigint, n_val bigint, "
        "deviance_train double, deviance_val double, n_nonzero int, "
        "iterations int, converged boolean",
    )


def glm_elastic_net_path(
    df: DataFrame,
    formula: str,
    reg_params: list[float],
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    offset_col: str | None = None,
    weight_col: str | None = None,
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> DataFrame:
    """The whole penalized-GLM regularization path — full-data fits for
    every λ, descending with warm starts on the shared pathwise engine
    (`_glm_enet_pathwise`; each outer iteration is one aggregation, the
    `glm_elastic_net` cost shape). Coefficients per λ come back in long
    format with the λ-selection criteria:

        aic = deviance + 2·df      bic = deviance + ln(n)·df

    with df = n_nonzero (+1 with an intercept) — the deviance-based
    information criteria (they differ from −2ℓℓ + penalty by the
    saturated-model constant, which is λ-independent and cancels out of
    the argmin; the lasso-df estimate is the `elastic_net_path`
    convention, Zou-Hastie-Tibshirani 2007). Deviance is evaluated at
    the FINAL β of each λ (one chunked deviance pass). With
    `weight_col` the deviance (hence aic/bic) is ω-weighted while
    bic's ln(n) keeps the ROW count (the glmnet nobs convention).

    `exact_iterations=N` runs exactly N outer solves per λ (warm starts
    still carry β across λs) with no convergence exit — the oracle-pin
    hook, same contract as `glm_elastic_net_cv`.

    Returns one (reg_param, term) row block per input λ: reg_param,
    term, estimate, n_nonzero, iterations, deviance, aic, bic."""
    spec = _glm_enet_spec(
        "glm_elastic_net", family, reg_params, elastic_net_param,
        standardize, max_iter, tol, max_sweeps, exact_iterations,
        var_power, nb_alpha,
    )
    path, x_cols, has_int, n_total = _glm_enet_pathwise(
        df, formula, reg_params, None, 1, spec, na_action, offset_col,
        weight_col, mode="path",
    )
    out = []
    for lam, (r,) in path:
        nz = _count_nonzero(x_cols, r["beta"])
        dof = nz + (1 if has_int else 0)
        dev = float(r["dev_train"])
        aic = dev + 2.0 * dof
        bic = dev + float(np.log(n_total)) * dof
        for nm, c in zip(x_cols, r["beta"]):
            out.append((lam, nm, float(c), nz, int(r["iters"]), dev, aic, bic))
    return df.sparkSession.createDataFrame(
        out,
        "reg_param double, term string, estimate double, n_nonzero int, "
        "iterations int, deviance double, aic double, bic double",
    )


class _NpGroup:
    """The numpy statistics backend: one group's Arrow batch as arrays,
    with the moments, IRLS statistics and deviances the Spark backend
    aggregates. A state's `train` is (mask, X, y, ω, offset) over its
    training rows (mask None = every row of the group)."""

    def __init__(self, pdf, names, target, weight_col, offset_col, spec):
        self.X, self.y, self.wv, self.ov, self.ok = _group_arrays(
            pdf, names, target, weight_col, offset_col
        )
        self.n = len(self.y)
        self.weighted = weight_col is not None
        self.offset = offset_col is not None
        self.spec = spec
        self.i0, self.feats = _intercept_split(names)

    def clean(self) -> bool:
        """The group-level NULL policy: more than one row, every value
        finite, the shared ω/offset verdict and labels in the family's
        support."""
        return bool(
            self.n > 1
            and self.ok
            and np.all(np.isfinite(self.X))
            and np.all(np.isfinite(self.y))
            and _enet_label_domain_error(
                self.spec.family, float(self.y.min()), float(self.y.max())
            ) is None
        )

    def start(self, mask=None, j=None):
        """`_enet_start` over the rows `mask` (None = all); None when
        the training set is degenerate."""
        if mask is None:
            X, y, w, o = self.X, self.y, self.wv, self.ov
        else:
            X, y, w, o = self.X[mask], self.y[mask], self.wv[mask], self.ov[mask]
        Xf = X[:, self.feats]
        mo = _Moments(
            n=len(y),
            sw=float(w.sum()),
            sww=float((w * w).sum()) if self.weighted else None,
            sy=float((w * y).sum()),
            sx=(w[:, None] * Xf).sum(0),
            sxx=(w[:, None] * Xf * Xf).sum(0),
            soff=float((w * o).sum()) if self.offset else None,
        )
        s, _err = _enet_start(
            mo, self.spec.family, self.X.shape[1], self.i0, j,
            (mask, X, y, w, o),
        )
        return s

    def stats_of(self, live):
        sp = self.spec
        out = []
        for s in live:
            _mask, X, y, w, o = s.train
            eta = X @ s.beta
            w0, z = irls_wz_np(
                sp.family, y, irls_mu_np(sp.family, eta + o), eta,
                sp.var_power, sp.nb_alpha,
            )
            wirls = w * w0
            Xw = X * wirls[:, None]
            out.append(
                (X.T @ Xw, Xw.T @ z, float(wirls.sum()),
                 float((wirls * z).sum()))
            )
        return out

    def fit(self, states, lam) -> None:
        _irls_lockstep(states, self.stats_of, lam, self.spec, self.feats,
                       self.i0)

    def mu_at(self, beta):
        """μ over every row of the group at β."""
        return irls_mu_np(self.spec.family, self.X @ beta + self.ov)

    def deviance(self, mu, mask=None) -> float:
        """ω-weighted deviance of rows `mask` (None = all) at μ."""
        sp = self.spec
        y, w = self.y, self.wv
        if mask is not None:
            y, mu, w = y[mask], mu[mask], w[mask]
        return deviance_np(sp.family, y, mu, w, sp.var_power, sp.nb_alpha)


def glm_elastic_net_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    reg_param: float | str,
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    weight_col: str | None = None,
    offset_col: str | None = None,
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> DataFrame:
    """One sparse GLM per segment — the per-campaign / per-tenant
    feature-selection shape (L1 zeroes each segment's irrelevant
    covariates independently). Completes the grouped-fitter family:
    LM/GLM/Huber/quantile/Cox/AFT and the LINEAR elastic net all have
    grouped twins; this is the penalized-GLM one.

    Like `glm_grouped` (and unlike `elastic_net_grouped`'s pure-Gram
    shape) the penalized IRLS re-weights every iteration, so each
    group's rows materialize in its worker's Arrow batch and the numpy
    backend (`_NpGroup`) runs the SAME start, sweep and loop as
    `glm_elastic_net`: upfront (reliability-weighted, when
    `weight_col`) sample feature stds, glmnet prox-Newton with the
    weighted-centered CD subproblem, unpenalized intercept, μ-clamp for
    binomial. `offset_col` follows the `glm_elastic_net` contract
    (η = Xβ + offset).

    Degenerate groups — n ≤ 1, out-of-domain labels, constant labels,
    bad weights (null/negative/NaN/Σω ≤ 0/≤ 1 effective row),
    non-finite offsets, singular subproblems — yield NULL estimates
    (the grouped NULL policy; note that under the default
    `na_action='omit'` a null OR NaN weight/offset drops its ROW before
    the fit like any other modeling column (na.drop treats NaN as
    missing) — the NULL policy catches what remains:
    negative/Σω ≤ 0, and null/NaN under 'keep').
    `deviance` is evaluated at the RETURNED
    β (unlike the single fit's historical exit convention — a fresh
    surface gets the clean contract; this holds under
    `exact_iterations` too — the pinned SQL evaluates deviance at the
    N-th β). `exact_iterations=N` runs exactly N penalized-IRLS solves
    per group with no convergence exit (the oracle-pin hook, same
    contract as `glm_elastic_net`).

    `reg_param` may be a COLUMN NAME (r12): each group fits at ITS OWN
    λ read from that column — the refit half of the per-tenant
    selection workflow (`glm_elastic_net_cv_grouped` →
    `cv_select_lambda` → join the chosen reg_param back by group →
    refit here). The column must be constant within each group and
    finite ≥ 0; a violating group (mixed/null/NaN/negative λ)
    NULL-degrades like every other grouped degeneracy. Returns long
    format: group_cols…, term, estimate, n_rows, n_nonzero,
    iterations, converged, deviance."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    lam_col = reg_param if isinstance(reg_param, str) else None
    spec = _glm_enet_spec(
        "glm_elastic_net_grouped", family,
        None if lam_col else [reg_param], elastic_net_param, standardize,
        max_iter, tol, max_sweeps, exact_iterations, var_power, nb_alpha,
    )
    if lam_col:
        if lam_col not in df.columns:
            raise ValueError(
                f"reg_param column {lam_col!r} not in the input frame"
            )
        # collision / type guards: a group-col or formula collision
        # crashed mid-job with an opaque worker error, and a non-numeric
        # column aborted every healthy group's Arrow batch
        if lam_col in group_cols:
            raise ValueError(
                f"reg_param column {lam_col!r} is also a group column"
            )
        if lam_col in (weight_col, offset_col):
            raise ValueError(
                f"reg_param column {lam_col!r} is also the "
                "weight/offset column"
            )
        from sparkglm_spark.formula import parse_formula

        parsed0 = parse_formula(formula)
        if lam_col == parsed0.target or lam_col in parsed0.predictors:
            raise ValueError(
                f"reg_param column {lam_col!r} is referenced by the "
                "formula — a penalty cannot also be a modeling column"
            )
        t = df.schema[lam_col].dataType.simpleString()
        if t not in ("double", "float", "int", "bigint", "smallint",
                     "tinyint") and not t.startswith("decimal"):
            raise ValueError(
                f"reg_param column {lam_col!r} must be numeric, got {t}"
            )
    encoded, x_cols, target = _design(
        df, formula, list(group_cols) + ([lam_col] if lam_col else []),
        na_action=na_action, weight_col=weight_col, offset_col=offset_col,
    )
    if lam_col:
        # double-cast so EVERY numeric λ type reaches the Arrow batch as
        # float64 (a DecimalType column ships decimal.Decimal objects
        # whose None crashed to_numpy instead of NULL-degrading; a double
        # NULL becomes NaN → isfinite → NULL)
        encoded = encoded.withColumn(lam_col, F.col(lam_col).cast("double"))
    names = list(x_cols)
    lam = None if lam_col else float(reg_param)

    def fit_group(pdf):
        g = _NpGroup(pdf, names, target, weight_col, offset_col, spec)
        ok, lam_g = g.clean(), lam
        if ok and lam_col is not None:
            # per-group λ: constant within the group, finite, ≥ 0 —
            # anything else NULL-degrades (the grouped policy)
            lv = pdf[lam_col].to_numpy(dtype=np.float64)
            ok = bool(
                np.all(np.isfinite(lv))
                and float(lv.min()) >= 0.0
                and float(lv.min()) == float(lv.max())
            )
            lam_g = float(lv[0])
        s = g.start() if ok else None
        beta, dev, nz = None, None, None
        if s is not None:
            try:
                g.fit([s], lam_g)
                # deviance at the RETURNED beta
                d = g.deviance(g.mu_at(s.beta))
                if np.all(np.isfinite(s.beta)) and np.isfinite(d):
                    beta, dev = s.beta, d
                    nz = _count_nonzero(names, beta)
            except (ValueError, np.linalg.LinAlgError):
                beta = None
        it, conv = (s.iters, s.conv) if s is not None else (0, False)
        return [
            (
                nm, float(beta[i]) if beta is not None else None, g.n, nz,
                it, bool(conv) if beta is not None else False, dev,
            )
            for i, nm in enumerate(names)
        ]

    return apply_grouped(
        encoded, df.schema, group_cols,
        [target, *x_cols, weight_col, offset_col, lam_col],
        "term string, estimate double, n_rows bigint, n_nonzero int, "
        "iterations int, converged boolean, deviance double",
        fit_group,
    )


def glm_elastic_net_path_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    reg_params: list[float],
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    weight_col: str | None = None,
    offset_col: str | None = None,
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> DataFrame:
    """Per-segment regularization PATH (VERDICT r12 #9) — the grouped
    sibling `glm_elastic_net_path` lacked: one warm-started descending-λ
    coefficient path per group, for per-tenant regularization
    diagnostics (which features enter at which λ, per segment). Each
    group's rows land in one Arrow batch and the numpy backend replays
    the single-fit path's exact conventions: fixed upfront stds
    (reliability-weighted under `weight_col`), the shared prox-Newton
    loop, λs DESCENDING with warm starts (`_lambda_path`; β carries
    across λs), deviance per λ at ITS final β, and deviance-based
    aic/bic with the lasso-df estimate (df = n_nonzero + intercept;
    bic's ln(n) keeps the ROW count — the glmnet nobs convention).
    Duplicate input λs re-expand to duplicate row blocks (the path
    contract). Families per `glm_elastic_net`.

    Degenerate groups (n ≤ 1, out-of-domain/constant labels, bad
    weights/offsets, non-finite values, solver failure) emit NULL
    estimate/deviance rows per (λ, term) — the grouped NULL policy,
    where the single-fit path raises. `exact_iterations=N` runs exactly
    N solves per λ (warm starts still carry β — the pin hook). Returns
    long format: group_cols…, reg_param, term, estimate, n_nonzero,
    iterations, deviance, aic, bic, converged."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    spec = _glm_enet_spec(
        "glm_elastic_net_path_grouped", family, reg_params,
        elastic_net_param, standardize, max_iter, tol, max_sweeps,
        exact_iterations, var_power, nb_alpha,
    )
    encoded, x_cols, target = _design(
        df, formula, list(group_cols), na_action=na_action,
        weight_col=weight_col, offset_col=offset_col,
    )
    names = list(x_cols)
    lam_in = sorted((float(v) for v in reg_params), reverse=True)

    def fit_group(pdf):
        g = _NpGroup(pdf, names, target, weight_col, offset_col, spec)
        s = g.start() if g.clean() else None

        def fit_lambda(lam):
            g.fit([s], lam)
            # deviance/aic/bic at THIS λ's final β (the path convention)
            dev = g.deviance(g.mu_at(s.beta))
            if not np.all(np.isfinite(s.beta)) or not np.isfinite(dev):
                return None
            nz = _count_nonzero(names, s.beta)
            dof = nz + (1 if g.i0 is not None else 0)
            return (s.beta, nz, s.iters, dev, dev + 2.0 * dof,
                    dev + float(np.log(g.n)) * dof, s.conv)

        path = None
        if s is not None:
            try:
                path = _lambda_path(reg_params, fit_lambda)
            except (ValueError, np.linalg.LinAlgError):
                path = None
        if path is None:
            return [
                (lam, nm, None, None, 0, None, None, None, False)
                for lam in lam_in
                for nm in names
            ]
        return [
            (lam, nm, float(b[j]), nz, it, dev, aic, bic, bool(conv))
            for lam, (b, nz, it, dev, aic, bic, conv) in path
            for j, nm in enumerate(names)
        ]

    return apply_grouped(
        encoded, df.schema, group_cols,
        [target, *x_cols, weight_col, offset_col],
        "reg_param double, term string, estimate double, "
        "n_nonzero int, iterations int, deviance double, aic double, "
        "bic double, converged boolean",
        fit_group,
    )


def glm_elastic_net_cv_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    reg_params: list[float],
    fold_expr,
    n_folds: int = 5,
    elastic_net_param: float = 1.0,
    family: str = "binomial",
    standardize: bool = True,
    na_action: str = "omit",
    max_iter: int = 100,
    tol: float = 1e-10,
    max_sweeps: int = 1000,
    weight_col: str | None = None,
    offset_col: str | None = None,
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
) -> DataFrame:
    """Per-segment λ selection for the sparse GLM — K-fold CV of
    `glm_elastic_net` inside EVERY group (the per-tenant workflow the
    grouped fitter implies: each segment picks its own regularization).
    Completes the r11 grouped sparse GLM with its CV sibling (VERDICT
    r11 #8).

    Like `glm_elastic_net_grouped`, each group's rows materialize in
    one Arrow batch and the numpy backend replays the distributed
    engine's exact conventions per fold model: training-only moments
    (reliability-weighted stds Σω − Σω²/Σω under `weight_col`), logit/
    log init minus the mean offset, the SAME lock-step prox-Newton loop
    over the fold models, λs DESCENDING with per-fold warm starts,
    held-out deviance at each λ's final β — so a (group, λ, fold) row
    matches `glm_elastic_net_cv` run cold on that group's frame (tested
    at 1e-8).

    Degeneracy policy (grouped NULL): a fold model with ≤ 1 effective
    training row or a constant training label is SKIPPED (the engine
    convention — no row); a group that is wholly unfittable (bad
    weights/labels/fold ids outside [0, n_folds), non-finite values,
    NO fittable fold) emits one NULL row per λ (fold NULL) so the
    group stays visible. `exact_iterations=N` runs exactly N solves
    per (group, λ, fold) with no convergence exit (the oracle-pin
    hook; converged reports True, the family convention). Returns
    long format: group_cols…, reg_param, fold, n_train, n_val,
    deviance_train, deviance_val, n_nonzero, iterations, converged.

    ROUTING — this vs per-group `glm_elastic_net_cv` (VERDICT r12 #7):
    this fitter's parallelism unit is the GROUP — each group's whole
    (λ-grid × folds) CV runs serially inside ONE Arrow batch on one
    core. That is exactly right for MANY SMALL groups (thousands of
    tenants, each fitting in memory: one shuffle, no driver loop). For
    FEW groups × a BIG λ grid the shape inverts: a 5-group × 50-λ ×
    5-fold run occupies 5 cores while each serializes 250 fits, and
    the distributed lock-step engine — `glm_elastic_net_cv` called
    per group, every fold advancing from one aggregation per outer
    iteration — uses the whole cluster per group instead. Heuristic:
    route by `n_groups ≫ n_cores` (grouped) vs `n_groups ≲ n_cores
    and len(reg_params) × n_folds large` (lock-step per group). A grid
    of ≥ 25 λs here emits a UserWarning pointing at the lock-step
    route (work per group grows with the grid; rows per group with
    the data — the warning fires on the shape you can see upfront)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    spec = _glm_enet_spec(
        "glm_elastic_net_cv_grouped", family, reg_params,
        elastic_net_param, standardize, max_iter, tol, max_sweeps,
        exact_iterations, var_power, nb_alpha,
    )
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2, got {n_folds!r}")
    if len(set(float(v) for v in reg_params)) >= 25:
        import warnings

        warnings.warn(
            f"glm_elastic_net_cv_grouped with {len(reg_params)} lambdas "
            f"x {n_folds} folds runs the whole grid SERIALLY inside each "
            "group's Arrow batch; with few groups and a big grid, "
            "per-group glm_elastic_net_cv (the distributed lock-step "
            "engine) uses the cluster per group instead — see the "
            "ROUTING docstring",
            UserWarning,
            stacklevel=2,
        )
    if isinstance(fold_expr, str):
        fold_expr = F.col(fold_expr)
    base = df.withColumn("__fold", fold_expr.cast("int"))
    if na_action == "omit":
        # engine parity: glm_elastic_net_cv routes '__fold' through
        # _encode_formula's NA-omit, so a null fold id drops its ROW;
        # _design treats keep_cols as pass-through, which would
        # otherwise NULL the whole group on one bad row
        base = base.where(F.col("__fold").isNotNull())
    encoded, x_cols, target = _design(
        base, formula, list(group_cols) + ["__fold"], na_action=na_action,
        weight_col=weight_col, offset_col=offset_col,
    )
    names = list(x_cols)
    lam_in = sorted((float(v) for v in reg_params), reverse=True)
    nf = int(n_folds)

    def fit_group(pdf):
        g = _NpGroup(pdf, names, target, weight_col, offset_col, spec)
        fd = pdf["__fold"].to_numpy()
        states = []
        if g.clean() and bool(np.all((fd >= 0) & (fd < nf))):
            # per-fold models with training-only fixed stats (engine
            # parity); fold slices are cut ONCE, not per (λ, fold)
            for j in sorted(set(int(v) for v in np.unique(fd))):
                s = g.start(fd != j, j)
                if s is not None:
                    states.append(s)

        def fit_lambda(lam):
            g.fit(states, lam)
            recs = []
            for s in states:
                # held-out split at the final beta; the row is emitted
                # even if the fit diverged (NaN/inf deviances) — the
                # engine does, and a silently missing (λ, fold) cell
                # would break the cold-parity contract
                mu = g.mu_at(s.beta)
                mask = s.train[0]
                recs.append((
                    lam, int(s.j), int(s.n), int(g.n - s.n),
                    g.deviance(mu, mask), g.deviance(mu, ~mask),
                    _count_nonzero(names, s.beta), s.iters, bool(s.conv),
                ))
            return recs

        path = None
        if states:
            try:
                path = _lambda_path(reg_params, fit_lambda)
            except (ValueError, np.linalg.LinAlgError):
                path = None
        if path is None:
            return [(lam,) + (None,) * 8 for lam in lam_in]
        return [r for _lam, recs in path for r in recs]

    return apply_grouped(
        encoded, df.schema, group_cols,
        ["__fold", target, *x_cols, weight_col, offset_col],
        "reg_param double, fold int, n_train bigint, n_val bigint, "
        "deviance_train double, deviance_val double, n_nonzero int, "
        "iterations int, converged boolean",
        fit_group,
    )


def cv_select_lambda(
    cv: DataFrame,
    group_cols: list[str] | None = None,
    rule: str = "min",
    metric_col: str = "deviance_val",
) -> DataFrame:
    """λ selection over a CV result frame — the glmnet `lambda.min` /
    `lambda.1se` rules, as one declarative aggregation chain (works on
    `glm_elastic_net_cv` output and, with `group_cols`, on
    `glm_elastic_net_cv_grouped`'s per-segment grid):

      per (group?, λ):  cvm = mean over folds of deviance_val
                        cvse = stddev_samp(deviance_val)/√k  (NULL at
                               k = 1 — no spread estimate from one fold)
      rule='min':  the λ minimizing cvm
      rule='1se':  the LARGEST λ with cvm ≤ cvm(λ_min) + cvse(λ_min)
                   (the parsimony rule; falls back to λ_min when
                   cvse(λ_min) is NULL)

    Degenerate-fold rows (fold NULL — the grouped NULL policy) and
    diverged rows (NaN deviance) are EXCLUDED from the means, and the
    COMPARISON is restricted to λs with the group's maximal scoreable
    fold count — a λ that diverged on its hardest fold must not win on
    an optimistic partial mean (glmnet compares every λ over the same
    observation set; review r12). A group with no scoreable row emits
    no output row (it already signalled via its NULL CV rows). Ties on
    cvm break toward the LARGER λ (more regularization at equal error —
    the glmnet direction). Returns one row per group: group_cols…,
    reg_param, cvm, cvse, n_folds.

    `metric_col` (r13) names the held-out loss column — the default
    'deviance_val' fits the GLM CVs; pass 'rmse_val' to select over the
    LINEAR `elastic_net_cv` frame (glmnet applies the same
    min/1se rules to any cv loss), completing the λ workflow for both
    penalized families."""
    from pyspark.sql import Window

    if rule not in ("min", "1se"):
        raise ValueError(f"rule must be 'min' or '1se', got {rule!r}")
    gcols = list(group_cols or [])
    if metric_col not in cv.columns:
        raise ValueError(
            f"metric_col {metric_col!r} not in the CV frame "
            f"{sorted(cv.columns)}"
        )
    dv = F.col(metric_col)
    ok = dv.isNotNull() & ~F.isnan(dv) & F.col("fold").isNotNull()
    # Duplicate reg_params in the CV grid emit duplicate (λ, fold)
    # blocks (documented on glm_elastic_net_cv/_cv_grouped); counting
    # those rows as extra folds would inflate n_folds for duplicated λs
    # and evict every non-duplicated λ from the max-fold comparison
    # (ADVICE r12). The blocks are exact replicas of a deterministic
    # fit, so one row per (group, λ, fold) is the whole signal.
    per_lam = (
        cv.where(ok)
        .dropDuplicates([*gcols, "reg_param", "fold"])
        .groupBy(*gcols, "reg_param")
        .agg(
            F.avg(dv).alias("cvm"),
            (F.stddev_samp(dv) / F.sqrt(F.count(F.lit(1)))).alias("cvse"),
            F.count(F.lit(1)).alias("n_folds"),
        )
    )
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    per_lam = per_lam.withColumn(
        "__maxk", F.max("n_folds").over(w)
    ).where(F.col("n_folds") == F.col("__maxk"))
    best = per_lam.withColumn(
        "__best",
        F.min(F.struct(F.col("cvm"), (-F.col("reg_param")).alias("nl"))).over(w),
    )
    if rule == "min":
        sel = best.where(
            (F.col("cvm") == F.col("__best.cvm"))
            & (F.col("reg_param") == -F.col("__best.nl"))
        )
    else:
        # threshold = cvm(λ_min) + cvse(λ_min); cvse carried through the
        # same struct-min trick (a second window keyed on the argmin row)
        thr = best.withColumn(
            "__thr",
            F.max(
                F.when(
                    (F.col("cvm") == F.col("__best.cvm"))
                    & (F.col("reg_param") == -F.col("__best.nl")),
                    F.col("cvm") + F.coalesce(F.col("cvse"), F.lit(0.0)),
                )
            ).over(w),
        )
        sel = thr.withColumn(
            "__pick", F.max(F.when(F.col("cvm") <= F.col("__thr"),
                                   F.col("reg_param"))).over(w)
        ).where(F.col("reg_param") == F.col("__pick"))
    out = sel.select(*gcols, "reg_param", "cvm", "cvse", "n_folds")
    return out.orderBy(*gcols) if gcols else out
