"""Binomial GLM via IRLS (Fisher scoring) — the reference's GLM.scala
re-expressed Spark-first.

Reference behavior reproduced (cited file:line into /root/reference):
- IRLS loop (fitSingleBinomial GLM.scala:254-315 / fitMultipleBinomial
  :410-468): init μ = ȳ, η = g(μ); iterate { grad = g'(μ),
  w = 1/(Var(μ)·grad²), z = η + (y−μ)·grad − offset, WLS solve,
  η = Xβ + offset, μ = g⁻¹(η) } until |Δdeviance| < tol (absolute — the
  reference quirk, SURVEY §2.13.3).
- stats: stdErr = √diag((X'WX)⁻¹) from the final WLS (utils.scala:78,110),
  deviance/nullDeviance (GLM.scala:162-170), Pearson χ² (:89-101), binomial
  loglik (:132-143), AIC/dispersion/df (createObj :59-88).
- Improvements over the reference, by design (SURVEY §2.13.1-2): offset and
  group-size m work in the distributed path (they are just columns), and the
  family/link surface is pluggable.

Scale design: z, w, μ, η are *expressions over the cached working columns*,
never materialized; each IRLS iteration is ONE aggregation job (weighted
Gram ⊕ deviance fused into a single pass — the reference runs ≥2 jobs per
iteration over unbounded lineage, GLM.scala:452-462). Driver state is O(k²).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkglm_spark.formula import expand_dot, parse_formula
from sparkglm_spark.functions import special
from sparkglm_spark.functions.encoding import (
    model_matrix,
    model_matrix_levels,
    omit_na,
)
from sparkglm_spark.functions.families import (
    deviance_np,
    get_family,
    irls_mu_np,
    irls_wz_np,
    loglik_np,
)
from sparkglm_spark.functions.links import get_link
from sparkglm_spark.operators.lm import (
    linear_combination,
    prediction_over_raw,
    solve_normal,
)
from sparkglm_spark.plans.gram import gram_sums, gram_unpack
from sparkglm_spark.plans.partitioning import collect_small, ensure_parallel


def _check_iterations(exact_iterations: int | None, max_iter: int) -> None:
    """The iteration-count guard of the unpenalized GLM entry points, run
    on the driver before any job."""
    if exact_iterations is not None and exact_iterations < 1:
        raise ValueError(f"exact_iterations must be >= 1, got {exact_iterations}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")


@dataclass
class _IrlsRun:
    beta: np.ndarray | None  # the last solve's β (None: no solve ran)
    cov: object  # the last solve's second value ((X'WX)⁻¹ or None)
    iters: int  # solves run
    converged: bool
    dev_start: float | None  # deviance at the start (the null deviance)
    stats: object  # the breaking pass's statistics when converged


def _irls(stats_at, solve, exact, tol, max_iter) -> _IrlsRun:
    """The unpenalized GLM IRLS loop (fitSingleBinomial GLM.scala:254-315),
    one for every backend. Each pass gets `stats_at(β) -> (deviance,
    stats)` at the current β — at the caller's start μ when β is None —
    and stops once |Δdeviance| ≤ `tol` from the second pass on (the
    reference's absolute test, SURVEY §2.13.3); otherwise `solve(stats) ->
    (β, cov)` runs and counts. `exact=N` runs exactly N solves with no
    test. `stats_at` returning None (a non-finite deviance) ends the loop
    unconverged."""
    beta = cov = dev_prev = dev_start = None
    n = 0
    while n < (exact if exact is not None else max_iter):
        got = stats_at(beta)
        if got is None:
            break
        dev, stats = got
        if dev_start is None:
            dev_start = dev
        if exact is None and dev_prev is not None and abs(dev - dev_prev) <= tol:
            return _IrlsRun(beta, cov, n, True, dev_start, stats)
        beta, cov = solve(stats)
        dev_prev = dev
        n += 1
    return _IrlsRun(beta, cov, n, False, dev_start, None)


@dataclass
class GLM:
    """Fitted GLM (reference: case class GLM, GLM.scala:35-51)."""

    xnames: list[str]
    yname: str
    coefs: np.ndarray
    std_err: np.ndarray
    df_residual: float
    df_null: float
    deviance: float
    null_deviance: float
    p_dispersion: float
    pearson: float
    loglik: float
    family: str
    link: str
    aic: float
    iter: int
    nrow: int
    levels: dict[str, list[str]] = field(default_factory=dict)
    call: str = ""
    cov_params: np.ndarray | None = None  # (X'WX)⁻¹ (·φ̂ for quasi) — Wald

    @staticmethod
    def fit(
        df: DataFrame,
        y_col: str,
        x_cols: list[str],
        family: str = "binomial",
        link: str | None = None,
        m_col: str | None = None,
        offset_col: str | None = None,
        tol: float = 1e-6,
        max_iter: int = 50,
        verbose: bool = False,
        exact_iterations: int | None = None,
        var_power: float = 1.5,
        nb_alpha: float = 1.0,
        weight_col: str | None = None,
    ) -> "GLM":
        """`exact_iterations`: run EXACTLY that many IRLS solves (no
        convergence test, no warning) — makes the whole trajectory a
        deterministic closed-form function of the data, which is what the
        driver's fixed-iteration SQL oracles replay (VERDICT r01 #1).
        `var_power`: the tweedie variance exponent p in (1, 2); `nb_alpha`:
        the negbinomial dispersion α > 0 — each ignored by every other
        family.

        `weight_col` (r11): per-row PRIOR weights with the R `glm(weights=)`
        / MLlib `GeneralizedLinearRegression(weightCol)` conventions — the
        IRLS working weights, deviance, Pearson χ² and log-likelihood all
        carry ω; an INTEGER weight is exactly row replication for every
        sum-statistic (coefs/deviance/Pearson identical — tested), while
        the degrees of freedom follow R's `nobs`: rows with ω > 0 count,
        so df_residual = #{ω>0} − k (a replicated frame reports more df —
        the one place frequency- and replication-semantics diverge).
        Zero weights are allowed (the row carries no information and is
        excluded from nobs, like R); null/negative weights and Σω ≤ 0
        raise upfront. Composes with `m_col` and `offset_col`."""
        _check_iterations(exact_iterations, max_iter)
        fam = get_family(family, var_power, alpha=nb_alpha)
        if link is None:
            link = fam.default_link
        if link.lower() not in fam.links:
            raise ValueError(
                f"link {link!r} is not valid for family {fam.name!r}; "
                f"supported: {fam.links}"
            )
        if m_col and not fam.supports_m:
            raise ValueError(f"m_col is only meaningful for the binomial family")
        lnk = get_link(link)
        k = len(x_cols)

        y = F.col(y_col)
        m = F.col(m_col) if m_col else F.lit(1.0)
        offset = F.col(offset_col) if offset_col else F.lit(0.0)
        wt = F.col(weight_col).cast("double") if weight_col else None
        wr = wt if wt is not None else F.lit(1.0)  # per-row prior weight ω

        base_cols = [y_col, *x_cols] + [
            c for c in (m_col, offset_col, weight_col) if c
        ]
        # single-split inputs would otherwise run EVERY IRLS aggregation on
        # one core; the cached working frame is re-read each iteration, so
        # fan it out once up front (no-op when the input is already split)
        work = ensure_parallel(df.select(*base_cols)).persist()

        # ---- init: μ = ȳ (GLM.scala:263,420-424), η = g(μ) --------------
        init_aggs = [F.sum(wr * y).alias("sy"), F.count(F.lit(1)).alias("n")]
        if wt is not None:
            init_aggs += [
                F.sum(wt).alias("sw"),
                F.min(wt).alias("minw"),
                F.count(wt).alias("n_w"),
                F.sum((wt > 0).cast("long")).alias("n_pos"),
                # Σ log ω over ω > 0 — the R aic.gaussian/Gamma term
                F.sum(F.when(wt > 0, F.log(wt)).otherwise(F.lit(0.0))).alias(
                    "slogw"
                ),
            ]
        row = collect_small(work.agg(*init_aggs))[0]
        n = int(row["n"])
        if wt is not None:
            from sparkglm_spark.operators.lm import check_weight_domain

            check_weight_domain(
                weight_col, n=n, n_w=int(row["n_w"]),
                min_w=row["minw"], sum_w=row["sw"],
            )
            nw = float(row["sw"])
            n_obs = int(row["n_pos"])  # R nobs: rows with ω > 0
            slogw = float(row["slogw"])
        else:
            nw = float(n)
            n_obs = n
            slogw = 0.0
        y_mean = float(row["sy"]) / nw

        # μ as an expression given current β. None → init: the reference's
        # μ = ȳ (GLM.scala:263,424) for the Bernoulli path; with grouped m
        # that init is invalid whenever ȳ > min(m) (the reference's grouped
        # path is broken anyway — SURVEY §2.13.2), so use R glm's robust
        # binomial start μ = m·(y+½)/(m+1) there.
        def mu_expr(beta: np.ndarray | None) -> Column:
            if beta is None:
                if m_col:
                    return m * (y + F.lit(0.5)) / (m + F.lit(1.0))
                return F.lit(y_mean)
            return lnk.unlink(linear_combination(x_cols, beta) + offset, m)

        def pearson_row(mu: Column) -> Column:  # GLM.scala:89-101
            return wr * ((y - mu) * (y - mu) / fam.variance(mu, m))

        # per-row loglik as a Column of μ: pure SQL for the Bernoulli
        # binomial (log C(1,y) = 0, GLM.scala:132-143); grouped binomial,
        # poisson and negbinomial need lgamma (`loglik_np` in an Arrow
        # pandas UDF); a zero for the rest, whose ll derives from the
        # deviance (gaussian, gamma) or does not exist (quasi, tweedie).
        # The SQL forms ride every IRLS pass, so a converged fit runs no
        # stats job; the UDF families (and tweedie) keep the separate
        # stats pass instead of paying the UDF per pass.
        bernoulli = fam.name == "binomial" and m_col is None
        ll_udf_family = fam.name in ("binomial", "poisson", "negbinomial")
        ll_per_pass = (
            bernoulli
            or fam.name in ("gaussian", "gamma")
            or getattr(fam, "quasi", False)
        )

        def ll_row(mu: Column) -> Column:
            if bernoulli:
                p = mu / m
                return F.when(y > 0, y * F.log(p)).otherwise(
                    F.lit(0.0)
                ) + F.when(m - y > 0, (m - y) * F.log(F.lit(1.0) - p)).otherwise(
                    F.lit(0.0)
                )
            if not ll_udf_family:
                return F.lit(0.0)
            from pyspark.sql.functions import pandas_udf

            name, a = fam.name, getattr(fam, "alpha", 1.0)

            @pandas_udf("double")
            def _ll(*cols: pd.Series) -> pd.Series:
                # (y, m, μ) for grouped binomial, else (y, μ)
                yv, *mv, muv = (c.to_numpy() for c in cols)
                return pd.Series(loglik_np(name, yv, muv, *mv, nb_alpha=a))

            return _ll(y, m, mu) if name == "binomial" else _ll(y, mu)

        def _proj_cols(mu: Column, eta: Column) -> list[Column]:
            """The z/w/devt/stats projection for a given μ/η pair
            (GLM.scala:282-290,359-395) — built once per μ-form."""
            grad = lnk.lprime(mu, m)
            w = wr / (fam.variance(mu, m) * grad * grad)
            z = eta + (y - mu) * grad - offset
            extra = [pearson_row(mu).alias("__pear")]
            if ll_per_pass:
                extra.append((wr * ll_row(mu)).alias("__ll"))
            return [
                *[F.col(c) for c in x_cols],
                w.alias("__w"),
                z.alias("__z"),
                (wr * fam.deviance_term(y, mu, m)).alias("__devt"),
                *extra,
            ]

        def _gram_aggs() -> list[Column]:
            aggs = gram_sums(
                [F.col(c) for c in x_cols], F.col("__w"), F.col("__z")
            )
            aggs.append((F.lit(2.0) * F.sum(F.col("__devt"))).alias("dev"))
            # piggyback the model-stats sums (Pearson χ², pure-SQL loglik):
            # when the loop exits via convergence, the breaking aggregation
            # already evaluated them at the FINAL β, so no extra stats job
            # runs (GLM.scala:89-101,132-143 semantics, one pass earlier)
            aggs.append(F.sum(F.col("__pear")).alias("pearson"))
            if ll_per_pass:
                aggs.append(F.sum(F.col("__ll")).alias("ll"))
            return aggs

        # β-independent pieces are built ONCE and reused every iteration
        # (r14, guide §1.2 per-task → driver work): constructing the
        # ~k²/2+k+3 aggregate Columns and the μ/w/z trees per iteration
        # cost ~0.4 s of py4j round-trips — as much as the job itself.
        # Per iteration only the Σβᵢxᵢ term changes; it is injected as a
        # single selectExpr string (`sql_linear_combination`: identical
        # left-associated tree, bit-exact literals), so the cached trees
        # reading `__xb` evaluate exactly what the literal form did.
        from sparkglm_spark.operators.lm import sql_linear_combination

        _it_cache: dict[str, list[Column]] = {}

        def zw_gram_frame(beta: np.ndarray | None) -> DataFrame:
            """ONE job per IRLS iteration: a projection computes z/w/μ
            once per row, then the weighted-Gram ⊕ deviance aggregation
            runs over those plain columns. Splitting projection from
            aggregation keeps the link/family transcendentals out of the
            28 aggregate expressions — the generated code is ~k² products
            over 3 columns instead of k² copies of the μ chain.
            Arithmetic per value is unchanged (w·xᵢ·xⱼ associates
            identically), so results are bit-identical."""
            if beta is None:
                mu = mu_expr(None)
                eta = lnk.link(mu, m)
                return work.select(*_proj_cols(mu, eta)).agg(*_gram_aggs())
            if not _it_cache:
                eta_c = F.col("__xb") + offset
                _it_cache["proj"] = _proj_cols(lnk.unlink(eta_c, m), eta_c)
                _it_cache["aggs"] = _gram_aggs()
            frame = work.selectExpr(
                "*", f"({sql_linear_combination(x_cols, beta)}) AS __xb"
            )
            return frame.select(*_it_cache["proj"]).agg(*_it_cache["aggs"])

        def stats_at(beta: np.ndarray | None):
            row = collect_small(zw_gram_frame(beta))[0]
            return float(row["dev"]), row  # deviance of THIS β's μ

        def solve(row):
            if verbose:
                print(f"IRLS solve at deviance={float(row['dev']):.10g}")
            return solve_normal(*gram_unpack(row, k))

        # ---- IRLS loop: ONE job per iteration ---------------------------
        run = _irls(stats_at, solve, exact_iterations, tol, max_iter)
        beta, xtwxi = run.beta, run.cov
        if not run.converged and exact_iterations is None:
            import warnings

            warnings.warn(f"IRLS did not converge in {max_iter} iterations")

        # ---- final stats ------------------------------------------------
        # convergence exit: the breaking aggregation already evaluated the
        # piggybacked Pearson/loglik sums at the FINAL β — reuse that row
        # and run no extra stats job. Fixed-iteration / UDF-loglik paths
        # still run one fused stats pass at the final β.
        if run.converged and ll_per_pass:
            stat_row = run.stats
        else:
            mu = mu_expr(beta)
            stat_row = collect_small(
                work.agg(
                    F.sum(pearson_row(mu)).alias("pearson"),
                    F.sum(wr * ll_row(mu)).alias("ll"),
                    (F.lit(2.0) * F.sum(wr * fam.deviance_term(y, mu, m))).alias(
                        "dev"
                    ),
                )
            )[0]
        pearson = float(stat_row["pearson"])
        deviance = float(stat_row["dev"])

        if getattr(fam, "quasi", False):
            # quasi-likelihood: no density → no loglik/AIC (R reports NA)
            ll = float("nan")
            aic = float("nan")
        elif fam.name == "gaussian":
            # MLE σ² = deviance/n_obs; R's logLik.glm shape (+ ½Σlog ω
            # weighted), with ONE deliberate deviation (ADVICE r11):
            # n_obs = #{ω>0}, NOT R aic.gaussian's length(y) — R keeps
            # zero-weight rows in nobs AND in Σlog wt, so a single ω = 0
            # drives its aic to Inf (log 0); here a zero-weight row is
            # exactly absent from ll/aic, consistent with this fitter's
            # df convention (#{ω>0} − k). Unweighted: identical to R.
            # σ counts as a parameter in the AIC.
            ll = (
                -0.5 * n_obs * (np.log(2.0 * np.pi * deviance / n_obs) + 1.0)
                + 0.5 * slogw
            )
            aic = -2.0 * ll + 2.0 * (k + 1)
        elif fam.name == "gamma":
            # R's aic.Gamma convention: n <- sum(wt), dispersion =
            # deviance/Σω (NOT the row count — code-review r11), then
            # ll = Σ ω·log dgamma(y; shape=1/disp, scale=μ·disp);
            # lgamma(shape) is constant → the per-row part is pure SQL.
            # Unweighted Σω = n, so nothing moves.
            disp = deviance / nw
            shape = 1.0 / disp
            import math

            mu = mu_expr(beta)
            ll_gamma = collect_small(
                work.agg(
                    F.sum(
                        wr
                        * (
                            (F.lit(shape - 1.0)) * F.log(y)
                            - y / (mu * F.lit(disp))
                            - F.lit(shape) * F.log(mu * F.lit(disp))
                        )
                    ).alias("llp")
                )
            )[0]
            ll = float(ll_gamma["llp"]) - nw * math.lgamma(shape)
            aic = -2.0 * ll + 2.0 * (k + 1)  # dispersion counts as a param
        elif fam.name == "tweedie":
            # no closed-form density (Dunn-Smyth series out of scope);
            # statsmodels' Tweedie reports NaN the same way — deviance
            # and Pearson carry goodness-of-fit
            ll = float("nan")
            aic = float("nan")
        else:
            ll = float(stat_row["ll"])
            aic = -2.0 * ll + 2.0 * k  # GLM.scala:70
        work.unpersist()

        std_err = np.sqrt(np.diag(xtwxi))  # utils.scala:78,110 (unscaled)
        # R nobs convention: ω = 0 rows carry no information and do not
        # count toward the residual df (n_obs == n unweighted)
        df_residual = n_obs - k  # GLM.scala:67
        if getattr(fam, "quasi", False):
            # the quasi point: SE and Wald covariance scale by the Pearson
            # dispersion φ̂ = χ²/(n−k) (β itself is the base family's —
            # φ cancels from the IRLS weights)
            phi = pearson / df_residual
            std_err = std_err * float(np.sqrt(phi))
            xtwxi = xtwxi * phi
        return GLM(
            xnames=list(x_cols),
            yname=y_col,
            coefs=np.asarray(beta, dtype=np.float64),
            std_err=std_err,
            df_residual=float(df_residual),
            df_null=float(n_obs - 1),
            deviance=deviance,
            null_deviance=run.dev_start,
            p_dispersion=pearson / df_residual,  # GLM.scala:69
            pearson=pearson,
            loglik=ll,
            family=fam.name,
            link=lnk.name,
            aic=aic,
            iter=run.iters,
            nrow=n,
            cov_params=np.asarray(xtwxi, dtype=np.float64),
        )

    # ---- scoring ----------------------------------------------------------

    def predict(
        self,
        df: DataFrame,
        output_col: str = "prediction",
        type: str = "response",
        interval: str | None = None,
        level: float = 0.95,
    ) -> DataFrame:
        """Score new data; type='response' gives μ, 'link' gives η. Keeps
        input rows untouched; encoding applied inline (see LM.predict).

        `interval='confidence'` appends (se_link, lo, hi): the Wald
        interval η ± z·√(x'(X'WX)⁻¹x) built on the LINK scale (where the
        normal approximation lives) and, for type='response', mapped
        through the inverse link — least/greatest of the two mapped
        bounds, so decreasing links (gamma's inverse) keep lo ≤ hi.
        se_link always reports the link-scale SE (the R predict.glm
        `se.fit` convention). One codegen projection, no shuffle."""
        lnk = get_link(self.link)
        eta = prediction_over_raw(self.xnames, self.coefs, self.levels, df.columns)
        out = eta if type == "link" else lnk.unlink(eta, F.lit(1.0))
        scored = df.withColumn(output_col, out)
        if interval is None:
            return scored
        if interval != "confidence":
            raise ValueError(
                "interval must be None or 'confidence' (response-scale "
                "prediction intervals need a dispersion model per family)"
            )
        if self.cov_params is None:
            raise ValueError(
                "this model carries no cov_params (older persisted file?) — "
                "refit to enable intervals"
            )
        if not 0.0 < level < 1.0:
            raise ValueError("level must be in (0, 1)")
        from sparkglm_spark.functions.special import norm_ppf
        from sparkglm_spark.operators.lm import scoring_feature_exprs

        feats = scoring_feature_exprs(self.xnames, self.levels, df.columns)
        k = len(self.xnames)
        var = F.lit(0.0)
        for i in range(k):
            for j in range(k):
                var = var + F.lit(float(self.cov_params[i, j])) * feats[i] * feats[j]
        se = F.sqrt(var)
        zq = float(norm_ppf(0.5 + level / 2.0))
        lo_eta = eta - F.lit(zq) * se
        hi_eta = eta + F.lit(zq) * se
        if type == "link":
            lo, hi = lo_eta, hi_eta
        else:
            a = lnk.unlink(lo_eta, F.lit(1.0))
            b = lnk.unlink(hi_eta, F.lit(1.0))
            lo, hi = F.least(a, b), F.greatest(a, b)
        return (
            scored.withColumn("se_link", se)
            .withColumn("lo", lo)
            .withColumn("hi", hi)
        )

    def summary(self) -> "GLMSummary":
        return GLMSummary(self)


@dataclass
class GLMSummary:
    """reference: GLM.summary, GLM.scala:998-1025."""

    model: GLM

    @property
    def z_vals(self) -> np.ndarray:
        return self.model.coefs / self.model.std_err

    @property
    def p_vals(self) -> np.ndarray:
        return np.array([special.norm_pvalue_two_sided(z) for z in self.z_vals])

    @property
    def formula(self) -> str:
        return f"{self.model.yname} ~ " + " + ".join(self.model.xnames)

    def as_dict(self) -> dict:
        m = self.model
        return {
            "call": m.call or self.formula,
            "family": m.family,
            "link": m.link,
            "coefficients": {
                name: {
                    "estimate": float(c),
                    "std_error": float(s),
                    "z_value": float(z),
                    "p_value": float(p),
                }
                for name, c, s, z, p in zip(
                    m.xnames, m.coefs, m.std_err, self.z_vals, self.p_vals
                )
            },
            "deviance": m.deviance,
            "null_deviance": m.null_deviance,
            "dispersion": m.p_dispersion,
            "pearson": m.pearson,
            "loglik": m.loglik,
            "aic": m.aic,
            "iter": m.iter,
            "df": (m.df_null, m.df_residual),
            "n": m.nrow,
            # glm_nb fits carry the estimated dispersion (MASS summary
            # prints "Theta: ... Std. Err.: ..."); absent → plain glm
            **(
                {"theta": m.theta, "se_theta": m.se_theta}
                if getattr(m, "theta", None) is not None
                else {}
            ),
        }

    def __str__(self) -> str:
        m = self.model
        lines = [
            "Model:",
            self.formula,
            f"Family: {m.family}    Link: {m.link}",
            "",
            "Coefficients:",
            f"{'':<24}{'Estimate':>14}{'Std. Error':>14}{'z value':>12}{'Pr(>|z|)':>12}",
        ]
        for name, c, s, z, p in zip(m.xnames, m.coefs, m.std_err, self.z_vals, self.p_vals):
            lines.append(f"{name:<24}{c:>14.6g}{s:>14.6g}{z:>12.4f}{p:>12.4g}")
        lines += [
            "",
            f"Null deviance: {m.null_deviance:.6g} on {m.df_null:.0f} degrees of freedom",
            f"Residual deviance: {m.deviance:.6g} on {m.df_residual:.0f} degrees of freedom",
            f"AIC: {m.aic:.6g}    Dispersion: {m.p_dispersion:.6g}",
            f"Number of Fisher Scoring iterations: {m.iter}",
            *(
                [
                    f"Theta: {m.theta:.6g}    Std. Err.: {m.se_theta:.6g}"
                    if m.se_theta is not None
                    else f"Theta: {m.theta:.6g}"
                ]
                if getattr(m, "theta", None) is not None
                else []
            ),
        ]
        return "\n".join(lines)


def _glm_design(
    df: DataFrame, formula: str, extra: list[str], na_action: str
) -> tuple[DataFrame, str, list[str], dict[str, list[str]]]:
    """Shared formula → model-matrix block for the GLM front-ends
    (`glm`, `glm_nb`): parse, '.'-expand excluding the pass-through
    columns, collision-guard, NA-omit, encode categoricals. Returns
    (encoded, target, x_cols, levels)."""
    # exclude the pass-through columns from '.' expansion — 'y ~ .' with
    # a weight/m/offset column would otherwise duplicate it as a
    # covariate AND a pass-through (ambiguous-column crash)
    parsed = expand_dot(
        parse_formula(formula), [c for c in df.columns if c not in extra]
    )
    # collision guard (r14 — lm.py::_encode_formula's twin): an
    # m/offset/weight column EXPLICITLY referenced by the formula would
    # be selected twice → opaque mid-plan AMBIGUOUS_REFERENCE
    bad = [c for c in extra if c == parsed.target or c in parsed.predictors]
    if bad:
        raise ValueError(
            f"column(s) {bad} are both formula (modeling) columns and "
            "auxiliary columns (m/offset/weight) — a column cannot play "
            "both roles"
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
    return encoded, parsed.target, x_cols, levels


def glm(
    df: DataFrame,
    formula: str,
    family: str = "binomial",
    link: str | None = None,
    m_col: str | None = None,
    offset_col: str | None = None,
    tol: float = 1e-6,
    max_iter: int = 50,
    na_action: str = "omit",
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
    weight_col: str | None = None,
) -> GLM:
    """Formula front-end mirroring the LM one (reference overload explosion
    GLM.scala:475-995 collapses to keyword args — SURVEY §2.11 M7).
    `weight_col`: per-row prior weights (`GLM.fit` — the R glm(weights=) /
    MLlib GeneralizedLinearRegression weightCol conventions)."""
    _check_iterations(exact_iterations, max_iter)
    extra = [c for c in (m_col, offset_col, weight_col) if c]
    encoded, target, x_cols, levels = _glm_design(df, formula, extra, na_action)
    model = GLM.fit(
        encoded,
        y_col=target,
        x_cols=x_cols,
        family=family,
        link=link,
        m_col=m_col,
        offset_col=offset_col,
        tol=tol,
        max_iter=max_iter,
        exact_iterations=exact_iterations,
        var_power=var_power,
        nb_alpha=nb_alpha,
        weight_col=weight_col,
    )
    model.levels = levels
    model.call = (
        f"glm({formula}, family={family}, link={link}"
        + (f", var_power={var_power}" if family.lower() == "tweedie" else "")
        + (f", nb_alpha={nb_alpha}" if family.lower() == "negbinomial" else "")
        + ")"
    )
    return model


def glm_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    family: str = "binomial",
    link: str | None = None,
    tol: float = 1e-6,
    max_iter: int = 50,
    na_action: str = "omit",
    exact_iterations: int | None = None,
    var_power: float = 1.5,
    nb_alpha: float = 1.0,
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """One GLM per group — IRLS per segment, distributed via
    `applyInPandas` (numpy Fisher scoring inside each group's Arrow batch).

    `weight_col` (r11): per-row prior weights with the `glm(weight_col=)`
    conventions inside each group (ω-folded working weights, ω-weighted
    deviance). Under the default `na_action='omit'` a SQL-NULL weight
    drops its ROW before the fit — and so does a NaN weight (Spark's
    na.drop treats NaN as missing; the NA policy treats the weight like
    any other modeling column — ADVICE r11, sharpened review r12); the
    grouped NULL policy — the boolean twin of `check_weight_domain`,
    like `elastic_net_grouped` — degenerates a group to NULL estimates
    on the violations that remain: negative weights, Σω ≤ 0 (and
    null/NaN weights under `na_action='keep'`).

    `offset_col` (r11): fixed per-row term added to η (the `glm` offset
    contract — η = Xβ + offset; per-segment Poisson rate models with
    offset = log(exposure) are the standard shape). A non-finite offset
    degenerates its group to NULL.

    Unlike `lm_grouped` (pure sufficient statistics), IRLS re-weights every
    iteration, so each group's rows DO materialize in its worker's pandas
    frame — the right trade for the "millions of medium segments" shape
    (per-ad-campaign logistic models, per-tenant rates). For one huge
    segment use `glm()` itself, whose per-iteration aggregation never
    materializes rows. Supported (r9 — the full default-link family set
    of the distributed `glm`): binomial & quasibinomial / logit,
    poisson & quasipoisson / log, gamma / log, tweedie(`var_power`) /
    log, negbinomial(`nb_alpha`) / log, gaussian / identity. The quasi
    families fit β identically to their base family (φ cancels from the
    IRLS). Degenerate groups (n < k, singular/non-converged fits,
    responses outside the family's domain) yield NULL estimates.

    Returns long format: group_cols…, term, estimate, deviance,
    iterations, n_rows.
    """
    from sparkglm_spark.operators.lm import _design, _group_arrays
    from sparkglm_spark.plans.partitioning import apply_grouped

    _defaults = {
        "binomial": "logit",
        "quasibinomial": "logit",
        "poisson": "log",
        "quasipoisson": "log",
        "gamma": "log",
        "tweedie": "log",
        "negbinomial": "log",
        "gaussian": "identity",
    }
    if family not in _defaults:
        raise ValueError(
            f"glm_grouped supports {sorted(_defaults)}, got {family!r}"
        )
    link = (link or _defaults[family]).lower()
    if link != _defaults[family]:
        raise ValueError(
            f"glm_grouped supports only the default link for each family "
            f"({family}/{_defaults[family]}), got {family}/{link}"
        )
    if not 1.0 < var_power < 2.0:
        raise ValueError(f"var_power must be in (1, 2), got {var_power!r}")
    if nb_alpha <= 0:
        raise ValueError(f"nb_alpha must be > 0, got {nb_alpha!r}")
    _check_iterations(exact_iterations, max_iter)

    encoded, x_cols, target = _design(
        df, formula, group_cols, na_action=na_action, weight_col=weight_col,
        offset_col=offset_col,
    )
    k = len(x_cols)
    names = list(x_cols)
    fam = family
    p_tw, a_nb = float(var_power), float(nb_alpha)
    logit = fam in ("binomial", "quasibinomial")

    def fit_group(pdf):
        X, y, wv, ov, ok = _group_arrays(
            pdf, names, target, weight_col, offset_col
        )
        n = len(y)
        beta, dev, it = None, None, 0
        # family response domains: out-of-domain groups degenerate to NULL
        in_domain = (
            np.all(y > 0)
            if fam == "gamma"
            else np.all(y >= 0)
            if fam in ("poisson", "quasipoisson", "tweedie", "negbinomial")
            else np.all((y >= 0) & (y <= 1))
            if logit
            else True
        )
        if (
            n >= k
            and ok
            and np.all(np.isfinite(y))
            and np.all(np.isfinite(X))
            and in_domain
        ):
            if fam == "gaussian":
                try:
                    # identity link: the offset subtracts from the response
                    ya = y - ov
                    Xw0 = X * wv[:, None]
                    beta = np.linalg.solve(X.T @ Xw0, Xw0.T @ ya)
                    dev = float((wv * (ya - X @ beta) ** 2).sum())
                    it = 1
                except np.linalg.LinAlgError:
                    beta = None
            else:
                # per-row start: the clamped (y+½)/2 logit start, else y+½
                if logit:
                    mu = np.clip((y + 0.5) / 2.0, 1e-10, 1 - 1e-10)
                    eta = np.log(mu / (1 - mu)) - ov
                else:
                    mu = y + 0.5
                    eta = np.log(mu) - ov
                fit = _np_glm_irls(
                    fam, y, X, wv, ov, (mu, eta), exact_iterations, tol,
                    max_iter, p_tw, a_nb,
                )
                it = fit.finite
                # a non-converged fit (outside the fixed-iteration mode)
                # or a non-finite deviance degenerates to NULL
                if np.isfinite(fit.dev) and (
                    exact_iterations is not None or fit.converged
                ):
                    beta, dev = fit.beta, fit.dev
        return [
            (
                name,
                float(beta[i]) if beta is not None else None,
                dev if beta is not None else None,
                it,
                n,
            )
            for i, name in enumerate(names)
        ]

    return apply_grouped(
        encoded, df.schema, group_cols,
        [target, *x_cols, weight_col, offset_col],
        "term string, estimate double, deviance double, "
        "iterations int, n_rows bigint",
        fit_group,
    )


@dataclass
class _NpIrlsFit:
    """`_np_glm_irls`'s result: β, (X'WX)⁻¹ of the last solve (with
    `cov=True`), μ and the deviance at the final β."""

    beta: np.ndarray | None = None  # None: no solve ran, or X'WX singular
    cov: np.ndarray | None = None
    mu: np.ndarray | None = None
    dev: float = float("nan")
    finite: int = 0  # solves whose deviance came out finite
    converged: bool = False
    loglik: float = float("nan")  # set by the caller that needs it
    diverged: bool = False  # the loop stopped on a non-finite deviance
    at: object = None  # the β of the latest evaluation


def _np_glm_irls(
    fam, y, X, w, o, start, exact, tol, max_iter, var_power=1.5,
    nb_alpha=1.0, cov=False,
) -> _NpIrlsFit:
    """`_irls` over one group's numpy arrays at the family's default link
    (`families.irls_mu_np`/`irls_wz_np`): `start` is the caller's
    (μ, η_lin) for the first pass, the prior ω folds into the normal
    equations only (z uses the link weight alone, the glm convention), a
    non-finite deviance ends the loop and a singular X'WX leaves β None."""
    fit = _NpIrlsFit()

    def at(beta):
        if beta is None:
            mu, eta = start
        else:
            eta = X @ beta  # the LINEAR part; μ adds the offset
            mu = irls_mu_np(fam, eta + o)
        fit.at, fit.mu = beta, mu
        fit.dev = deviance_np(fam, y, mu, w, var_power, nb_alpha)
        fit.finite += beta is not None and bool(np.isfinite(fit.dev))
        return mu, eta

    def stats_at(beta):
        mu, eta = at(beta)
        if not np.isfinite(fit.dev):
            return None
        wk, z = irls_wz_np(fam, y, mu, eta, var_power, nb_alpha)
        Xw = X * (w * wk)[:, None]
        return fit.dev, (X.T @ Xw, Xw.T @ z)

    def solve(stats):
        xtwx, xtwz = stats
        beta = np.linalg.solve(xtwx, xtwz)
        return beta, np.linalg.inv(xtwx) if cov else None

    try:
        run = _irls(stats_at, solve, exact, tol, max_iter)
    except np.linalg.LinAlgError:
        return fit
    fit.beta, fit.cov, fit.converged = run.beta, run.cov, run.converged
    fit.diverged = not np.isfinite(fit.dev)
    if run.beta is not None and fit.at is not run.beta:
        at(run.beta)  # the loop's last pass evaluated the previous β
    return fit


def likelihood_ratio_test(reduced: GLM, full: GLM) -> dict:
    """Nested-model deviance test (the `anova(glm1, glm2, test="Chisq")`
    surface): LR = deviance_reduced − deviance_full is asymptotically
    χ²_{Δk} under the null that the extra coefficients are zero.

    Pure driver math over the stored deviances — no Spark job runs.
    Family/link must match (the deviance scale must be shared); same
    response, same rows, strict column nesting — all checked. For
    families fit with a free dispersion (gaussian/gamma/tweedie) the
    χ² form uses the UNSCALED deviance difference, the R
    `anova.glm(test="Chisq")` convention; prefer fitting both models
    with the same fixed auxiliary parameters (var_power, nb_alpha)."""
    from sparkglm_spark.functions.special import chisq_sf

    if (reduced.family, reduced.link) != (full.family, full.link):
        raise ValueError(
            f"models must share family/link: {(reduced.family, reduced.link)}"
            f" vs {(full.family, full.link)}"
        )
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
    df = float(len(full.xnames) - len(reduced.xnames))
    lr = float(reduced.deviance - full.deviance)
    return {
        "deviance_reduced": float(reduced.deviance),
        "deviance_full": float(full.deviance),
        "df": df,
        "lr_stat": lr,
        "p_value": chisq_sf(lr, df),
    }


# ---- negative binomial with ESTIMATED dispersion (MASS::glm.nb) ----------


def _nb2_theta_terms(th: float, hy, hw, sw: float) -> tuple[float, float]:
    """Driver-side ψ/ψ′ pieces of the NB2 θ-score and observed information
    from the collected (distinct y → weight mass) histogram:
    Σω·(ψ(θ+y) − ψ(θ)) and Σω·(ψ′(θ) − ψ′(θ+y)). Exact — the histogram is
    a lossless regrouping of the per-row sums (y enters ψ only through
    θ+y). O(#distinct y) numpy, no Spark job."""
    dig = float(np.sum(hw * special.digamma(th + hy))) - sw * float(
        special.digamma(th)
    )
    tri = sw * float(special.trigamma(th)) - float(
        np.sum(hw * special.trigamma(th + hy))
    )
    return dig, tri


def _nb2_theta_step_stats(
    work: DataFrame, y, mu, wr, th: float, hist
) -> tuple[float, float]:
    """(score, observed info) of the NB2 profile log-likelihood in θ at
    fixed μ — ONE aggregation job. With ℓ(θ) = Σω·[lnΓ(θ+y) − lnΓ(θ)
    + θ·lnθ − (θ+y)·ln(θ+μ) + …]:

        ∂ℓ/∂θ   = Σω·[ψ(θ+y) − ψ(θ) + lnθ + 1 − ln(θ+μ) − (θ+y)/(θ+μ)]
        −∂²ℓ/∂θ² = Σω·[ψ′(θ) − ψ′(θ+y) − 1/θ + 2/(θ+μ) − (θ+y)/(θ+μ)²]

    (MASS::theta.ml's score/info, Venables & Ripley 2002 §7.4.) The
    μ-dependent sums are plain JVM expressions; the ψ/ψ′ sums come from
    the driver-held y-histogram when available (`hist` ≠ None — zero
    Python in the job), else from an Arrow-batched pandas UDF pair over
    y riding the same aggregation."""
    thl = F.lit(float(th))
    ratio = (y + thl) / (mu + thl)
    aggs = [
        F.sum(wr).alias("sw"),
        F.sum(wr * F.log(mu + thl)).alias("s_log"),
        F.sum(wr * ratio).alias("s_rat"),
        F.sum(wr * ratio / (mu + thl)).alias("s_rat2"),
        F.sum(wr / (mu + thl)).alias("s_inv"),
    ]
    if hist is None:
        from pyspark.sql.functions import pandas_udf

        thv = float(th)

        # NULL y (na_action='keep') arrives as NaN in the Arrow batch;
        # every JVM sum here SKIPS those rows (Spark NULL semantics), so
        # the ψ/ψ′ sums must too — substitute 0 so the F.sum(wr * NULL)
        # skip happens via the companion NULL product instead of a NaN
        # poisoning the aggregate
        def _at_theta_plus_y(fn):
            @pandas_udf("double")
            def _udf(yv: pd.Series) -> pd.Series:
                v = yv.to_numpy(dtype=np.float64)
                bad = ~np.isfinite(v)
                out = fn(thv + np.where(bad, 0.0, v))
                return pd.Series(np.where(bad, 0.0, out))

            return _udf

        aggs += [
            F.sum(wr * _at_theta_plus_y(special.digamma)(y)).alias("s_dig"),
            F.sum(wr * _at_theta_plus_y(special.trigamma)(y)).alias("s_tri"),
        ]
    # a NULL y row (na_action='keep') carries no θ information — drop it
    # from EVERY sum of this aggregation (Spark would skip it from the
    # y-dependent sums anyway; the filter keeps sw and the μ-only sums
    # consistent with that, and mirrors the histogram's dropped NULL key)
    row = collect_small(work.where(y.isNotNull()).agg(*aggs))[0]
    sw = float(row["sw"])
    if hist is None:
        dig = float(row["s_dig"]) - sw * float(special.digamma(th))
        tri = sw * float(special.trigamma(th)) - float(row["s_tri"])
    else:
        dig, tri = _nb2_theta_terms(th, hist[0], hist[1], sw)
    sums = [float(row[c]) for c in ("sw", "s_log", "s_rat", "s_rat2", "s_inv")]
    return _nb2_score_info(th, sums, dig, tri)


def _nb2_score_info(th: float, sums, dig: float, tri: float):
    """The θ-score and observed information of `_nb2_theta_step_stats`
    from its μ-sums (Σω, Σω·ln(θ+μ), Σω·r, Σω·r/(θ+μ), Σω/(θ+μ) with
    r = (θ+y)/(θ+μ)) and the ψ/ψ′ terms (`_nb2_theta_terms`)."""
    import math

    sw, s_log, s_rat, s_rat2, s_inv = sums
    score = dig + sw * (math.log(th) + 1.0) - s_log - s_rat
    info = tri - sw / th + 2.0 * s_inv - s_rat2
    return score, info


def _nb2_theta_newton(
    step_stats, th0: float, steps: int | None, tol: float, max_iter: int
) -> tuple[float, float]:
    """Shared θ-Newton driver (Spark and numpy paths plug their own
    `step_stats(th) -> (score, info)`): θ ← θ + score/info, halving on a
    non-positive proposal (a stabilizer MASS relies on its starting value
    to avoid; documented deviation), clamped at 1e7 — past that the NB2
    is numerically poisson (no overdispersion left to estimate).
    `steps` set → EXACTLY that many updates (the deterministic pin mode);
    else iterate until |δ| ≤ tol·(1 + θ) or `max_iter`. Returns
    (θ̂, last info)."""
    th = float(th0)
    info = float("nan")
    n = steps if steps is not None else max_iter
    for _ in range(n):
        score, info = step_stats(th)
        if not np.isfinite(score) or not np.isfinite(info) or info <= 0.0:
            break
        delta = score / info
        new = th + delta
        th = new if new > 0.0 else th / 2.0
        if th > 1e7:
            import warnings

            warnings.warn(
                "theta exceeded 1e7 — no overdispersion detected "
                "(variance ≈ mean); the NB2 fit is numerically poisson"
            )
            th = 1e7
            break
        if steps is None and abs(delta) <= tol * (1.0 + abs(th)):
            break
    return th, info


def _nb2_pins(exact_iterations, max_iter, irls_iterations, theta_iterations):
    """`glm_nb`'s iteration check and its pin-mode defaults: with
    `exact_iterations` set, 4 IRLS solves and 2 θ-updates per round
    unless given. Returns (irls_iterations, theta_iterations)."""
    _check_iterations(exact_iterations, max_iter)
    if exact_iterations is None:
        return irls_iterations, theta_iterations
    return (
        4 if irls_iterations is None else irls_iterations,
        2 if theta_iterations is None else theta_iterations,
    )


def _nb2_alternate(
    fit_at, theta_stats_at, fit, th, exact, max_iter, tol, theta_iterations,
    theta_tol, theta_max_iter,
):
    """MASS glm.nb's alternation, one for `glm_nb` and its numpy twin:
    from the poisson `fit` and the moment start θ, each round runs the
    θ-Newton at the current fit's μ (`theta_stats_at(fit) -> step_stats`)
    and then the β-IRLS at α = 1/θ (`fit_at(α)`, None aborts the fit),
    until |Δ(2ℓ)| ≤ `tol` on the fits' `loglik` — or exactly `exact`
    rounds. Returns (fit, θ, observed info at the final (β̂, θ̂), rounds,
    converged), or None."""
    n, converged, ll_prev = 0, exact is not None, None
    while n < (exact if exact is not None else max_iter):
        th, _ = _nb2_theta_newton(
            theta_stats_at(fit), th, theta_iterations, theta_tol,
            theta_max_iter,
        )
        fit = fit_at(1.0 / th)
        if fit is None:
            return None
        n += 1
        if exact is None and ll_prev is not None and abs(
            2.0 * (fit.loglik - ll_prev)
        ) <= tol:
            converged = True
            break
        ll_prev = fit.loglik
    # β moved after the last θ-update: refresh the info once for SE(θ)
    _, info = theta_stats_at(fit)(th)
    return fit, th, info, n, converged


def glm_nb(
    df: DataFrame,
    formula: str,
    weight_col: str | None = None,
    offset_col: str | None = None,
    na_action: str = "omit",
    tol: float = 1e-8,
    max_iter: int = 25,
    theta_tol: float = 1e-8,
    theta_max_iter: int = 10,
    irls_tol: float = 1e-8,
    irls_max_iter: int = 50,
    exact_iterations: int | None = None,
    irls_iterations: int | None = None,
    theta_iterations: int | None = None,
    hist_limit: int = 65536,
) -> GLM:
    """NB2 regression with the dispersion ESTIMATED by maximum likelihood —
    the `MASS::glm.nb` surface (Venables & Ripley 2002 §7.4) on top of the
    engine's fixed-α `glm(family="negbinomial")`. Alternates

      θ-step:  profile-ML Newton for θ at the current μ (MASS theta.ml) —
               one small aggregation per Newton update;
      β-step:  the ordinary distributed IRLS at family
               negbinomial(α = 1/θ) — `GLM.fit`, one aggregation per
               IRLS iteration;

    until |Δ(2ℓ)| ≤ `tol` across alternations (each alternation runs the
    θ-step first and ends on a β-fit AT the final θ, so the returned
    model is self-consistent). Initialization follows MASS: a poisson
    fit for the starting μ, then the moment start
    θ₀ = Σω / Σω·(y/μ − 1)².

    Scale design: the ψ/ψ′ sums in the θ-score depend on y only through
    θ+y, so ONE up-front `groupBy(y)` histogram (counts — distinct values
    are few; capped at `hist_limit`, falling back to an Arrow pandas-UDF
    pair when exceeded) makes every θ-Newton update a pure-JVM
    aggregation of four sums. No per-row data ever reaches the driver.

    Conventions (all MASS): SE(θ) = 1/√info at (β̂, θ̂); coefficient SEs
    are the fixed-θ̂ IRLS ones (θ and β are information-orthogonal in
    NB2, Cox-Reid); aic = −2ℓ + 2k + 2 (θ counts as a parameter — the
    fixed-α `glm` counts k only). Non-integer responses warn (the NB2
    pmf is a count density); y < 0 raises.

    Deterministic pin mode: `exact_iterations=E` runs E alternations with
    `theta_iterations` θ-updates and `irls_iterations`-step inner fits
    (defaults 2 and 4), no convergence tests anywhere — the driver's
    fixed-iteration SQL oracle replays the exact trajectory.

    Extra attributes on the returned GLM: `theta`, `se_theta`,
    `nb_alpha` (= 1/θ̂), `outer_iter`."""
    irls_iterations, theta_iterations = _nb2_pins(
        exact_iterations, max_iter, irls_iterations, theta_iterations
    )
    extra = [c for c in (offset_col, weight_col) if c]
    encoded, target, x_cols, levels = _glm_design(df, formula, extra, na_action)
    work = ensure_parallel(
        encoded.select(target, *x_cols, *extra)
    ).persist()
    y = F.col(target)
    wr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    offset = F.col(offset_col) if offset_col else F.lit(0.0)
    try:
        # ---- y histogram (one job; lossless ψ-sum regrouping). NULL y
        # rows (reachable under na_action='keep') are filtered BEFORE
        # the groupBy — every per-row aggregation here skips NULL rows
        # (Spark SUM), so the ψ-sums must skip them too, and a NULL
        # group must not occupy a limit slot (it could mask a truncated
        # histogram as under-limit — review r14 pass 2). The y-domain
        # guard reads off the collected keys for free; only the
        # over-limit fallback pays a separate guard aggregation.
        hrows = (
            work.where(y.isNotNull())
            .groupBy(target)
            .agg(F.sum(wr).alias("__wm"))
            .limit(hist_limit + 1)
            .collect()
        )
        if len(hrows) > hist_limit:
            hist = None  # fall back to the pandas-UDF ψ/ψ′ aggregation
            grow = collect_small(work.agg(
                F.min(y).alias("miny"),
                F.sum((y != F.floor(y)).cast("long")).alias("nonint"),
            ))[0]
            miny = grow["miny"]
            n_nonint = int(grow["nonint"] or 0)
        else:
            hist = (
                np.array([float(r[target]) for r in hrows]),
                np.array([float(r["__wm"]) for r in hrows]),
            )
            miny = float(hist[0].min()) if hist[0].size else None
            n_nonint = int(np.sum(hist[0] != np.floor(hist[0])))
        if miny is not None and float(miny) < 0.0:
            raise ValueError(
                f"negbinomial requires y >= 0; min({target}) = {miny}"
            )
        if n_nonint > 0:
            import warnings

            warnings.warn(
                f"non-integer value(s) in {target!r} — the NB2 likelihood "
                "is a count density (MASS::glm.nb warns the same way)"
            )

        def fit_at(alpha: float | None) -> GLM:
            return GLM.fit(
                work,
                y_col=target,
                x_cols=x_cols,
                family="poisson" if alpha is None else "negbinomial",
                link="log",
                offset_col=offset_col,
                weight_col=weight_col,
                tol=irls_tol,
                max_iter=irls_max_iter,
                exact_iterations=irls_iterations,
                nb_alpha=1.0 if alpha is None else alpha,
            )

        def theta_stats_at(f: GLM):
            mu = F.exp(linear_combination(x_cols, f.coefs) + offset)
            return lambda t: _nb2_theta_step_stats(work, y, mu, wr, t, hist)

        # ---- init: poisson μ, moment θ₀ (MASS theta.ml start) --------
        pois = fit_at(None)
        mu = F.exp(linear_combination(x_cols, pois.coefs) + offset)
        mrow = collect_small(work.where(y.isNotNull()).agg(
            F.sum(wr).alias("sw"),
            F.sum(wr * (y / mu - F.lit(1.0)) * (y / mu - F.lit(1.0))).alias(
                "s2"
            ),
        ))[0]
        s2 = float(mrow["s2"])
        th = float(mrow["sw"]) / s2 if np.isfinite(s2) and s2 > 0 else 1.0

        # ---- alternate θ-Newton / β-IRLS ------------------------------
        fit, th, info, n_outer, converged = _nb2_alternate(
            fit_at, theta_stats_at, pois, th, exact_iterations, max_iter,
            tol, theta_iterations, theta_tol, theta_max_iter,
        )
        if not converged:
            import warnings

            warnings.warn(f"glm_nb did not converge in {max_iter} alternations")
    finally:
        work.unpersist()
    fit.levels = levels
    fit.theta = th
    # a clamped θ (= the 1e7 ceiling) is a boundary report, not an ML
    # optimum — its curvature-based SE would be a meaningless ~1e9
    fit.se_theta = (
        float(1.0 / np.sqrt(info))
        if np.isfinite(info) and info > 0 and th < 1e7
        else None
    )
    fit.nb_alpha = 1.0 / th
    fit.outer_iter = n_outer
    # MASS glm.nb: aic = −2ℓ + 2k + 2 — θ is an estimated parameter here
    # (the fixed-α glm's aic counts the k mean parameters only)
    fit.aic = fit.aic + 2.0
    fit.call = f"glm_nb({formula})"
    return fit


def _np_glm_nb(
    y: np.ndarray,
    X: np.ndarray,
    w: np.ndarray | None = None,
    offset: np.ndarray | None = None,
    tol: float = 1e-8,
    max_iter: int = 25,
    theta_tol: float = 1e-8,
    theta_max_iter: int = 10,
    irls_tol: float = 1e-8,
    irls_max_iter: int = 50,
    exact_iterations: int | None = None,
    irls_iterations: int | None = None,
    theta_iterations: int | None = None,
) -> dict | None:
    """In-memory twin of `glm_nb` — SAME trajectory (μ₀ = ȳ IRLS init,
    moment θ₀, θ-Newton-then-IRLS alternation, identical stabilizers), so
    fixed-iteration runs agree with the distributed fit to float
    round-off. Used by `glm_nb_grouped`'s per-group kernel and the test
    twins. Returns None on a degenerate fit (singular / non-finite)."""
    irls_iterations, theta_iterations = _nb2_pins(
        exact_iterations, max_iter, irls_iterations, theta_iterations
    )
    # integer-dtype y would truncate θ inside np.full_like (review r14 #3)
    y = np.asarray(y, dtype=np.float64)
    X = np.asarray(X, dtype=np.float64)
    n, k = X.shape
    w = np.ones(n) if w is None else np.asarray(w, dtype=np.float64)
    offset = np.zeros(n) if offset is None else np.asarray(offset, dtype=np.float64)
    sw = float(w.sum())
    # GLM.fit's start: μ = Σωy/Σω (constant), log link
    mu0 = np.full(n, float((w * y).sum()) / sw)
    start = (mu0, np.log(mu0) - offset)

    def irls(alpha: float | None) -> _NpIrlsFit | None:
        fit = _np_glm_irls(
            "poisson" if alpha is None else "negbinomial", y, X, w, offset,
            start, irls_iterations, irls_tol, irls_max_iter,
            nb_alpha=1.0 if alpha is None else alpha, cov=True,
        )
        if fit.beta is None or fit.diverged:
            return None
        if alpha is not None:
            fit.loglik = float(
                (w * loglik_np("negbinomial", y, fit.mu, None, alpha)).sum()
            )
        return fit

    def step_stats_at(mu):
        def step_stats(t):
            ratio = (y + t) / (mu + t)
            sums = [
                sw,
                float((w * np.log(mu + t)).sum()),
                float((w * ratio).sum()),
                float((w * ratio / (mu + t)).sum()),
                float((w / (mu + t)).sum()),
            ]
            return _nb2_score_info(t, sums, *_nb2_theta_terms(t, y, w, sw))

        return step_stats

    pois = irls(None)
    if pois is None:
        return None
    s2 = float((w * (y / pois.mu - 1.0) ** 2).sum())
    th = sw / s2 if np.isfinite(s2) and s2 > 0 else 1.0
    got = _nb2_alternate(
        irls, lambda f: step_stats_at(f.mu), pois, th, exact_iterations,
        max_iter, tol, theta_iterations, theta_tol, theta_max_iter,
    )
    if got is None:
        return None
    fit, th, info, n_outer, converged = got
    return {
        "beta": fit.beta,
        "se": np.sqrt(np.diag(fit.cov)),
        "theta": th,
        "se_theta": float(1.0 / np.sqrt(info))
        if np.isfinite(info) and info > 0 and th < 1e7
        else None,
        "loglik": fit.loglik,
        "deviance": fit.dev,
        "aic": -2.0 * fit.loglik + 2.0 * k + 2.0,
        "outer_iter": n_outer,
        "converged": converged,
    }


def glm_nb_grouped(
    df: DataFrame,
    formula: str,
    group_cols: list[str],
    weight_col: str | None = None,
    offset_col: str | None = None,
    na_action: str = "omit",
    tol: float = 1e-8,
    max_iter: int = 25,
    exact_iterations: int | None = None,
    irls_iterations: int | None = None,
    theta_iterations: int | None = None,
) -> DataFrame:
    """One `glm_nb` per group — the θ-estimating twin of `glm_grouped`
    (same applyInPandas fan-out contract; each group's rows materialize
    in one Arrow batch, the bounded-segment assumption shared by every
    grouped fitter here). The per-group kernel is `_np_glm_nb`, which
    replays the DISTRIBUTED `glm_nb` trajectory exactly (μ₀ = ȳ init —
    deliberately NOT `glm_grouped`'s per-row y+0.5 start — so a group
    fit here matches `glm_nb` on the slice bitwise under fixed
    iterations). Degenerate groups (n < k, y < 0, singular, non-finite)
    yield NULL estimates.

    Returns long format: group_cols…, term, estimate, se, theta,
    se_theta, loglik, deviance, iterations, n_rows."""
    from sparkglm_spark.operators.lm import _design, _group_arrays
    from sparkglm_spark.plans.partitioning import apply_grouped

    _check_iterations(exact_iterations, max_iter)
    encoded, x_cols, target = _design(
        df, formula, group_cols, na_action=na_action, weight_col=weight_col,
        offset_col=offset_col,
    )
    k = len(x_cols)
    names = list(x_cols)

    def fit_group(pdf):
        X, yv, wv, ov, ok = _group_arrays(
            pdf, names, target, weight_col, offset_col
        )
        n = len(yv)
        ok = ok and n >= k and bool(np.all(np.isfinite(X)))
        ok = ok and bool(np.all(np.isfinite(yv))) and bool(np.all(yv >= 0))
        res = None
        if ok:
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                res = _np_glm_nb(
                    yv, X, wv, ov, tol=tol, max_iter=max_iter,
                    exact_iterations=exact_iterations,
                    irls_iterations=irls_iterations,
                    theta_iterations=theta_iterations,
                )
        if res is None:
            return [(nm,) + (None,) * 6 + (0, n) for nm in names]
        return [
            (
                nm, float(res["beta"][i]), float(res["se"][i]), res["theta"],
                res["se_theta"], res["loglik"], res["deviance"],
                int(res["outer_iter"]), n,
            )
            for i, nm in enumerate(names)
        ]

    return apply_grouped(
        encoded, df.schema, group_cols,
        [target, *x_cols, weight_col, offset_col],
        "term string, estimate double, se double, theta double, "
        "se_theta double, loglik double, deviance double, "
        "iterations int, n_rows bigint",
        fit_group,
    )
