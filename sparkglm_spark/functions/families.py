"""GLM family plug-in interface.

The reference dispatches on a family string but every branch runs binomial
(GLM.scala:486-490,508-512,...; SURVEY §2.13.1). Here the family is a real
plug-in: variance function, unit deviance, loglik strategy, and the set of
valid links. Binomial reproduces the reference exactly; gaussian and poisson
are the SURVEY §2.13.1 stretch families.

Each family provides Catalyst column expressions (JVM-side, codegen) —
loglik falls back to an Arrow-batched pandas UDF only where lgamma is
required (grouped binomial, poisson).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from sparkglm_spark.functions.links import (
    deviance_binomial_expr,
    variance_binomial,
)


class Binomial:
    """reference: GLM.scala (the only family the reference implements)."""

    name = "binomial"
    links = ("logit", "probit", "cloglog")
    default_link = "logit"
    supports_m = True

    def variance(self, mu: Column, m: Column) -> Column:
        return variance_binomial(mu, m)  # μ·(1−μ/m), GLM.scala:125-129

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        return deviance_binomial_expr(y, mu, m)  # GLM.scala:162-170


class Gaussian:
    """Normal errors; identity link → IRLS solves OLS in one step."""

    name = "gaussian"
    links = ("identity",)
    default_link = "identity"
    supports_m = False

    def variance(self, mu: Column, m: Column) -> Column:
        return F.lit(1.0)

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        # unit deviance (y−μ)²; engine sums and doubles → use half here so
        # 2·Σ gives the conventional Σ(y−μ)² residual sum of squares
        return (y - mu) * (y - mu) / F.lit(2.0)


class Poisson:
    """Poisson counts, log link."""

    name = "poisson"
    links = ("log",)
    default_link = "log"
    supports_m = False

    def variance(self, mu: Column, m: Column) -> Column:
        return mu

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        # ½·unit deviance: y·log(y/μ) − (y−μ); y=0 → the limit is μ
        return F.when(y == 0, mu).otherwise(y * F.log(y / mu) - (y - mu))


class Gamma:
    """Gamma errors; log link default (inverse = canonical also valid)."""

    name = "gamma"
    links = ("log", "inverse")
    default_link = "log"
    supports_m = False

    def variance(self, mu: Column, m: Column) -> Column:
        return mu * mu

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        # ½·unit deviance: −log(y/μ) + (y−μ)/μ   (y > 0 required)
        return -F.log(y / mu) + (y - mu) / mu


class Tweedie:
    """Compound Poisson–gamma (1 < p < 2): continuous positive mass PLUS
    an exact point mass at zero — the standard family for insurance
    claim totals and any "usually zero, occasionally heavy" response
    that gaussian/poisson/gamma all fit badly (gamma can't take y = 0,
    poisson can't take continuous y). Variance μ^p interpolates between
    them; log link keeps μ > 0.

    Loglik/AIC are NaN by convention: the Tweedie density has no closed
    form (the Dunn–Smyth series is a numerical evaluation outside this
    engine's scope) and statsmodels' Tweedie reports NaN the same way —
    deviance/Pearson carry the goodness-of-fit duty."""

    links = ("log",)
    default_link = "log"
    supports_m = False
    name = "tweedie"

    def __init__(self, var_power: float = 1.5):
        if not 1.0 < var_power < 2.0:
            raise ValueError(
                f"var_power must be in (1, 2) — p={var_power!r}; p=1 is "
                "poisson, p=2 is gamma (use those families directly)"
            )
        self.var_power = float(var_power)

    def variance(self, mu: Column, m: Column) -> Column:
        return F.pow(mu, F.lit(self.var_power))

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        # ½·unit deviance for p ∉ {1,2}:
        #   y^(2−p)/((1−p)(2−p)) − y·μ^(1−p)/(1−p) + μ^(2−p)/(2−p)
        # y = 0 → the first two terms vanish (2−p > 0), leaving the limit
        # μ^(2−p)/(2−p); spelled as a when() so pow(0, ·) never feeds a
        # log-form rewrite.
        p = self.var_power
        tail = F.pow(mu, F.lit(2.0 - p)) / F.lit(2.0 - p)
        full = (
            F.pow(y, F.lit(2.0 - p)) / F.lit((1.0 - p) * (2.0 - p))
            - y * F.pow(mu, F.lit(1.0 - p)) / F.lit(1.0 - p)
            + tail
        )
        return F.when(y == 0, tail).otherwise(full)


class NegativeBinomial:
    """NB2 with FIXED dispersion alpha (variance μ + α·μ², log link) —
    overdispersed counts that poisson (variance = μ) underfits; the
    fixed-α flavor matches statsmodels' `NegativeBinomial(alpha=...)`
    used when α is profiled separately or known. α → 0 recovers poisson.

    Loglik uses the exact NB2 pmf (lgamma via the Arrow pandas UDF path —
    the poisson precedent); AIC counts only the k mean parameters, the
    R/statsmodels convention when α is supplied rather than estimated."""

    links = ("log",)
    default_link = "log"
    supports_m = False
    name = "negbinomial"

    def __init__(self, alpha: float = 1.0):
        if alpha <= 0:
            raise ValueError(
                f"alpha must be > 0 — alpha={alpha!r}; alpha→0 is poisson "
                "(use that family directly)"
            )
        self.alpha = float(alpha)

    def variance(self, mu: Column, m: Column) -> Column:
        return mu + F.lit(self.alpha) * mu * mu

    def deviance_term(self, y: Column, mu: Column, m: Column) -> Column:
        # ½·unit deviance: y·ln(y/μ) − (y + 1/α)·ln((1+αy)/(1+αμ));
        # y = 0 → the (1/α)·ln(1+αμ) limit
        a = self.alpha
        ia = F.lit(1.0 / a)
        ratio = (F.lit(1.0) + F.lit(a) * y) / (F.lit(1.0) + F.lit(a) * mu)
        full = y * F.log(y / mu) - (y + ia) * F.log(ratio)
        zero = ia * F.log(F.lit(1.0) + F.lit(a) * mu)
        return F.when(y == 0, zero).otherwise(full)


class Quasipoisson(Poisson):
    """Quasi-likelihood counts: the poisson mean/variance RELATION
    (var = φ·μ) with a free dispersion φ estimated by Pearson χ²/(n−k) —
    the standard remedy for overdispersed counts when a full NB2 model
    is not wanted (R's `quasipoisson`). IRLS is IDENTICAL to poisson
    (φ cancels from the working weights), so β matches poisson exactly;
    only the standard errors scale by √φ̂, and loglik/AIC are NaN (no
    true likelihood exists — McCullagh & Nelder ch. 9)."""

    name = "quasipoisson"
    quasi = True


class Quasibinomial(Binomial):
    """Quasi-likelihood proportions: binomial variance scaled by a free
    dispersion φ (R's `quasibinomial`). Same IRLS/β as binomial; SEs
    scale by √φ̂ = √(Pearson χ²/(n−k)); loglik/AIC NaN."""

    name = "quasibinomial"
    quasi = True


FAMILIES = {
    "binomial": Binomial(),
    "gaussian": Gaussian(),
    "poisson": Poisson(),
    "gamma": Gamma(),
    "tweedie": Tweedie(),
    "negbinomial": NegativeBinomial(),
    "quasipoisson": Quasipoisson(),
    "quasibinomial": Quasibinomial(),
}


# the response domain each family's deviance is defined on: (lower
# bound, whether the bound itself is allowed, upper bound) — binomial
# responses are proportions; gaussian takes any response
RESPONSE_DOMAIN = {
    "gamma": (0.0, False, None),
    "poisson": (0.0, True, None),
    "quasipoisson": (0.0, True, None),
    "tweedie": (0.0, True, None),
    "negbinomial": (0.0, True, None),
    "binomial": (0.0, True, 1.0),
    "quasibinomial": (0.0, True, 1.0),
}


def response_in_domain(family: str, lo: float, hi: float | None = None) -> bool:
    """Whether responses spanning [lo, hi] lie in `family`'s
    `RESPONSE_DOMAIN`; `hi=None` checks the lower bound only."""
    bound, closed, top = RESPONSE_DOMAIN.get(family, (None, True, None))
    if bound is not None and (lo < bound or (lo == bound and not closed)):
        return False
    return top is None or hi is None or hi <= top


def get_family(
    name: str, var_power: float | None = None, alpha: float | None = None
):
    """`var_power` applies to the tweedie family, `alpha` to negbinomial;
    other families ignore them."""
    key = name.lower()
    if key == "tweedie" and var_power is not None:
        return Tweedie(var_power)
    if key == "negbinomial" and alpha is not None:
        return NegativeBinomial(alpha)
    try:
        return FAMILIES[key]
    except KeyError:
        raise ValueError(
            f"unknown family {name!r}; supported: {sorted(FAMILIES)}"
        ) from None


# the quasi families share their base family's numpy kernels
_NP_BASE = {"quasibinomial": "binomial", "quasipoisson": "poisson"}


def deviance_np(
    family: str, y, mu, w, var_power: float = 1.5, nb_alpha: float = 1.0
) -> float:
    """ω-weighted deviance 2·Σ ωᵢ·(½ unit deviance) at μ — the numpy twin
    of the `deviance_term` expressions above, for the numpy grouped
    fitters (binomial's μ clamp is the caller's). Families: binomial,
    poisson, gamma, tweedie, negbinomial; the quasi twins share their
    base family's deviance. Gaussian is not covered."""
    family = _NP_BASE.get(family, family)
    with np.errstate(divide="ignore", invalid="ignore"):
        if family == "binomial":
            t1 = np.where(y > 0, y * np.log(y / mu), 0.0)
            t2 = np.where(y < 1, (1 - y) * np.log((1 - y) / (1 - mu)), 0.0)
            return float(2.0 * (w * (t1 + t2)).sum())
        if family == "gamma":
            # −log(y/μ) + (y−μ)/μ (y > 0 guarded upstream)
            return float(2.0 * (w * (-np.log(y / mu) + (y - mu) / mu)).sum())
        if family == "tweedie":
            # 1 < p < 2; y = 0 keeps only the tail μ^(2−p)/(2−p)
            p = var_power
            tail = mu ** (2.0 - p) / (2.0 - p)
            full = (
                y ** (2.0 - p) / ((1.0 - p) * (2.0 - p))
                - y * mu ** (1.0 - p) / (1.0 - p)
                + tail
            )
            return float(2.0 * (w * np.where(y == 0, tail, full)).sum())
        if family == "negbinomial":
            # y·ln(y/μ) − (y+1/α)·ln((1+αy)/(1+αμ)); y = 0 keeps
            # (1/α)·ln(1+αμ)
            a = nb_alpha
            zero = (1.0 / a) * np.log(1.0 + a * mu)
            full = np.where(
                y > 0, y * np.log(np.where(y > 0, y, 1.0) / mu), 0.0
            ) - (y + 1.0 / a) * np.log((1.0 + a * y) / (1.0 + a * mu))
            return float(2.0 * (w * np.where(y == 0, zero, full)).sum())
        if family != "poisson":
            raise ValueError(f"deviance_np does not cover family {family!r}")
        t1 = np.where(y > 0, y * np.log(y / mu), 0.0)
        return float(2.0 * (w * (t1 - (y - mu))).sum())


def loglik_np(family: str, y, mu, m=None, nb_alpha: float = 1.0):
    """Per-row log-likelihood at μ for the families whose density needs
    lgamma: grouped binomial (y successes of m, μ = m·p), poisson and
    negbinomial (exact NB2 pmf at fixed α: lnΓ(y+1/α) − lnΓ(1/α) −
    lnΓ(y+1) + y·ln(αμ/(1+αμ)) − (1/α)·ln(1+αμ))."""
    from sparkglm_spark.functions import special

    if family == "binomial":
        return special.binom_logpmf(y, m, mu / m)
    if family == "poisson":
        return (
            np.where(y > 0, y * np.log(mu), 0.0) - mu - special.lgamma(y + 1.0)
        )
    if family != "negbinomial":
        raise ValueError(f"loglik_np does not cover family {family!r}")
    a = nb_alpha
    ia = 1.0 / a
    return (
        special.lgamma(y + ia)
        - special.lgamma(np.full_like(y, ia))
        - special.lgamma(y + 1.0)
        + np.where(y > 0, y * np.log(a * mu / (1.0 + a * mu)), 0.0)
        - ia * np.log(1.0 + a * mu)
    )


def irls_mu_np(family: str, eta):
    """μ at the linear predictor η (offset included) under the default
    link: logit for binomial, with μ clamped to [1e-10, 1−1e-10]; log for
    poisson, gamma, tweedie and negbinomial."""
    with np.errstate(over="ignore"):
        if _NP_BASE.get(family, family) == "binomial":
            return np.clip(1 / (1 + np.exp(-eta)), 1e-10, 1 - 1e-10)
        return np.exp(eta)


def irls_wz_np(
    family: str, y, mu, eta_lin, var_power: float = 1.5, nb_alpha: float = 1.0
):
    """One IRLS pass's working weight w and working response z at μ,
    with η_lin the linear predictor WITHOUT the offset (z excludes it
    too). The weight is (dμ/dη)²/V(μ) at the default link: μ(1−μ) for
    binomial; for the log link μ²/V(μ) — poisson μ, gamma 1, tweedie
    μ^(2−p), negbinomial μ/(1+αμ)."""
    family = _NP_BASE.get(family, family)
    # an underflowed μ = 0 only warns here; the deviance flags the pass
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        if family == "binomial":
            return mu * (1 - mu), eta_lin + (y - mu) / (mu * (1 - mu))
        if family == "gamma":
            w = np.ones_like(mu)
        elif family == "tweedie":
            w = mu ** (2.0 - var_power)
        elif family == "negbinomial":
            w = mu / (1.0 + nb_alpha * mu)
        else:  # poisson
            w = mu
        return w, eta_lin + (y - mu) / mu
