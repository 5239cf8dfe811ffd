"""GLM link functions as Catalyst column expressions, with numpy mirrors.

Reference kernels (GLM.scala:190-251) operate per-element on Breeze
matrices; here each is a SQL expression that fuses into whole-stage codegen
(logit/cloglog) or an Arrow-batched pandas UDF (probit — needs Φ/Φ⁻¹ which
Spark SQL lacks; reference uses breeze.stats Gaussian the same way,
GLM.scala:207-234).

Each link provides:
  link(mu, m)    η = g(μ)
  lprime(mu, m)  dη/dμ
  unlink(eta, m) μ = g⁻¹(η)
plus `*_np` numpy mirrors used by tests and driver-side init.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from sparkglm_spark.functions import special


class Logit:
    """reference: GLM.scala:190-204"""

    name = "logit"

    def link(self, mu: Column, m: Column) -> Column:
        return F.log(mu / (m - mu))

    def lprime(self, mu: Column, m: Column) -> Column:
        return m / (mu * (m - mu))

    def unlink(self, eta: Column, m: Column) -> Column:
        return m / (F.lit(1.0) + F.exp(-eta))

    def link_np(self, mu, m):
        return np.log(mu / (m - mu))

    def lprime_np(self, mu, m):
        return m / (mu * (m - mu))

    def unlink_np(self, eta, m):
        return m / (1.0 + np.exp(-eta))


class Cloglog:
    """reference: GLM.scala:237-251"""

    name = "cloglog"

    def link(self, mu: Column, m: Column) -> Column:
        return F.log(-F.log(F.lit(1.0) - mu / m))

    def lprime(self, mu: Column, m: Column) -> Column:
        return F.lit(1.0) / ((mu - m) * F.log(F.lit(1.0) - mu / m))

    def unlink(self, eta: Column, m: Column) -> Column:
        return m * (F.lit(1.0) - F.exp(-F.exp(eta)))

    def link_np(self, mu, m):
        return np.log(-np.log(1.0 - mu / m))

    def lprime_np(self, mu, m):
        return 1.0 / ((mu - m) * np.log(1.0 - mu / m))

    def unlink_np(self, eta, m):
        return m * (1.0 - np.exp(-np.exp(eta)))


@pandas_udf(DoubleType())
def _probit_link_udf(ratio: pd.Series) -> pd.Series:
    return pd.Series(special.norm_ppf(ratio.to_numpy()))


@pandas_udf(DoubleType())
def _probit_lprime_udf(ratio: pd.Series, m: pd.Series) -> pd.Series:
    q = special.norm_ppf(ratio.to_numpy())
    return pd.Series(1.0 / (m.to_numpy() * special.norm_pdf(q)))


@pandas_udf(DoubleType())
def _probit_unlink_udf(eta: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series(m.to_numpy() * special.norm_cdf(eta.to_numpy()))


class Probit:
    """reference: GLM.scala:207-234 (breeze Gaussian icdf/pdf/cdf →
    Arrow-batched pandas UDFs over our scipy-free special functions)."""

    name = "probit"

    def link(self, mu: Column, m: Column) -> Column:
        return _probit_link_udf(mu / m)

    def lprime(self, mu: Column, m: Column) -> Column:
        return _probit_lprime_udf(mu / m, m)

    def unlink(self, eta: Column, m: Column) -> Column:
        return _probit_unlink_udf(eta, m)

    def link_np(self, mu, m):
        return special.norm_ppf(np.asarray(mu) / np.asarray(m))

    def lprime_np(self, mu, m):
        q = special.norm_ppf(np.asarray(mu) / np.asarray(m))
        return 1.0 / (np.asarray(m) * special.norm_pdf(q))

    def unlink_np(self, eta, m):
        return np.asarray(m) * special.norm_cdf(np.asarray(eta))


class Identity:
    """η = μ (gaussian default; m is ignored — non-binomial families)."""

    name = "identity"

    def link(self, mu: Column, m: Column) -> Column:
        return mu

    def lprime(self, mu: Column, m: Column) -> Column:
        return F.lit(1.0)

    def unlink(self, eta: Column, m: Column) -> Column:
        return eta

    def link_np(self, mu, m):
        return np.asarray(mu, dtype=np.float64)

    def lprime_np(self, mu, m):
        return np.ones_like(np.asarray(mu, dtype=np.float64))

    def unlink_np(self, eta, m):
        return np.asarray(eta, dtype=np.float64)


class Log:
    """η = log μ (poisson default; m is ignored — non-binomial families)."""

    name = "log"

    def link(self, mu: Column, m: Column) -> Column:
        return F.log(mu)

    def lprime(self, mu: Column, m: Column) -> Column:
        return F.lit(1.0) / mu

    def unlink(self, eta: Column, m: Column) -> Column:
        return F.exp(eta)

    def link_np(self, mu, m):
        return np.log(mu)

    def lprime_np(self, mu, m):
        return 1.0 / np.asarray(mu, dtype=np.float64)

    def unlink_np(self, eta, m):
        return np.exp(eta)


class Inverse:
    """η = 1/μ (gamma canonical link; m is ignored — non-binomial)."""

    name = "inverse"

    def link(self, mu: Column, m: Column) -> Column:
        return F.lit(1.0) / mu

    def lprime(self, mu: Column, m: Column) -> Column:
        return F.lit(-1.0) / (mu * mu)

    def unlink(self, eta: Column, m: Column) -> Column:
        return F.lit(1.0) / eta

    def link_np(self, mu, m):
        return 1.0 / np.asarray(mu, dtype=np.float64)

    def lprime_np(self, mu, m):
        mu = np.asarray(mu, dtype=np.float64)
        return -1.0 / (mu * mu)

    def unlink_np(self, eta, m):
        return 1.0 / np.asarray(eta, dtype=np.float64)


LINKS = {
    "logit": Logit(),
    "probit": Probit(),
    "cloglog": Cloglog(),
    "identity": Identity(),
    "log": Log(),
    "inverse": Inverse(),
}


def get_link(name: str):
    try:
        return LINKS[name.lower()]
    except KeyError:
        raise ValueError(f"unknown link {name!r}; supported: {sorted(LINKS)}") from None


def variance_binomial(mu: Column, m: Column) -> Column:
    """μ·(1−μ/m) — reference: GLM.scala:125-129."""
    return mu * (F.lit(1.0) - mu / m)


def deviance_binomial_expr(y: Column, mu: Column, m: Column) -> Column:
    """Per-row binomial deviance contribution (× Σ then ×2 → deviance).
    reference: devBinomial, GLM.scala:162-170. Zero-count terms are guarded
    with when() so μ→0 / μ→m can't produce 0·(±inf)=NaN."""
    my = m - y
    t1 = F.when(y == 0, F.lit(0.0)).otherwise(y * F.log(F.greatest(y, F.lit(1.0)) / mu))
    t2 = F.when(my == 0, F.lit(0.0)).otherwise(
        my * F.log(F.greatest(my, F.lit(1.0)) / (m - mu))
    )
    return t1 + t2
