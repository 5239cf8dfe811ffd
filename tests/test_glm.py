"""GLM numeric oracle tests — the reference has ZERO GLM tests
(SURVEY §5.1); our oracle is an independent driver-side numpy IRLS with the
same reference formulas (GLM.scala:254-315), run on collected data."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkglm_spark.functions.links import LINKS
from sparkglm_spark.operators.glm import GLM, glm


def numpy_irls(X, y, link_name="logit", m=None, offset=None, tol=1e-6, max_iter=50):
    """Driver-side mirror of fitSingleBinomial (GLM.scala:254-315)."""
    lnk = LINKS[link_name]
    n, k = X.shape
    m = np.ones(n) if m is None else m
    offset = np.zeros(n) if offset is None else offset

    def dev(mu):
        my = m - y
        t1 = np.where(y == 0, 0.0, y * np.log(np.maximum(y, 1.0) / mu))
        t2 = np.where(my == 0, 0.0, my * np.log(np.maximum(my, 1.0) / (m - mu)))
        return 2.0 * float(np.sum(t1 + t2))

    if np.all(m == 1.0):
        mu = np.full(n, y.mean())
    else:
        mu = m * (y + 0.5) / (m + 1.0)  # R glm binomial mustart
    eta = lnk.link_np(mu, m)
    d = dev(mu)
    null_dev = d
    deltad, it = 1.0, 0
    beta = None
    xtwxi = None
    while abs(deltad) > tol and it < max_iter:
        grad = lnk.lprime_np(mu, m)
        var = mu * (1.0 - mu / m)
        w = 1.0 / (var * grad**2)
        z = eta + (y - mu) * grad - offset
        XtW = X.T * w
        xtwxi = np.linalg.inv(XtW @ X)
        beta = xtwxi @ (XtW @ z)
        eta = X @ beta + offset
        mu = lnk.unlink_np(eta, m)
        d_old = d
        d = dev(mu)
        deltad = d - d_old
        it += 1
    se = np.sqrt(np.diag(xtwxi))
    var = mu * (1.0 - mu / m)
    pearson = float(np.sum((y - mu) ** 2 / var))
    return {
        "coef": beta, "se": se, "deviance": d, "null_deviance": null_dev,
        "iter": it, "pearson": pearson, "mu": mu,
    }


@pytest.fixture(scope="module")
def logistic_data(spark):
    """Deterministic separable-ish logistic data, k=3."""
    rng = np.random.default_rng(11)
    n = 400
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    eta = -0.5 + 1.2 * x1 - 0.8 * x2
    p = 1 / (1 + np.exp(-eta))
    y = (rng.uniform(0, 1, n) < p).astype(float)
    rows = [(float(a), 1.0, float(b), float(c)) for a, b, c in zip(y, x1, x2)]
    df = spark.createDataFrame(rows, "y double, intercept double, x1 double, x2 double")
    X = np.column_stack([np.ones(n), x1, x2])
    return df, X, y


@pytest.mark.parametrize("link", ["logit", "probit", "cloglog"])
def test_glm_matches_numpy_irls(logistic_data, link):
    df, X, y = logistic_data
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x1", "x2"], link=link)
    oracle = numpy_irls(X, y, link_name=link)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-6)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-6)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-8)
    assert model.null_deviance == pytest.approx(oracle["null_deviance"], rel=1e-8)
    assert model.iter == oracle["iter"]
    assert model.pearson == pytest.approx(oracle["pearson"], rel=1e-6)


def test_glm_partition_invariance(logistic_data):
    df, X, y = logistic_data
    ref = None
    for nparts in [1, 8]:
        model = GLM.fit(
            df.repartition(nparts), y_col="y", x_cols=["intercept", "x1", "x2"]
        )
        if ref is None:
            ref = model
        else:
            np.testing.assert_allclose(model.coefs, ref.coefs, rtol=1e-8)
            assert model.iter == ref.iter


def test_glm_loglik_aic_bernoulli(logistic_data):
    df, X, y = logistic_data
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x1", "x2"])
    oracle = numpy_irls(X, y)
    mu = oracle["mu"]
    ll = float(np.sum(y * np.log(mu) + (1 - y) * np.log(1 - mu)))
    assert model.loglik == pytest.approx(ll, rel=1e-8)
    assert model.aic == pytest.approx(-2 * ll + 2 * 3, rel=1e-8)
    assert model.df_residual == len(y) - 3
    assert model.df_null == len(y) - 1
    assert model.p_dispersion == pytest.approx(oracle["pearson"] / (len(y) - 3), rel=1e-6)


def test_glm_with_offset_and_m(spark):
    """Offset + grouped m in the DISTRIBUTED path — the reference silently
    falls back to single-partition here (SURVEY §2.13.2); we support it."""
    rng = np.random.default_rng(5)
    n = 300
    x = rng.normal(0, 1, n)
    m = rng.integers(1, 10, n).astype(float)
    off = rng.normal(0, 0.2, n)
    eta = 0.3 + 0.9 * x + off
    p = 1 / (1 + np.exp(-eta))
    y = np.array([rng.binomial(int(mi), pi) for mi, pi in zip(m, p)], dtype=float)
    rows = [
        (float(a), 1.0, float(b), float(c), float(d))
        for a, b, c, d in zip(y, x, m, off)
    ]
    df = spark.createDataFrame(
        rows, "y double, intercept double, x double, m double, off double"
    ).repartition(6)
    model = GLM.fit(
        df, y_col="y", x_cols=["intercept", "x"], m_col="m", offset_col="off"
    )
    X = np.column_stack([np.ones(n), x])
    oracle = numpy_irls(X, y, m=m, offset=off)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-6)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-7)
    assert model.iter == oracle["iter"]


def test_glm_formula_on_orders(orders):
    """GLM on real testdata: P(o_orderstatus = 'F') ~ totalprice."""
    from pyspark.sql import functions as F

    df = orders.withColumn(
        "is_f", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    model = glm(df, "is_f ~ o_totalprice")
    assert model.xnames == ["intercept", "o_totalprice"]
    pdf = df.select("is_f", "o_totalprice").toPandas()
    X = np.column_stack([np.ones(len(pdf)), pdf["o_totalprice"].to_numpy()])
    oracle = numpy_irls(X, pdf["is_f"].to_numpy())
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-5)
    s = model.summary().as_dict()
    assert set(s) >= {"coefficients", "deviance", "null_deviance", "aic", "iter"}


def test_glm_predict_response(logistic_data):
    df, X, y = logistic_data
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x1", "x2"])
    scored = model.predict(df)
    preds = np.array([r["prediction"] for r in scored.collect()])
    assert np.all((preds > 0) & (preds < 1))
    assert scored.count() == len(y)


# ---------------------------------------------------------------------------
# family plug-in (SURVEY §2.13.1): gaussian ≡ OLS; poisson vs numpy IRLS
# ---------------------------------------------------------------------------


def test_glm_gaussian_identity_equals_ols(spark):
    rng = np.random.default_rng(7)
    n = 300
    x = rng.normal(0, 2, n)
    y = 3.0 + 1.5 * x + rng.normal(0, 0.5, n)
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    )
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family="gaussian")
    X = np.column_stack([np.ones(n), x])
    beta = np.linalg.solve(X.T @ X, X.T @ y)
    np.testing.assert_allclose(model.coefs, beta, rtol=1e-10)
    resid = y - X @ beta
    sse = float(resid @ resid)
    assert model.deviance == pytest.approx(sse, rel=1e-10)
    assert model.null_deviance == pytest.approx(float(np.sum((y - y.mean()) ** 2)), rel=1e-10)
    # R logLik.glm convention: MLE sigma^2 = SSE/n, sigma counts in AIC
    ll = -0.5 * n * (np.log(2 * np.pi * sse / n) + 1.0)
    assert model.loglik == pytest.approx(ll, rel=1e-10)
    assert model.aic == pytest.approx(-2 * ll + 2 * 3, rel=1e-10)
    assert model.family == "gaussian" and model.link == "identity"


def numpy_irls_poisson(X, y, tol=1e-6, max_iter=50):
    n, k = X.shape
    mu = np.full(n, y.mean())
    eta = np.log(mu)

    def dev(mu):
        t = np.where(y == 0, mu, y * np.log(y / mu) - (y - mu))
        return 2.0 * float(np.sum(t))

    d = dev(mu)
    null_dev = d
    deltad, it = 1.0, 0
    beta = xtwxi = None
    while abs(deltad) > tol and it < max_iter:
        w = mu  # 1/(V(mu)*g'(mu)^2) = 1/(mu * (1/mu)^2)
        z = eta + (y - mu) / mu
        XtW = X.T * w
        xtwxi = np.linalg.inv(XtW @ X)
        beta = xtwxi @ (XtW @ z)
        eta = X @ beta
        mu = np.exp(eta)
        d_old, d = d, dev(mu)
        deltad = d - d_old
        it += 1
    return {"coef": beta, "deviance": d, "null_deviance": null_dev, "iter": it,
            "se": np.sqrt(np.diag(xtwxi)), "mu": mu}


def test_glm_poisson_log_matches_numpy_irls(spark):
    rng = np.random.default_rng(13)
    n = 400
    x = rng.normal(0, 1, n)
    mu_true = np.exp(0.8 + 0.5 * x)
    y = rng.poisson(mu_true).astype(float)
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    ).repartition(5)
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family="poisson")
    oracle = numpy_irls_poisson(np.column_stack([np.ones(n), x]), y)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-8)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-6)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-8)
    assert model.null_deviance == pytest.approx(oracle["null_deviance"], rel=1e-8)
    assert model.iter == oracle["iter"]
    mu = oracle["mu"]
    from sparkglm_spark.functions.special import lgamma
    ll = float(np.sum(np.where(y > 0, y * np.log(mu), 0.0) - mu - lgamma(y + 1)))
    assert model.loglik == pytest.approx(ll, rel=1e-8)
    assert model.aic == pytest.approx(-2 * ll + 2 * 2, rel=1e-8)


def test_glm_family_link_validation(spark):
    df = spark.createDataFrame([(1.0, 1.0)], "y double, intercept double")
    with pytest.raises(ValueError, match="not valid for family"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="poisson", link="logit")
    with pytest.raises(ValueError, match="unknown family"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="negbin")
    with pytest.raises(ValueError, match="m_col"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="gaussian", m_col="y")


def numpy_irls_gamma(X, y, link="log", tol=1e-6, max_iter=50):
    n, k = X.shape
    mu = np.full(n, y.mean())
    eta = np.log(mu) if link == "log" else 1.0 / mu

    def dev(mu):
        return 2.0 * float(np.sum(-np.log(y / mu) + (y - mu) / mu))

    d = dev(mu)
    null_dev = d
    deltad, it = 1.0, 0
    beta = xtwxi = None
    while abs(deltad) > tol and it < max_iter:
        if link == "log":
            grad = 1.0 / mu
        else:
            grad = -1.0 / mu**2
        w = 1.0 / (mu**2 * grad**2)
        z = eta + (y - mu) * grad
        XtW = X.T * w
        xtwxi = np.linalg.inv(XtW @ X)
        beta = xtwxi @ (XtW @ z)
        eta = X @ beta
        mu = np.exp(eta) if link == "log" else 1.0 / eta
        d_old, d = d, dev(mu)
        deltad = d - d_old
        it += 1
    return {"coef": beta, "deviance": d, "null_deviance": null_dev, "iter": it,
            "se": np.sqrt(np.diag(xtwxi)), "mu": mu}


def test_glm_gamma_log_matches_numpy_irls(spark):
    rng = np.random.default_rng(17)
    n = 400
    x = rng.normal(0, 1, n)
    mu_true = np.exp(1.2 + 0.4 * x)
    shape_true = 5.0
    y = rng.gamma(shape_true, mu_true / shape_true)
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    ).repartition(3)
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family="gamma")
    oracle = numpy_irls_gamma(np.column_stack([np.ones(n), x]), y)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-8)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-8)
    assert model.iter == oracle["iter"]
    # loglik per R's aic.Gamma convention: disp = dev/n
    import math
    disp = oracle["deviance"] / n
    shape = 1.0 / disp
    mu = oracle["mu"]
    ll = float(np.sum((shape - 1) * np.log(y) - y / (mu * disp)
                      - shape * np.log(mu * disp))) - n * math.lgamma(shape)
    assert model.loglik == pytest.approx(ll, rel=1e-8)
    assert model.aic == pytest.approx(-2 * ll + 2 * 3, rel=1e-8)
    assert model.family == "gamma" and model.link == "log"


def test_glm_gamma_inverse_link(spark):
    rng = np.random.default_rng(19)
    n = 300
    x = rng.uniform(0.5, 1.5, n)
    mu_true = 1.0 / (0.8 + 0.5 * x)
    y = rng.gamma(8.0, mu_true / 8.0)
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    )
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family="gamma", link="inverse")
    oracle = numpy_irls_gamma(np.column_stack([np.ones(n), x]), y, link="inverse")
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-7)
    assert model.iter == oracle["iter"]


def test_glm_grouped_matches_per_group_numpy_irls(spark, orders):
    """glm_grouped ≡ the module-level numpy IRLS run independently per
    segment (binomial/logit)."""
    from pyspark.sql import functions as F
    from sparkglm_spark.operators.glm import glm_grouped

    od = orders.withColumn(
        "is_f", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    got = (
        glm_grouped(od, "is_f ~ o_totalprice", ["o_orderpriority"])
        .toPandas()
        .sort_values(["o_orderpriority", "term"])
    )
    raw = od.select("o_orderpriority", "is_f", "o_totalprice").toPandas()
    for g, sub in raw.groupby("o_orderpriority"):
        X = np.column_stack([np.ones(len(sub)), sub.o_totalprice.to_numpy()])
        ref = numpy_irls(X, sub.is_f.to_numpy(), "logit")
        mine = got[got.o_orderpriority == g]
        np.testing.assert_allclose(
            mine.estimate.to_numpy(), ref["coef"], rtol=1e-6
        )  # term order: intercept, o_totalprice (sorted = design order here)
        assert mine.deviance.iloc[0] == pytest.approx(ref["deviance"], rel=1e-8)
        assert int(mine.n_rows.iloc[0]) == len(sub)


def test_glm_grouped_poisson(spark, lineitem):
    from sparkglm_spark.operators.glm import glm_grouped

    got = (
        glm_grouped(
            lineitem, "l_quantity ~ l_discount", ["l_returnflag"], family="poisson"
        )
        .toPandas()
        .sort_values(["l_returnflag", "term"])
    )
    raw = lineitem.select("l_returnflag", "l_quantity", "l_discount").toPandas()
    for g, sub in raw.groupby("l_returnflag"):
        X = np.column_stack([np.ones(len(sub)), sub.l_discount.to_numpy()])
        ref = numpy_irls_poisson(X, sub.l_quantity.to_numpy())
        mine = got[got.l_returnflag == g]
        np.testing.assert_allclose(mine.estimate.to_numpy(), ref["coef"], rtol=1e-5)


def numpy_irls_tweedie(X, y, p=1.5, tol=1e-6, max_iter=50):
    """log-link Tweedie IRLS twin: var = mu^p."""
    n, k = X.shape
    mu = np.full(n, y.mean())
    eta = np.log(mu)

    def dev(mu):
        tail = mu ** (2 - p) / (2 - p)
        full = (
            y ** (2 - p) / ((1 - p) * (2 - p))
            - y * mu ** (1 - p) / (1 - p)
            + tail
        )
        return 2.0 * float(np.sum(np.where(y == 0, tail, full)))

    d_prev, it = None, 0
    for it in range(1, max_iter + 1):
        w = mu ** (2 - p)                   # 1/(var * g'^2), g' = 1/mu
        z = eta + (y - mu) / mu * 1.0       # z = eta + (y-mu)*g'
        WX = X * w[:, None]
        xtwxi = np.linalg.inv(X.T @ WX)
        beta = xtwxi @ (WX.T @ z)
        eta = X @ beta
        mu = np.exp(eta)
        d = dev(mu)
        if d_prev is not None and abs(d - d_prev) < tol:
            break
        d_prev = d
    return {
        "coef": beta,
        "se": np.sqrt(np.diag(xtwxi)),
        "deviance": dev(mu),
        "iter": it,
        "mu": mu,
    }


def test_glm_tweedie_matches_numpy_irls(spark):
    rng = np.random.default_rng(21)
    n = 500
    x = rng.normal(0, 1, n)
    mu_true = np.exp(0.4 + 0.6 * x)
    # compound Poisson-gamma draw: exact zeros + heavy positive tail
    counts = rng.poisson(mu_true)
    y = np.array([rng.gamma(2.0, m / 4.0 + 0.25, c).sum() for m, c in zip(mu_true, counts)])
    assert (y == 0).sum() > 20  # the point of tweedie: real zero mass
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    ).repartition(4)
    model = GLM.fit(
        df, y_col="y", x_cols=["intercept", "x"], family="tweedie", var_power=1.5
    )
    oracle = numpy_irls_tweedie(np.column_stack([np.ones(n), x]), y, p=1.5)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-8)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-6)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-8)
    assert model.iter == oracle["iter"]
    assert model.family == "tweedie"
    import math

    assert math.isnan(model.loglik) and math.isnan(model.aic)  # documented
    # predictions are positive (log link) and finite
    mu = [r.prediction for r in model.predict(df).limit(20).collect()]
    assert all(v > 0 and np.isfinite(v) for v in mu)


def test_glm_tweedie_validation(spark):
    df = spark.createDataFrame([(1.0, 1.0)], "y double, intercept double")
    with pytest.raises(ValueError, match="var_power"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="tweedie", var_power=2.5)
    with pytest.raises(ValueError, match="not valid for family"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="tweedie", link="logit")


def numpy_irls_negbin(X, y, alpha=1.0, tol=1e-6, max_iter=50):
    """log-link NB2 IRLS twin with fixed alpha: var = mu + alpha*mu^2."""
    n, k = X.shape
    mu = np.full(n, y.mean())
    eta = np.log(mu)

    def dev(mu):
        ia = 1.0 / alpha
        zero = ia * np.log(1.0 + alpha * mu)
        full = y * np.log(np.where(y > 0, y, 1.0) / mu) - (y + ia) * np.log(
            (1.0 + alpha * y) / (1.0 + alpha * mu)
        )
        return 2.0 * float(np.sum(np.where(y == 0, zero, full)))

    d_prev, it = None, 0
    for it in range(1, max_iter + 1):
        var = mu + alpha * mu * mu
        w = mu * mu / var                   # 1/(var * (1/mu)^2)
        z = eta + (y - mu) / mu
        WX = X * w[:, None]
        xtwxi = np.linalg.inv(X.T @ WX)
        beta = xtwxi @ (WX.T @ z)
        eta = X @ beta
        mu = np.exp(eta)
        d = dev(mu)
        if d_prev is not None and abs(d - d_prev) < tol:
            break
        d_prev = d
    return {"coef": beta, "se": np.sqrt(np.diag(xtwxi)), "deviance": dev(mu),
            "iter": it, "mu": mu}


def test_glm_negbinomial_matches_numpy_irls(spark):
    rng = np.random.default_rng(29)
    n = 600
    x = rng.normal(0, 1, n)
    mu_true = np.exp(1.0 + 0.5 * x)
    # NB2 draw with alpha=1: gamma-mixed poisson (overdispersed, has zeros)
    lam = rng.gamma(1.0, mu_true)          # shape 1/alpha, scale alpha*mu
    y = rng.poisson(lam).astype(float)
    assert (y == 0).sum() > 50 and y.var() > y.mean() * 1.5  # overdispersion
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    ).repartition(4)
    model = GLM.fit(
        df, y_col="y", x_cols=["intercept", "x"], family="negbinomial", nb_alpha=1.0
    )
    oracle = numpy_irls_negbin(np.column_stack([np.ones(n), x]), y, alpha=1.0)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-8)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-6)
    assert model.deviance == pytest.approx(oracle["deviance"], rel=1e-8)
    assert model.iter == oracle["iter"]
    # exact NB2 loglik vs numpy twin
    from sparkglm_spark.functions.special import lgamma

    mu = oracle["mu"]
    ia = 1.0
    ll = float(np.sum(
        lgamma(y + ia) - lgamma(np.full_like(y, ia)) - lgamma(y + 1.0)
        + np.where(y > 0, y * np.log(1.0 * mu / (1.0 + mu)), 0.0)
        - ia * np.log(1.0 + mu)
    ))
    assert model.loglik == pytest.approx(ll, rel=1e-8)
    assert model.aic == pytest.approx(-2 * ll + 2 * 2, rel=1e-8)


def test_glm_negbinomial_validation(spark):
    df = spark.createDataFrame([(1.0, 1.0)], "y double, intercept double")
    with pytest.raises(ValueError, match="alpha"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="negbinomial",
                nb_alpha=0.0)
    with pytest.raises(ValueError, match="not valid for family"):
        GLM.fit(df, y_col="y", x_cols=["intercept"], family="negbinomial",
                link="identity")


def test_glm_confidence_intervals_wald(spark):
    """Wald CI on the link scale vs the numpy quadratic form; response
    bounds map through the inverse link and stay ordered/in-range."""
    from sparkglm_spark.functions.special import norm_ppf
    from sparkglm_spark.operators.glm import GLM

    rng = np.random.default_rng(31)
    n = 400
    x = rng.normal(0, 1, n)
    p = 1.0 / (1.0 + np.exp(-(0.3 + 0.9 * x)))
    y = (rng.uniform(size=n) < p).astype(float)
    df = spark.createDataFrame(
        [(float(a), 1.0, float(b)) for a, b in zip(y, x)],
        "y double, intercept double, x double",
    )
    model = GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family="binomial")
    got = model.predict(
        df, type="response", interval="confidence"
    ).select("x", "prediction", "se_link", "lo", "hi").limit(2000).collect()
    cov = model.cov_params
    zq = float(norm_ppf(0.975))
    b = np.asarray(model.coefs)
    for r in got[:25]:
        xv = np.array([1.0, r["x"]])
        want_se = float(np.sqrt(xv @ cov @ xv))
        assert r["se_link"] == pytest.approx(want_se, rel=1e-9)
        eta = float(b @ xv)
        lo = 1.0 / (1.0 + np.exp(-(eta - zq * want_se)))
        hi = 1.0 / (1.0 + np.exp(-(eta + zq * want_se)))
        assert r["lo"] == pytest.approx(lo, rel=1e-9)
        assert r["hi"] == pytest.approx(hi, rel=1e-9)
        assert 0.0 <= r["lo"] <= r["prediction"] <= r["hi"] <= 1.0
    # link-scale variant returns symmetric bounds around eta
    lr = model.predict(df, type="link", interval="confidence").first()
    assert lr["hi"] - lr["prediction"] == pytest.approx(
        lr["prediction"] - lr["lo"], rel=1e-9
    )
    # decreasing link (gamma/inverse): bounds stay ordered
    gdf = spark.createDataFrame(
        [(float(v), 1.0) for v in rng.gamma(4.0, 2.0, 200)],
        "y double, intercept double",
    )
    gm = GLM.fit(gdf, y_col="y", x_cols=["intercept"], family="gamma",
                 link="inverse")
    gr = gm.predict(gdf, interval="confidence").first()
    assert gr["lo"] <= gr["prediction"] <= gr["hi"]
    with pytest.raises(ValueError, match="interval"):
        model.predict(df, interval="prediction")


def test_glm_intervals_survive_persist(spark, tmp_path):
    from sparkglm_spark import glm, load_model, save_model
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(float(i % 2), float(i)) for i in range(60)], "y double, x double"
    )
    m = glm(df, "y ~ x", family="binomial")
    p = str(tmp_path / "g.json")
    save_model(m, p)
    loaded = load_model(p)
    np.testing.assert_allclose(loaded.cov_params, m.cov_params, rtol=0)
    a = [r["se_link"] for r in m.predict(df, interval="confidence").limit(5).collect()]
    b = [r["se_link"] for r in loaded.predict(df, interval="confidence").limit(5).collect()]
    assert a == b


def test_likelihood_ratio_test_nested_glms(orders):
    """LRT over nested logistic models: the deviance drop from adding a
    real predictor matches the driver formula and a recomputed fit; the
    guards reject family and nesting mismatches."""
    from sparkglm_spark.functions.special import chisq_sf
    from sparkglm_spark.operators.glm import GLM, likelihood_ratio_test
    from pyspark.sql import functions as F

    df = orders.withColumn(
        "y", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    ).withColumn("intercept", F.lit(1.0)).withColumn(
        "x", (F.col("o_totalprice") / 100000.0).cast("double")
    )
    reduced = GLM.fit(df, "y", ["intercept"], family="binomial")
    full = GLM.fit(df, "y", ["intercept", "x"], family="binomial")
    out = likelihood_ratio_test(reduced, full)
    lr = reduced.deviance - full.deviance
    assert out["lr_stat"] == pytest.approx(lr, rel=1e-12)
    assert out["df"] == 1.0
    assert out["p_value"] == pytest.approx(chisq_sf(lr, 1.0), rel=1e-12)
    # deviance-based LR must agree with the loglik form for binomial
    assert lr == pytest.approx(2.0 * (full.loglik - reduced.loglik), rel=1e-6)
    gamma_like = GLM.fit(
        df.withColumn("yy", F.col("o_totalprice").cast("double")),
        "yy", ["intercept"], family="gamma",
    )
    with pytest.raises(ValueError, match="family"):
        likelihood_ratio_test(gamma_like, full)
    with pytest.raises(ValueError, match="subset"):
        likelihood_ratio_test(full, full)


def test_quasipoisson_matches_poisson_beta_scaled_se(lineitem):
    """quasipoisson: identical β to poisson (φ cancels from IRLS), SEs
    scaled by √(Pearson χ²/(n−k)), loglik/AIC NaN, cov_params scaled so
    Wald intervals widen by the same factor."""
    import math

    from sparkglm_spark.operators.glm import glm

    base = glm(lineitem, "l_quantity ~ l_discount", family="poisson",
               exact_iterations=4)
    quasi = glm(lineitem, "l_quantity ~ l_discount", family="quasipoisson",
                exact_iterations=4)
    np.testing.assert_allclose(quasi.coefs, base.coefs, rtol=1e-12)
    assert quasi.deviance == pytest.approx(base.deviance, rel=1e-12)
    phi = base.pearson / base.df_residual
    np.testing.assert_allclose(
        quasi.std_err, base.std_err * math.sqrt(phi), rtol=1e-10
    )
    np.testing.assert_allclose(
        quasi.cov_params, base.cov_params * phi, rtol=1e-10
    )
    assert math.isnan(quasi.loglik) and math.isnan(quasi.aic)
    assert quasi.p_dispersion == pytest.approx(phi, rel=1e-12)
    assert quasi.family == "quasipoisson"


def test_quasibinomial_matches_binomial_beta_scaled_se(orders):
    import math

    from pyspark.sql import functions as F

    from sparkglm_spark.operators.glm import glm

    df = orders.withColumn(
        "y", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    base = glm(df, "y ~ o_totalprice", family="binomial", exact_iterations=4)
    quasi = glm(df, "y ~ o_totalprice", family="quasibinomial",
                exact_iterations=4)
    np.testing.assert_allclose(quasi.coefs, base.coefs, rtol=1e-12)
    phi = base.pearson / base.df_residual
    np.testing.assert_allclose(
        quasi.std_err, base.std_err * math.sqrt(phi), rtol=1e-10
    )
    assert math.isnan(quasi.aic)


def test_glm_grouped_full_family_set(spark):
    """r9: glm_grouped extended to the distributed glm's full
    default-link family set — each group's numpy IRLS must land on the
    same fit as the distributed glm on that slice, for gamma, tweedie,
    negbinomial and the quasi twins; out-of-domain groups degenerate."""
    import numpy as np
    from pyspark.sql import functions as F

    from sparkglm_spark.operators.glm import glm, glm_grouped

    rng = np.random.default_rng(9)
    rows = []
    for g in ("a", "b"):
        b0, b1 = (0.5, 0.8) if g == "a" else (1.2, -0.4)
        for _ in range(150):
            x = float(rng.normal())
            mu = float(np.exp(b0 + b1 * x))
            ygam = float(rng.gamma(2.0, mu / 2.0) + 1e-9)
            ynb = float(rng.poisson(rng.gamma(1.0, mu)))  # NB via gamma-poisson
            ytw = 0.0 if rng.random() < 0.3 else float(rng.gamma(2.0, mu / 2.0))
            rows.append((g, x, ygam, ynb, ytw))
    rows.append(("dirty", 1.0, -3.0, 2.0, 1.0))  # gamma domain violation
    rows.append(("dirty", 2.0, -1.0, 1.0, 2.0))
    rows.append(("dirty", 3.0, 4.0, 0.0, 0.5))
    df = spark.createDataFrame(
        rows, "g string, x double, ygam double, ynb double, ytw double"
    )
    cases = [
        ("gamma", "ygam", {}),
        ("negbinomial", "ynb", {"nb_alpha": 1.0}),
        ("tweedie", "ytw", {"var_power": 1.5}),
        ("quasipoisson", "ynb", {}),
    ]
    for fam, ycol, kw in cases:
        got = {
            (r.g, r.term): r
            for r in glm_grouped(
                df, f"{ycol} ~ x", ["g"], family=fam, **kw
            ).collect()
        }
        for g in ("a", "b"):
            m = glm(
                df.where(F.col("g") == g), f"{ycol} ~ x", family=fam, **kw
            )
            for i, t in enumerate(m.xnames):
                # both converge, by different stopping rules (deviance
                # delta vs coefficient step) -> optimizer-tolerance match
                assert got[(g, t)].estimate == pytest.approx(
                    float(m.coefs[i]), rel=5e-4, abs=1e-6
                ), (fam, g, t)
            assert got[(g, "x")].deviance == pytest.approx(
                m.deviance, rel=1e-4
            ), (fam, g)
        if fam == "gamma":  # negative response -> out of domain -> NULL
            assert got[("dirty", "x")].estimate is None
    # quasi ≡ base family β
    qb = glm_grouped(df, "ynb ~ x", ["g"], family="quasipoisson").collect()
    pb = glm_grouped(df, "ynb ~ x", ["g"], family="poisson").collect()
    for a, b in zip(sorted(qb, key=lambda r: (r.g, r.term)),
                    sorted(pb, key=lambda r: (r.g, r.term))):
        if a.estimate is not None:
            assert a.estimate == pytest.approx(b.estimate, rel=1e-12)
    with pytest.raises(ValueError, match="default link"):
        glm_grouped(df, "ygam ~ x", ["g"], family="gamma", link="inverse")


def test_glm_grouped_domain_and_link_edges(spark):
    """Second-review r9: binomial labels outside [0,1] and non-finite
    covariates must degenerate the group to NULL (not silently fit);
    link spellings are case-insensitive like the distributed glm."""
    from pyspark.sql import functions as F

    from sparkglm_spark.operators.glm import glm_grouped

    rows = [("ok", float(i % 2), float(i) / 10.0) for i in range(40)]
    rows += [("bady", 2.0, 0.1), ("bady", 1.0, 0.2), ("bady", 0.0, 0.3)]
    rows += [("badx", 1.0, float("inf")), ("badx", 0.0, 0.2), ("badx", 1.0, 0.3)]
    df = spark.createDataFrame(rows, "g string, y double, x double")
    out = {
        (r.g, r.term): r
        for r in glm_grouped(df, "y ~ x", ["g"], family="binomial").collect()
    }
    assert out[("ok", "x")].estimate is not None
    assert out[("bady", "x")].estimate is None
    assert out[("badx", "x")].estimate is None
    # gaussian + inf covariate: solve() returns NaN without raising —
    # the finiteness guard must catch it first
    g = {
        (r.g, r.term): r
        for r in glm_grouped(df, "y ~ x", ["g"], family="gaussian").collect()
    }
    assert g[("badx", "x")].estimate is None
    assert g[("ok", "x")].estimate is not None
    # case-insensitive link
    ok = glm_grouped(df.where(F.col("g") == "ok"), "y ~ x", ["g"],
                     family="poisson", link="Log").collect()
    assert any(r.estimate is not None for r in ok)
    # binomial twin parity on one group: the per-row start differs from
    # glm's mu = ybar start, so the converged fits are compared
    one = df.where(F.col("g") == "ok")
    got = {
        r.term: r
        for r in glm_grouped(one, "y ~ x", ["g"], tol=1e-12).collect()
    }
    solo = glm(one, "y ~ x", family="binomial", tol=1e-12)
    for i, t in enumerate(solo.xnames):
        assert got[t].estimate == pytest.approx(
            float(solo.coefs[i]), rel=1e-8, abs=1e-10
        ), t
    assert got["x"].deviance == pytest.approx(solo.deviance, rel=1e-10)


def test_glm_weighted_matches_mllib_glr(spark):
    """GOLDEN (r11): glm(weight_col=) vs MLlib GeneralizedLinearRegression
    (weightCol) for binomial, poisson and gamma — coefficients at 1e-6
    and, where MLlib's dispersion is fixed at 1 (binomial/poisson),
    standard errors too. Weights are feature-correlated so a wrong
    convention cannot hide."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GeneralizedLinearRegression

    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(19)
    n = 1500
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n)
    w = 0.25 + np.abs(x1)
    rows_b = [
        (float((rng.uniform() < 1 / (1 + np.exp(0.4 - x1[i] + 0.7 * x2[i])))),
         float(x1[i]), float(x2[i]), float(w[i]))
        for i in range(n)
    ]
    dfb = spark.createDataFrame(rows_b, "y double, x1 double, x2 double, w double")
    rows_p = [
        (float(rng.poisson(np.exp(0.5 + 0.4 * x1[i] - 0.3 * x2[i]))),
         float(x1[i]), float(x2[i]), float(w[i]))
        for i in range(n)
    ]
    dfp = spark.createDataFrame(rows_p, "y double, x1 double, x2 double, w double")
    rows_g = [
        (float(rng.gamma(2.0, np.exp(1.0 + 0.3 * x1[i]) / 2.0)),
         float(x1[i]), float(x2[i]), float(w[i]))
        for i in range(n)
    ]
    dfg = spark.createDataFrame(rows_g, "y double, x1 double, x2 double, w double")

    for df, fam, check_se in ((dfb, "binomial", True), (dfp, "poisson", True),
                              (dfg, "gamma", False)):
        fd = VectorAssembler(
            inputCols=["x1", "x2"], outputCol="features"
        ).transform(df)
        glr = GeneralizedLinearRegression(
            labelCol="y", family=fam, weightCol="w",
            maxIter=100, tol=1e-10,
            **({"link": "log"} if fam == "gamma" else {}),
        ).fit(fd)
        m = glm(
            df, "y ~ x1 + x2", family=fam, weight_col="w", tol=1e-12,
            **({"link": "log"} if fam == "gamma" else {}),
        )
        want = np.array([glr.intercept] + list(glr.coefficients))
        assert np.abs(m.coefs - want).max() < 1e-6, fam
        if check_se:
            se_want = np.array(glr.summary.coefficientStandardErrors)
            # MLlib orders (coefficients..., intercept)
            se_want = np.r_[se_want[-1], se_want[:-1]]
            assert np.abs(m.std_err - se_want).max() < 1e-6, fam


def test_glm_weighted_replication_and_zero_weights(spark):
    """Integer ω ≡ row replication for every SUM statistic (coefs,
    deviance, Pearson, null deviance at 1e-9) while the dfs follow R's
    nobs (#{ω>0}); and ω = 0 rows are EXACTLY absent — the weighted fit
    equals the fit on the physically filtered frame, df included."""
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(23)
    n = 300
    x = rng.normal(0, 1, n)
    y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-0.3 - 0.9 * x))).astype(float)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i]), int(w[i])) for i in range(n)],
        "y double, x double, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")
    mw = glm(df, "y ~ x", family="binomial", weight_col="w", tol=1e-12)
    mr = glm(rep, "y ~ x", family="binomial", tol=1e-12)
    assert np.abs(mw.coefs - mr.coefs).max() < 1e-9
    assert mw.deviance == pytest.approx(mr.deviance, rel=1e-9)
    assert mw.pearson == pytest.approx(mr.pearson, rel=1e-9)
    assert mw.null_deviance == pytest.approx(mr.null_deviance, rel=1e-9)
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-9)
    # frequency vs replication semantics: df counts ROWS with w > 0
    assert mw.df_residual == n - 2 and mr.df_residual == int(w.sum()) - 2

    # zero-weight rows are exactly absent (R nobs convention)
    wz = np.where(x > 1.0, 0.0, 1.0)
    dfz = spark.createDataFrame(
        [(float(y[i]), float(x[i]), float(wz[i])) for i in range(n)],
        "y double, x double, w double",
    )
    mz = glm(dfz, "y ~ x", family="binomial", weight_col="w", tol=1e-12)
    mf = glm(
        dfz.where(F.col("w") > 0).drop("w"), "y ~ x", family="binomial",
        tol=1e-12,
    )
    assert np.abs(mz.coefs - mf.coefs).max() < 1e-10
    assert mz.df_residual == mf.df_residual
    assert mz.deviance == pytest.approx(mf.deviance, rel=1e-10)


def test_glm_weighted_guards_and_estimator(spark):
    """Weight-domain violations raise via the shared guard; SparkGLM
    forwards weightCol to the unpenalized glm (estimator ≡ function);
    weighted gaussian loglik carries the R +half*sum(log w) term."""
    from sparkglm_spark.ml import SparkGLM
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(29)
    n = 200
    x = rng.normal(0, 1, n)
    y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-x))).astype(float)
    wv = 0.5 + rng.random(n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i]), float(wv[i])) for i in range(n)],
        "y double, x double, w double",
    )
    with pytest.raises(ValueError, match="negative"):
        glm(
            df.withColumn("w", F.when(F.col("x") > 1, -1.0).otherwise(1.0)),
            "y ~ x", weight_col="w",
        )
    with pytest.raises(ValueError, match="null"):
        glm(
            df.withColumn("w", F.when(F.col("x") > 1, None).otherwise(1.0)),
            "y ~ x", weight_col="w", na_action="keep",
        )
    with pytest.raises(ValueError, match="Σw > 0"):
        glm(df.withColumn("w", F.lit(0.0)), "y ~ x", weight_col="w")

    est = SparkGLM(formula="y ~ x", family="binomial", weightCol="w").fit(df)
    fn = glm(df, "y ~ x", family="binomial", weight_col="w")
    assert np.abs(est.model.coefs - fn.coefs).max() < 1e-12

    # weighted gaussian ll: R logLik convention (dev/n_obs MLE variance,
    # + half*sum(log w)) — checked against the closed form
    g = glm(df, "y ~ x", family="gaussian", weight_col="w")
    resid_row = (
        g.predict(df).withColumn("e", F.col("y") - F.col("prediction"))
        .agg(F.sum(F.col("w") * F.col("e") * F.col("e")).alias("dev"),
             F.sum(F.log("w")).alias("slw")).collect()[0]
    )
    dev, slw = float(resid_row["dev"]), float(resid_row["slw"])
    want_ll = -0.5 * n * (np.log(2 * np.pi * dev / n) + 1.0) + 0.5 * slw
    assert g.loglik == pytest.approx(want_ll, rel=1e-9)


def test_glm_grouped_weighted(spark):
    """glm_grouped(weight_col=): per-slice agreement with the distributed
    glm(weight_col=) at optimizer tolerance for binomial and poisson;
    integer-weight replication identity per group; a group with a
    negative weight degenerates to NULL (grouped NULL policy) while the
    others fit."""
    from sparkglm_spark.operators.glm import glm, glm_grouped

    rng = np.random.default_rng(31)
    rows = []
    for g in ("a", "b", "c"):
        n = 150
        x = rng.normal(0, 1, n)
        y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-0.2 - 0.8 * x))).astype(float)
        w = rng.integers(1, 4, n)
        rows += [(g, float(y[i]), float(x[i]), float(w[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, y double, x double, w double")

    out = {
        (r.g, r.term): r
        for r in glm_grouped(
            df, "y ~ x", ["g"], family="binomial", weight_col="w", tol=1e-10
        ).collect()
    }
    for g in ("a", "b", "c"):
        solo = glm(
            df.where(F.col("g") == g), "y ~ x", family="binomial",
            weight_col="w", tol=1e-12,
        )
        assert out[(g, "intercept")].estimate == pytest.approx(
            float(solo.coefs[0]), abs=1e-7
        ), g
        assert out[(g, "x")].estimate == pytest.approx(
            float(solo.coefs[1]), abs=1e-7
        ), g
        assert out[(g, "x")].deviance == pytest.approx(solo.deviance, rel=1e-8)
        # integer weights ≡ replication inside the group
        rep = (
            df.where(F.col("g") == g)
            .withColumn("r", F.explode(F.expr("sequence(1, CAST(w AS INT))")))
            .drop("r", "w")
        )
        mrep = glm(rep, "y ~ x", family="binomial", tol=1e-12)
        assert out[(g, "x")].estimate == pytest.approx(
            float(mrep.coefs[1]), abs=1e-7
        ), g

    # poisson arm
    rowsp = []
    for g in ("a", "b"):
        n = 120
        x = rng.normal(0, 1, n)
        lam = np.exp(0.4 + 0.5 * x)
        yv = rng.poisson(lam).astype(float)
        w = 0.5 + rng.random(n)
        rowsp += [(g, float(yv[i]), float(x[i]), float(w[i])) for i in range(n)]
    dfp = spark.createDataFrame(rowsp, "g string, y double, x double, w double")
    outp = {
        (r.g, r.term): r
        for r in glm_grouped(
            dfp, "y ~ x", ["g"], family="poisson", weight_col="w", tol=1e-10
        ).collect()
    }
    for g in ("a", "b"):
        solo = glm(
            dfp.where(F.col("g") == g), "y ~ x", family="poisson",
            weight_col="w", tol=1e-12,
        )
        assert outp[(g, "x")].estimate == pytest.approx(
            float(solo.coefs[1]), abs=1e-7
        ), g

    # one bad-weight group -> NULL, others unaffected
    bad = df.withColumn(
        "w", F.when((F.col("g") == "b") & (F.col("x") > 1), -1.0).otherwise(F.col("w"))
    )
    outb = {
        (r.g, r.term): r
        for r in glm_grouped(
            bad, "y ~ x", ["g"], family="binomial", weight_col="w"
        ).collect()
    }
    assert outb[("b", "x")].estimate is None
    assert outb[("a", "x")].estimate is not None
    assert outb[("a", "x")].estimate == pytest.approx(
        out[("a", "x")].estimate, rel=1e-12
    )


def test_glm_grouped_offset(spark):
    """glm_grouped(offset_col=): per-segment Poisson rate model (offset =
    log exposure) agrees with glm(offset_col=) per slice at optimizer
    tolerance; composes with weight_col; a non-finite offset NULLs its
    group; gaussian subtracts the offset from the response."""
    from sparkglm_spark.operators.glm import glm, glm_grouped

    rng = np.random.default_rng(37)
    rows = []
    for g in ("a", "b"):
        n = 150
        x = rng.normal(0, 1, n)
        expo = rng.uniform(0.5, 3.0, n)
        lam = expo * np.exp(0.3 + 0.6 * x)
        yv = rng.poisson(lam).astype(float)
        w = 0.5 + rng.random(n)
        rows += [
            (g, float(yv[i]), float(x[i]), float(np.log(expo[i])), float(w[i]))
            for i in range(n)
        ]
    df = spark.createDataFrame(
        rows, "g string, y double, x double, lexpo double, w double"
    )
    out = {
        (r.g, r.term): r
        for r in glm_grouped(
            df, "y ~ x", ["g"], family="poisson", offset_col="lexpo",
            weight_col="w", tol=1e-10,
        ).collect()
    }
    for g in ("a", "b"):
        solo = glm(
            df.where(F.col("g") == g), "y ~ x", family="poisson",
            offset_col="lexpo", weight_col="w", tol=1e-12,
        )
        assert out[(g, "intercept")].estimate == pytest.approx(
            float(solo.coefs[0]), abs=1e-7
        ), g
        assert out[(g, "x")].estimate == pytest.approx(
            float(solo.coefs[1]), abs=1e-7
        ), g
        assert out[(g, "x")].deviance == pytest.approx(solo.deviance, rel=1e-8)

    # non-finite offset -> NULL group, sibling untouched
    bad = df.withColumn(
        "lexpo",
        F.when((F.col("g") == "b") & (F.col("x") > 1), float("inf"))
        .otherwise(F.col("lexpo")),
    )
    outb = {
        (r.g, r.term): r
        for r in glm_grouped(
            bad, "y ~ x", ["g"], family="poisson", offset_col="lexpo"
        ).collect()
    }
    assert outb[("b", "x")].estimate is None
    assert outb[("a", "x")].estimate is not None

    # gaussian: offset subtracts from the response (identity link)
    go = {
        r.term: r
        for r in glm_grouped(
            df.where(F.col("g") == "a"), "y ~ x", ["g"], family="gaussian",
            offset_col="lexpo",
        ).collect()
    }
    pdf = df.where(F.col("g") == "a").toPandas()
    Xd = np.column_stack([np.ones(len(pdf)), pdf["x"].to_numpy()])
    ya = pdf["y"].to_numpy() - pdf["lexpo"].to_numpy()
    want = np.linalg.solve(Xd.T @ Xd, Xd.T @ ya)
    assert go["intercept"].estimate == pytest.approx(want[0], rel=1e-10)
    assert go["x"].estimate == pytest.approx(want[1], rel=1e-10)


def test_glm_weighted_review_regressions(spark):
    """Code-review r11 regressions: (1) weighted GAMMA loglik follows
    R's aic.Gamma (dispersion = deviance/sum(w)) — the integer-weight
    replication identity now holds for gamma's loglik too; (2) a NaN
    weight raises instead of NaN-poisoning the fit; (3) 'y ~ .' with a
    weight column excludes it from dot expansion."""
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(53)
    n = 200
    x = rng.normal(0, 1, n)
    y = rng.gamma(2.0, np.exp(0.5 + 0.4 * x) / 2.0)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i]), int(w[i])) for i in range(n)],
        "y double, x double, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")
    mw = glm(df, "y ~ x", family="gamma", link="log", weight_col="w", tol=1e-12)
    mr = glm(rep, "y ~ x", family="gamma", link="log", tol=1e-12)
    assert np.abs(mw.coefs - mr.coefs).max() < 1e-9
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-9)
    assert mw.aic == pytest.approx(mr.aic, rel=1e-9)

    # na_action="omit" drops NaN-weight rows (Spark's na.drop treats NaN
    # as missing); the guard protects the "keep" path
    with pytest.raises(ValueError, match="NaN"):
        glm(
            df.withColumn(
                "w", F.when(F.col("x") > 1, float("nan")).otherwise(F.col("w"))
            ),
            "y ~ x", family="gamma", link="log", weight_col="w",
            na_action="keep",
        )

    # 'y ~ .' must not duplicate the weight column as a covariate
    m = glm(
        df.withColumn("yy", (F.col("y") > 1).cast("double")).drop("y"),
        "yy ~ .", family="binomial", weight_col="w",
    )
    assert sorted(m.xnames) == ["intercept", "x"]


def test_grouped_dot_expansion_excludes_passthrough(spark):
    """Code-review r11 #3: _design excludes weight/offset pass-through
    columns from '.' expansion — 'y ~ .' with weight_col in a GROUPED
    fitter must not duplicate the column."""
    from sparkglm_spark.operators.glm import glm_grouped

    rng = np.random.default_rng(67)
    rows = [
        ("a" if i % 2 else "b",
         float(rng.uniform() < 0.5), float(rng.normal()), 1.0 + i % 2)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "g string, y double, x double, w double")
    out = glm_grouped(df, "y ~ .", ["g"], family="binomial", weight_col="w")
    terms = sorted({r.term for r in out.collect()})
    assert terms == ["intercept", "x"]


class TestGlmNB:
    """glm_nb — NB2 with ML-estimated dispersion (the MASS::glm.nb
    surface, r14). Oracles: the in-memory `_np_glm_nb` twin (identical
    trajectory), θ-recovery on simulated NB2 draws, score stationarity
    at the reported optimum, and the engine's own fixed-α glm at α̂."""

    @pytest.fixture(scope="class")
    def nb_data(self, spark):
        rng = np.random.default_rng(42)
        n = 4000
        x = rng.normal(size=n)
        g = rng.integers(0, 2, size=n)
        mu = np.exp(0.6 + 0.45 * x - 0.3 * g)
        th = 1.8
        y = rng.negative_binomial(th, th / (th + mu)).astype(float)
        import pandas as pd

        pdf = pd.DataFrame({"y": y, "x": x, "g": g.astype(float)})
        return spark.createDataFrame(pdf).repartition(7), pdf

    def test_matches_numpy_twin_converged(self, nb_data):
        from sparkglm_spark.operators.glm import _np_glm_nb, glm_nb

        df, pdf = nb_data
        m = glm_nb(df, "y ~ x + g")
        X = np.column_stack([np.ones(len(pdf)), pdf["x"], pdf["g"]])
        r = _np_glm_nb(pdf["y"].to_numpy(), X)
        assert abs(m.theta - r["theta"]) < 1e-8 * (1 + r["theta"])
        np.testing.assert_allclose(m.coefs, r["beta"], rtol=1e-9, atol=1e-12)
        np.testing.assert_allclose(m.std_err, r["se"], rtol=1e-8)
        assert abs(m.loglik - r["loglik"]) < 1e-6
        assert abs(m.se_theta - r["se_theta"]) < 1e-8 * r["se_theta"]
        assert abs(m.aic - r["aic"]) < 1e-6

    def test_matches_numpy_twin_pinned(self, nb_data):
        # fixed-iteration mode: the exact trajectory, to float round-off
        from sparkglm_spark.operators.glm import _np_glm_nb, glm_nb

        df, pdf = nb_data
        m = glm_nb(df, "y ~ x + g", exact_iterations=2, irls_iterations=3,
                   theta_iterations=2)
        X = np.column_stack([np.ones(len(pdf)), pdf["x"], pdf["g"]])
        r = _np_glm_nb(pdf["y"].to_numpy(), X, exact_iterations=2,
                       irls_iterations=3, theta_iterations=2)
        assert abs(m.theta - r["theta"]) < 1e-10
        np.testing.assert_allclose(m.coefs, r["beta"], rtol=1e-12, atol=1e-14)

    def test_theta_recovery_and_stationarity(self, nb_data):
        # θ̂ near the simulation truth, and the profile score ≈ 0 at
        # (β̂, θ̂) — the defining ML property, checked independently
        from sparkglm_spark.functions.special import digamma
        from sparkglm_spark.operators.glm import glm_nb

        df, pdf = nb_data
        m = glm_nb(df, "y ~ x + g")
        assert 1.4 < m.theta < 2.3  # truth 1.8, n=4000
        X = np.column_stack([np.ones(len(pdf)), pdf["x"], pdf["g"]])
        y = pdf["y"].to_numpy()
        mu = np.exp(X @ m.coefs)
        th = m.theta
        score = float(np.sum(
            digamma(th + y) - digamma(np.full_like(y, th)) + np.log(th)
            + 1.0 - np.log(th + mu) - (th + y) / (th + mu)
        ))
        assert abs(score) < 1e-3 * len(y) ** 0.5

    def test_final_fit_consistency_with_fixed_alpha_glm(self, nb_data):
        # the returned model IS a glm(negbinomial, nb_alpha=1/θ̂) fit:
        # refitting at the estimated α reproduces β/SE/deviance; AIC
        # differs by exactly 2 (θ counts as a parameter in glm_nb)
        from sparkglm_spark.operators.glm import glm, glm_nb

        df, _ = nb_data
        m = glm_nb(df, "y ~ x + g")
        f = glm(df, "y ~ x + g", family="negbinomial", nb_alpha=m.nb_alpha,
                tol=1e-8)
        np.testing.assert_allclose(m.coefs, f.coefs, rtol=1e-7)
        np.testing.assert_allclose(m.std_err, f.std_err, rtol=1e-7)
        assert abs(m.deviance - f.deviance) < 1e-5
        assert abs((m.aic - 2.0) - f.aic) < 1e-5

    def test_weighted_replication_identity(self, spark):
        # integer ω ≡ row replication for every sum statistic: θ̂, β̂,
        # loglik identical (the engine-wide frequency-weight contract)
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        rng = np.random.default_rng(3)
        n = 600
        x = rng.normal(size=n)
        mu = np.exp(0.5 + 0.4 * x)
        y = rng.negative_binomial(2.0, 2.0 / (2.0 + mu)).astype(float)
        w = rng.integers(1, 4, size=n).astype(float)
        base = pd.DataFrame({"y": y, "x": x, "w": w})
        rep = base.loc[base.index.repeat(base["w"].astype(int))]
        mw = glm_nb(spark.createDataFrame(base), "y ~ x", weight_col="w")
        mr = glm_nb(spark.createDataFrame(rep[["y", "x"]]), "y ~ x")
        assert abs(mw.theta - mr.theta) < 1e-7 * (1 + mr.theta)
        np.testing.assert_allclose(mw.coefs, mr.coefs, rtol=1e-8)
        assert abs(mw.loglik - mr.loglik) < 1e-5

    def test_offset_composition(self, spark):
        # η = Xβ + offset: folding a known offset into the intercept of
        # an offset-free fit on exp-adjusted data gives the same β̂/θ̂
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        rng = np.random.default_rng(11)
        n = 1500
        x = rng.normal(size=n)
        expo = rng.uniform(0.5, 2.0, size=n)
        mu = expo * np.exp(0.3 + 0.5 * x)
        y = rng.negative_binomial(3.0, 3.0 / (3.0 + mu)).astype(float)
        pdf = pd.DataFrame({"y": y, "x": x, "lo": np.log(expo)})
        m = glm_nb(spark.createDataFrame(pdf), "y ~ x", offset_col="lo")
        assert 2.0 < m.theta < 4.5
        assert abs(m.coefs[1] - 0.5) < 0.1

    def test_hist_fallback_matches_histogram_path(self, nb_data):
        # hist_limit=1 forces the pandas-UDF ψ/ψ′ aggregation — same
        # numbers as the driver-histogram path (lossless regrouping)
        from sparkglm_spark.operators.glm import glm_nb

        df, _ = nb_data
        a = glm_nb(df, "y ~ x + g", exact_iterations=1)
        b = glm_nb(df, "y ~ x + g", exact_iterations=1, hist_limit=1)
        assert abs(a.theta - b.theta) < 1e-9
        np.testing.assert_allclose(a.coefs, b.coefs, rtol=1e-12)

    def test_domain_guards(self, spark, nb_data):
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        neg = spark.createDataFrame(
            pd.DataFrame({"y": [-1.0, 2.0, 3.0, 1.0], "x": [0.1, 0.2, 0.3, 0.4]})
        )
        with pytest.raises(ValueError, match="y >= 0"):
            glm_nb(neg, "y ~ x")
        frac = spark.createDataFrame(
            pd.DataFrame({"y": [0.5, 2.0, 3.0, 1.0, 2.0, 4.0],
                          "x": [0.1, 0.2, 0.3, 0.4, 0.5, 0.6]})
        )
        with pytest.warns(UserWarning, match="non-integer"):
            glm_nb(frac, "y ~ x", max_iter=3)

    def test_equidispersed_clamps_theta(self, spark):
        # variance < mean: the θ-score is positive everywhere — Newton
        # runs up to the 1e7 clamp and warns (the fit is ~poisson)
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        n = 400
        y = np.tile([3.0, 4.0], n // 2)  # var 0.25 << mean 3.5
        pdf = pd.DataFrame({"y": y, "x": np.linspace(-1.0, 1.0, n)})
        with pytest.warns(UserWarning, match="overdispersion"):
            m = glm_nb(spark.createDataFrame(pdf), "y ~ x",
                       theta_max_iter=80, max_iter=5)
        assert m.theta == pytest.approx(1e7)

    def test_grouped_matches_per_slice(self, spark):
        # glm_nb_grouped ≡ glm_nb per slice (pin mode, bitwise-tight) —
        # the grouped-fitter contract every family here honors
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb, glm_nb_grouped

        rng = np.random.default_rng(19)
        frames = []
        for gi, (b0, b1, th) in enumerate([(0.4, 0.5, 1.5), (0.9, -0.3, 3.0)]):
            n = 800
            x = rng.normal(size=n)
            mu = np.exp(b0 + b1 * x)
            y = rng.negative_binomial(th, th / (th + mu)).astype(float)
            frames.append(pd.DataFrame({"seg": f"s{gi}", "y": y, "x": x}))
        pdf = pd.concat(frames, ignore_index=True)
        df = spark.createDataFrame(pdf).repartition(5)
        out = glm_nb_grouped(
            df, "y ~ x", ["seg"], exact_iterations=2, irls_iterations=4,
            theta_iterations=2,
        ).toPandas().sort_values(["seg", "term"]).reset_index(drop=True)
        for gi in range(2):
            seg = f"s{gi}"
            sl = df.filter(F.col("seg") == seg)
            m = glm_nb(sl, "y ~ x", exact_iterations=2, irls_iterations=4,
                       theta_iterations=2)
            rows = out[out["seg"] == seg].set_index("term")
            assert abs(rows["theta"].iloc[0] - m.theta) < 1e-9 * (1 + m.theta)
            np.testing.assert_allclose(
                [rows.loc["intercept", "estimate"], rows.loc["x", "estimate"]],
                m.coefs, rtol=1e-9,
            )
            np.testing.assert_allclose(
                [rows.loc["intercept", "se"], rows.loc["x", "se"]],
                m.std_err, rtol=1e-8,
            )
            assert abs(rows["loglik"].iloc[0] - m.loglik) < 1e-6

    def test_grouped_degenerate_group_nulls(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb_grouped

        pdf = pd.DataFrame({
            "seg": ["a"] * 50 + ["b"] * 2,
            "y": list(np.random.default_rng(0).poisson(3.0, 50).astype(float) * 2.0
                      + np.random.default_rng(1).poisson(2.0, 50).astype(float))
            + [-1.0, 2.0],
            "x": list(np.random.default_rng(2).normal(size=50)) + [0.1, 0.2],
        })
        df = spark.createDataFrame(pdf)
        out = glm_nb_grouped(df, "y ~ x", ["seg"])
        b = out.filter(F.col("seg") == "b").toPandas()
        assert b["estimate"].isna().all() and b["theta"].isna().all()
        # twin parity on the healthy group: the numpy twin replays the
        # distributed trajectory, so a pinned run agrees to round-off
        from sparkglm_spark.operators.glm import glm_nb

        a_df = df.filter(F.col("seg") == "a")
        rows = glm_nb_grouped(
            a_df, "y ~ x", ["seg"], exact_iterations=2
        ).toPandas().set_index("term")
        m = glm_nb(a_df, "y ~ x", exact_iterations=2)
        np.testing.assert_allclose(
            rows.loc[m.xnames, "estimate"], m.coefs, rtol=1e-9
        )
        np.testing.assert_allclose(
            rows.loc[m.xnames, "se"], m.std_err, rtol=1e-8
        )
        assert rows["theta"].iloc[0] == pytest.approx(m.theta, rel=1e-9)
        assert rows["loglik"].iloc[0] == pytest.approx(m.loglik, rel=1e-10)

    # ---- review-pass r14 regressions ---------------------------------

    def test_clamped_se_theta_none_persists_and_prints(self, spark, tmp_path):
        # θ clamped → se_theta None: the summary θ line and the persist
        # round-trip must both survive (review r14 #1)
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb
        from sparkglm_spark.persist import load_model, save_model

        n = 200
        pdf = pd.DataFrame({"y": np.tile([3.0, 4.0], n // 2),
                            "x": np.linspace(-1.0, 1.0, n)})
        with pytest.warns(UserWarning):
            m = glm_nb(spark.createDataFrame(pdf), "y ~ x",
                       theta_max_iter=80, max_iter=3)
        assert m.se_theta is None
        assert "Theta:" in str(m.summary())
        p = str(tmp_path / "clamped.json")
        save_model(m, p)
        back = load_model(p)
        assert back.theta == m.theta and back.se_theta is None
        assert "Theta:" in str(back.summary())

    def test_na_keep_null_y_does_not_crash(self, spark):
        # na_action='keep' with a NULL y row: the histogram drops the
        # NULL key, the θ-step filters the row — both ψ paths agree
        # (review r14 #2)
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        rng = np.random.default_rng(2)
        pdf = pd.DataFrame({
            "y": rng.negative_binomial(2.0, 0.4, 300).astype(float),
            "x": rng.normal(size=300),
        })
        pdf.loc[5, "y"] = None
        df = spark.createDataFrame(pdf)
        a = glm_nb(df, "y ~ x", na_action="keep", exact_iterations=1)
        b = glm_nb(df, "y ~ x", na_action="keep", exact_iterations=1,
                   hist_limit=1)
        assert np.isfinite(a.theta)
        assert abs(a.theta - b.theta) < 1e-9

    def test_np_twin_integer_dtype(self):
        # int64 y must not truncate θ inside full_like (review r14 #3)
        from sparkglm_spark.operators.glm import _np_glm_nb

        rng = np.random.default_rng(8)
        n = 500
        x = rng.normal(size=n)
        mu = np.exp(0.5 + 0.4 * x)
        yi = rng.negative_binomial(2.0, 2.0 / (2.0 + mu))  # int64
        X = np.column_stack([np.ones(n), x])
        a = _np_glm_nb(yi, X, exact_iterations=1)
        b = _np_glm_nb(yi.astype(float), X, exact_iterations=1)
        assert a["theta"] == b["theta"]
        np.testing.assert_array_equal(a["beta"], b["beta"])

    def test_zero_iteration_args_raise(self, nb_data):
        from sparkglm_spark.operators.glm import _np_glm_nb, glm_nb

        df, pdf = nb_data
        with pytest.raises(ValueError, match="exact_iterations"):
            glm_nb(df, "y ~ x + g", exact_iterations=0)
        with pytest.raises(ValueError, match="max_iter"):
            glm_nb(df, "y ~ x + g", max_iter=0)
        X = np.column_stack([np.ones(len(pdf)), pdf["x"], pdf["g"]])
        with pytest.raises(ValueError, match="exact_iterations"):
            _np_glm_nb(pdf["y"].to_numpy(), X, exact_iterations=0)

    def test_na_keep_null_y_never_occupies_hist_slot(self, spark):
        # review r14 pass 2: with na_action='keep', a NULL y group must
        # not eat a hist_limit slot — at hist_limit == #distinct-y the
        # histogram path must survive AND agree with the UDF fallback
        import pandas as pd

        from sparkglm_spark.operators.glm import glm_nb

        rng = np.random.default_rng(12)
        yv = rng.negative_binomial(2.0, 0.4, 400).astype(float)
        pdf = pd.DataFrame({"y": yv, "x": rng.normal(size=400)})
        pdf.loc[3, "y"] = None
        df = spark.createDataFrame(pdf)
        nd = int(pdf["y"].nunique())
        a = glm_nb(df, "y ~ x", na_action="keep", exact_iterations=1,
                   hist_limit=nd)  # exactly at the limit: no truncation
        b = glm_nb(df, "y ~ x", na_action="keep", exact_iterations=1,
                   hist_limit=1)  # forced UDF fallback
        assert abs(a.theta - b.theta) < 1e-9
        np.testing.assert_allclose(a.coefs, b.coefs, rtol=1e-12)


@pytest.mark.parametrize(
    "fitter, kw",
    [
        ("glm", {"exact_iterations": 0}),
        ("glm", {"max_iter": 0}),
        ("glm_grouped", {"exact_iterations": 0}),
        ("glm_grouped", {"max_iter": 0}),
        ("glm_nb_grouped", {"exact_iterations": 0}),
    ],
)
def test_iteration_counts_refused_before_any_job(spark, fitter, kw):
    """A zero iteration count raises glm_nb's ValueError on the driver
    before any Spark job — not a TypeError after the init job, all-NULL
    rows, or a worker error at action time."""
    from sparkglm_spark.operators import glm as G

    df = spark.createDataFrame(
        [("a", float(i % 4), float(i) / 10.0) for i in range(20)],
        "g string, y double, x double",
    )
    args = (df, "y ~ x") if fitter == "glm" else (df, "y ~ x", ["g"])
    if fitter != "glm_nb_grouped":
        kw = {**kw, "family": "poisson"}
    sc = spark.sparkContext
    sc.setJobGroup("iter_guard", "iter_guard")
    try:
        with pytest.raises(ValueError, match=next(iter(kw)) + " must be >= 1"):
            getattr(G, fitter)(*args, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("iter_guard") == []


@pytest.mark.parametrize(
    "family,bad", [("gamma", 0.0), ("gamma", -3.0), ("poisson", -1.0)]
)
def test_glm_refuses_out_of_domain_response(spark, family, bad):
    """GLM.fit checks min(y) against the family's response domain on its
    init aggregate (no extra job): a gamma response <= 0 is NULL in the
    deviance's log(y/mu), which F.sum would skip while the IRLS Gram kept
    the row, so the fit must refuse rather than report a deviance over
    fewer rows than it fitted. A zero poisson count is in domain."""
    rows = [(float(1 + i % 5), float(i) / 10.0) for i in range(30)]
    df = spark.createDataFrame(rows + [(bad, 1.5)], "y double, x double")
    df = df.withColumn("intercept", F.lit(1.0))
    with pytest.raises(ValueError, match=f"family '{family}' needs y"):
        GLM.fit(df, y_col="y", x_cols=["intercept", "x"], family=family)
    ok = spark.createDataFrame(rows + [(0.0, 1.5)], "y double, x double")
    model = GLM.fit(
        ok.withColumn("intercept", F.lit(1.0)), y_col="y",
        x_cols=["intercept", "x"], family="poisson",
    )
    assert model.nrow == len(rows) + 1 and np.all(np.isfinite(model.coefs))
