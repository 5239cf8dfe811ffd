"""Elastic-net / lasso LM (operators/enet.py) — MLlib LinearRegression
golden parity, soft-threshold closed forms, λ=0 ≡ OLS, sparsity behavior,
one-pass CV path, raw-frame scoring."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkglm_spark.operators.enet import (
    elastic_net,
    elastic_net_cv,
    elastic_net_fit,
    lasso_lm,
)


@pytest.fixture(scope="module")
def enet_data(spark):
    rng = np.random.default_rng(3)
    n = 1500
    X = rng.normal(size=(n, 4)) * np.array([1.0, 3.0, 0.5, 2.0])
    y = 1.0 + X @ np.array([2.0, 0.0, -1.5, 0.0]) + rng.normal(0, 1.0, n)
    rows = [(float(y[i]), *[float(v) for v in X[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "y double, x1 double, x2 double, x3 double, x4 double"
    )
    return df, X, y


@pytest.mark.parametrize("std", [True, False])
@pytest.mark.parametrize("lam,alpha", [(0.1, 1.0), (0.1, 0.5), (0.5, 1.0),
                                       (0.1, 0.0), (0.3, 0.3)])
def test_matches_mllib_linear_regression(enet_data, std, lam, alpha):
    """GOLDEN: MLlib LinearRegression(regParam, elasticNetParam,
    standardization) solves the same objective with OWLQN — the
    coordinate-descent fit must land on the same coefficients (within
    MLlib's own convergence tolerance). This pins BOTH penalty
    conventions: standardization=true penalizes standardized θ;
    standardization=false un-standardizes L1 by 1/σⱼ and L2 by 1/σⱼ²
    (the L2Regularization applyFeaturesStd path)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    df, _, _ = enet_data
    fd = VectorAssembler(
        inputCols=["x1", "x2", "x3", "x4"], outputCol="features"
    ).transform(df)
    lr = LinearRegression(
        labelCol="y", regParam=lam, elasticNetParam=alpha,
        standardization=std, maxIter=500, tol=1e-10,
    ).fit(fd)
    m = elastic_net(
        df, "y ~ x1 + x2 + x3 + x4", reg_param=lam,
        elastic_net_param=alpha, standardize=std,
    )
    want = np.array([lr.intercept] + list(lr.coefficients))
    assert np.abs(m.coefs - want).max() < 2e-5  # residual = OWLQN tol
    # same support (which coefficients are exactly/effectively zero)
    assert [abs(c) < 1e-6 for c in m.coefs] == [abs(c) < 1e-6 for c in want]


def test_zero_penalty_equals_ols(enet_data, spark):
    from sparkglm_spark.operators.lm import lm

    df, _, _ = enet_data
    ols = lm(df, "y ~ x1 + x2 + x3 + x4")
    m = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.0)
    assert np.abs(m.coefs - ols.coefs).max() < 1e-8
    assert m.converged and m.n_nonzero == 4
    assert m.sse == pytest.approx(ols.sigma**2 * (ols.nrow - 5), rel=1e-9)


def test_soft_threshold_closed_form(spark):
    """Single standardized feature: the lasso solution has the hand
    soft-threshold closed form θ̂ = S(ρ, λ̃α)/(A/n + λ̃(1−α)) with
    ρ = X̂'ŷ/n — computed here directly from numpy moments."""
    rng = np.random.default_rng(11)
    n = 400
    x = rng.normal(2.0, 1.7, n)
    y = 3.0 + 0.9 * x + rng.normal(0, 0.5, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, x)], "y double, x double"
    )
    lam, alpha = 0.2, 0.7
    m = elastic_net(df, "y ~ x", reg_param=lam, elastic_net_param=alpha)
    sx, sy = np.std(x), np.std(y)  # POPULATION — the MLlib linear convention
    xh, yh = (x - x.mean()) / sx, (y - y.mean()) / sy
    rho = float(xh @ yh) / n
    lt = lam / sy
    theta = np.sign(rho) * max(abs(rho) - alpha * lt, 0.0) / (
        float(xh @ xh) / n + (1.0 - alpha) * lt
    )
    beta = theta * sy / sx
    assert float(m.coefs[1]) == pytest.approx(beta, rel=1e-9)
    assert float(m.coefs[0]) == pytest.approx(y.mean() - beta * x.mean(), rel=1e-9)


def test_lambda_max_kills_all_and_path_is_monotone(enet_data):
    df, X, y = enet_data
    # λ ≥ max|X̂'ŷ|/n · σ_y zeroes every lasso coefficient
    sx = X.std(axis=0)
    sy = y.std()
    xh = (X - X.mean(axis=0)) / sx
    yh = (y - y.mean()) / sy
    lam_max = float(np.abs(xh.T @ yh).max()) / len(y) * sy
    dead = lasso_lm(df, "y ~ x1 + x2 + x3 + x4", reg_param=lam_max * 1.01)
    assert dead.n_nonzero == 0
    assert float(dead.coefs[0]) == pytest.approx(float(y.mean()), rel=1e-9)
    # support shrinks along an increasing λ path on this planted data
    sizes = [
        lasso_lm(df, "y ~ x1 + x2 + x3 + x4", reg_param=l).n_nonzero
        for l in (0.01, 0.5, lam_max * 0.9)
    ]
    assert sizes[0] == 4 and sizes == sorted(sizes, reverse=True)


def test_constant_feature_and_guards(spark):
    df = spark.createDataFrame(
        [(float(i), float(i % 5), 7.0) for i in range(50)],
        "y double, x double, c double",
    )
    m = elastic_net(df, "y ~ x + c", reg_param=0.05)
    assert float(m.coefs[m.xnames.index("c")]) == 0.0
    assert np.all(np.isfinite(m.coefs))
    with pytest.raises(ValueError, match="elastic_net_param"):
        elastic_net(df, "y ~ x", reg_param=0.1, elastic_net_param=1.5)
    with pytest.raises(ValueError, match="reg_param"):
        elastic_net(df, "y ~ x", reg_param=-0.1)
    # constant label: β = 0, intercept = ȳ, no NaN
    cst = elastic_net(df.withColumn("y", F.lit(4.0)), "y ~ x", reg_param=0.1)
    assert cst.n_nonzero == 0 and float(cst.coefs[0]) == 4.0


def test_exact_sweeps_deterministic_and_converging(enet_data):
    df, _, _ = enet_data
    a = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.1, exact_sweeps=3)
    b = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.1, exact_sweeps=3)
    assert np.array_equal(a.coefs, b.coefs) and a.sweeps == 3
    full = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.1)
    more = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.1, exact_sweeps=50)
    assert np.abs(more.coefs - full.coefs).max() < 1e-8


def test_predict_over_raw_with_categoricals(spark):
    """Scoring reuses the LM raw-frame path: dummies/intercept inline,
    unknown levels zero-backfilled, non-model columns untouched."""
    rng = np.random.default_rng(7)
    rows = [
        (float(2.0 + (0.5 if i % 3 == 0 else 0.0) + 0.3 * (i % 7)
               + rng.normal(0, 0.1)),
         "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "c"),
         float(i % 7))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "y double, g string, x double")
    m = elastic_net(df, "y ~ g + x", reg_param=0.01)
    score = spark.createDataFrame(
        [("a", 2.0, "keep"), ("zz", 3.0, "keep2")],
        "g string, x double, other string",
    )
    out = m.predict(score).collect()
    assert {r.other for r in out} == {"keep", "keep2"}
    exp_a = (m.coefs[0]
             + sum(c for nm, c in zip(m.xnames, m.coefs) if nm == "g_a")
             + 2.0 * m.coefs[m.xnames.index("x")])
    assert out[0].prediction == pytest.approx(float(exp_a), rel=1e-12)
    # novel level 'zz': all-zero dummies
    exp_z = m.coefs[0] + 3.0 * m.coefs[m.xnames.index("x")]
    assert out[1].prediction == pytest.approx(float(exp_z), rel=1e-12)


def test_cv_path_one_pass_selects_true_support(enet_data, spark):
    """elastic_net_cv: the whole (λ-path × folds) grid from ONE
    groupBy(fold) aggregation; on planted sparse data the validation
    RMSE at a sane λ beats the all-dead λ, and per-row counts add up."""
    df, _, y = enet_data
    lams = [0.01, 0.1, 5.0]
    out = elastic_net_cv(
        df, "y ~ x1 + x2 + x3 + x4", lams,
        fold_expr=F.pmod(F.monotonically_increasing_id(), F.lit(3)).cast("int"),
        n_folds=3,
    ).toPandas()
    assert len(out) == 9
    assert (out.n_train + out.n_val == len(y)).all()
    mean_rmse = out.groupby("reg_param").rmse_val.mean()
    assert mean_rmse[0.01] < mean_rmse[5.0]
    assert (out[out.reg_param == 0.01].n_nonzero >= 2).all()
    with pytest.raises(ValueError, match="non-empty"):
        elastic_net_cv(df, "y ~ x1", [], fold_expr=F.lit(0))
    # review finding: a 1-indexed fold column must RAISE, not silently
    # ride every training set while never being validated
    with pytest.raises(ValueError, match=r"outside \[0, 3\)"):
        elastic_net_cv(
            df, "y ~ x1", [0.1],
            fold_expr=F.pmod(F.monotonically_increasing_id(), F.lit(3))
            .cast("int") + 1,
            n_folds=3,
        )


def test_cv_no_intercept_matches_fit_path(spark):
    """Review finding: the CV's no-intercept path must standardize by the
    CENTERED stds like elastic_net_fit — a single-fold 'CV' trained on
    folds {1,2} must reproduce elastic_net_fit on the same rows."""
    rng = np.random.default_rng(9)
    n = 600
    x = rng.normal(3.0, 1.0, n)
    y = 1.4 * x + rng.normal(0, 0.3, n)
    df = spark.createDataFrame(
        [(float(a), float(b), i % 3) for i, (a, b) in enumerate(zip(y, x))],
        "y double, x double, f int",
    )
    out = elastic_net_cv(
        df, "y ~ x - 1", [0.1], fold_expr="f", n_folds=3
    ).toPandas()
    # fold 0's training set = rows with f in {1, 2}
    train = df.where(F.col("f") != 0)
    m = elastic_net_fit(train, "y", ["x"], reg_param=0.1)
    r0 = out[out.fold == 0].iloc[0]
    sse_t = m.sse
    assert r0.rmse_train == pytest.approx(
        float(np.sqrt(sse_t / train.count())), rel=1e-9
    )


def test_spark_lm_elastic_net_path_cv_and_persist(enet_data, tmp_path):
    """SparkLM(regParam, elasticNetParam) — the MLlib LinearRegression
    parity surface: regParam > 0 routes through coordinate descent, the
    model transforms/persists like any SparkLMModel, a CrossValidator
    grid over the penalty pair runs, and summary() refuses (penalized
    fits carry no OLS inference)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from sparkglm_spark.ml import SparkLM, SparkLMModel
    from sparkglm_spark.operators.enet import ElasticNetLM
    from sparkglm_spark.persist import load_model, save_model

    df, _, _ = enet_data
    est = SparkLM(
        formula="y ~ x1 + x2 + x3 + x4", regParam=0.1, elasticNetParam=1.0
    )
    m = est.fit(df)
    assert isinstance(m.model, ElasticNetLM) and m.model.n_nonzero == 2
    twin = lasso_lm(df, "y ~ x1 + x2 + x3 + x4", reg_param=0.1)
    assert np.abs(m.model.coefs - twin.coefs).max() < 1e-12
    assert "prediction" in m.transform(df).columns
    with pytest.raises(ValueError, match="summary"):
        m.summary()
    with pytest.raises(ValueError, match="mutually exclusive"):
        SparkLM(formula="y ~ x1", regParam=0.1, l2=0.5).fit(df)
    # functional persist round-trip (kind 'enet')
    path = str(tmp_path / "enet.json")
    save_model(m.model, path)
    back = load_model(path)
    assert isinstance(back, ElasticNetLM)
    assert np.array_equal(back.coefs, m.model.coefs)
    assert back.reg_param == 0.1 and back.n_nonzero == 2
    # MLWriter round-trip through the SparkLMModel wrapper
    mpath = str(tmp_path / "wrapped")
    m.write().overwrite().save(mpath)
    m2 = SparkLMModel.read().load(mpath)
    assert np.array_equal(m2.model.coefs, m.model.coefs)
    # CV over the penalty grid: absurd lambda must lose
    grid = (
        ParamGridBuilder()
        .addGrid(est.regParam, [0.05, 1e6])
        .addGrid(est.elasticNetParam, [1.0])
        .build()
    )
    ev = RegressionEvaluator(labelCol="y", predictionCol="prediction",
                             metricName="rmse")
    cv = CrossValidator(estimator=est, estimatorParamMaps=grid,
                        evaluator=ev, numFolds=2, seed=7).fit(df)
    assert cv.bestModel.getRegParam() == 0.05


def test_fit_intercept_false_via_no_intercept_design(spark):
    """elastic_net_fit without an 'intercept' column: no centering, the
    penalized fit goes through origin — cross-checked against MLlib
    fitIntercept=False."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rng = np.random.default_rng(5)
    n = 500
    x = rng.normal(3.0, 1.0, n)
    y = 1.4 * x + rng.normal(0, 0.3, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, x)], "y double, x double"
    )
    m = elastic_net_fit(df, "y", ["x"], reg_param=0.1, elastic_net_param=1.0)
    fd = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
    lr = LinearRegression(
        labelCol="y", regParam=0.1, elasticNetParam=1.0,
        fitIntercept=False, maxIter=500, tol=1e-10,
    ).fit(fd)
    assert float(m.coefs[0]) == pytest.approx(float(lr.coefficients[0]), abs=2e-5)


def test_elastic_net_path_matches_cold_fits(enet_data):
    """Warm-started path fixed points == independent cold fits per λ
    (the pathwise trick changes sweep counts, not solutions), one data
    pass for the whole grid."""
    from sparkglm_spark.operators.enet import elastic_net_path

    df, _, _ = enet_data
    lams = [0.02, 0.2, 2.0]
    path = elastic_net_path(df, "y ~ x1 + x2 + x3 + x4", lams).toPandas()
    assert len(path) == 3 * 5
    for lam in lams:
        cold = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=lam)
        sl = path[path.reg_param == lam].set_index("term").estimate
        for nm, c in zip(cold.xnames, cold.coefs):
            assert sl[nm] == pytest.approx(float(c), rel=1e-7, abs=1e-10)
    # support is monotone along this planted path
    nz = path.groupby("reg_param").n_nonzero.first().sort_index()
    assert list(nz) == sorted(nz, reverse=True)
    # λ-selection criteria: BIC recomputes from (sse via cold fit, df)
    # and picks the honest λ on this planted-sparse data (not the
    # all-dead one)
    n = 1500
    for lam in lams:
        cold = elastic_net(df, "y ~ x1 + x2 + x3 + x4", reg_param=lam)
        dof = cold.n_nonzero + 1
        want_bic = n * np.log(cold.sse / n) + np.log(n) * dof
        got_bic = path[path.reg_param == lam].bic.iloc[0]
        assert got_bic == pytest.approx(float(want_bic), rel=1e-6)
    best = path.groupby("reg_param").bic.first().idxmin()
    assert best != 2.0  # the heavy λ kills true signal; BIC rejects it
    with pytest.raises(ValueError, match="non-empty"):
        elastic_net_path(df, "y ~ x1", [])


def test_elastic_net_grouped_matches_per_slice(spark):
    """Grouped fits == per-slice elastic_net on the same segment (shared
    global levels make designs identical here: numeric-only formula);
    degenerate single-row groups yield NULL rows; the plan is one
    Exchange + Gram mapInPandas, never row materialization."""
    from sparkglm_spark.operators.enet import elastic_net_grouped

    rng = np.random.default_rng(13)
    rows = []
    for g, (b1, b2) in (("a", (2.0, 0.0)), ("b", (0.0, -1.5))):
        for _ in range(400):
            x1, x2 = rng.normal(), rng.normal() * 2.0
            y = 1.0 + b1 * x1 + b2 * x2 + rng.normal(0, 0.5)
            rows.append((g, float(y), float(x1), float(x2)))
    rows.append(("solo", 4.0, 1.0, 1.0))
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    out = {
        (r.g, r.term): r
        for r in elastic_net_grouped(
            df, "y ~ x1 + x2", ["g"], reg_param=0.1
        ).collect()
    }
    for g in ("a", "b"):
        m = elastic_net(df.where(F.col("g") == g), "y ~ x1 + x2", reg_param=0.1)
        for nm, c in zip(m.xnames, m.coefs):
            assert out[(g, nm)].estimate == pytest.approx(
                float(c), rel=1e-9, abs=1e-12
            ), (g, nm)
        assert out[(g, "x1")].n_nonzero == m.n_nonzero
        assert out[(g, "x1")].converged
    assert out[("solo", "x1")].estimate is None
    assert not out[("solo", "x1")].converged
    with pytest.raises(ValueError, match="group_cols"):
        elastic_net_grouped(df, "y ~ x1", [], reg_param=0.1)
    with pytest.raises(ValueError, match="elastic_net_param"):
        elastic_net_grouped(df, "y ~ x1", ["g"], reg_param=0.1,
                            elastic_net_param=2.0)


def test_elastic_net_grouped_plan_shape(spark):
    """Plan assert: stage 1 exchanges only O(k²) Gram doubles per group
    (the lm_grouped scale contract — the label/feature payload never
    crosses the wire after the partial aggregation), and stage 2 adds
    exactly one more AQE-exempt fan-out exchange of the G tiny Gram
    rows so the Python solves stay CPU-parallel."""
    from sparkglm_spark.operators.enet import elastic_net_grouped
    from sparkglm_spark.plans.inspect import formatted_plan

    df = spark.createDataFrame(
        [("a", float(i), float(i % 7)) for i in range(40)],
        "g string, y double, x double",
    )
    import re

    plan = formatted_plan(
        elastic_net_grouped(df, "y ~ x", ["g"], reg_param=0.1)
    )
    # formatted mode lists each node in tree + detail: count detail ids
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "REPARTITION_BY_NUM" in plan


@pytest.fixture(scope="module")
def logit_data(spark):
    rng = np.random.default_rng(5)
    n = 2500
    X = rng.normal(size=(n, 4)) * np.array([1.0, 2.5, 0.6, 1.5])
    eta = -0.5 + X @ np.array([0.8, 0.0, -1.2, 0.0])
    y = (rng.random(n) < 1 / (1 + np.exp(-eta))).astype(float)
    rows = [(float(y[i]), *[float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, "y double, x1 double, x2 double, x3 double, x4 double"
    )


@pytest.mark.parametrize("std", [True, False])
@pytest.mark.parametrize("lam,alpha", [(0.02, 1.0), (0.02, 0.5), (0.05, 0.0)])
def test_glm_enet_matches_mllib_logistic(logit_data, std, lam, alpha):
    """GOLDEN: MLlib LogisticRegression(regParam, elasticNetParam,
    standardization) — the penalized-IRLS (glmnet prox-Newton) fit must
    land on OWLQN's optimum. Pins the logistic penalty conventions: no
    label scaling, upfront unweighted feature stds, intercept
    unpenalized."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from sparkglm_spark.operators.enet import glm_elastic_net

    fd = VectorAssembler(
        inputCols=["x1", "x2", "x3", "x4"], outputCol="features"
    ).transform(logit_data)
    lr = LogisticRegression(
        labelCol="y", regParam=lam, elasticNetParam=alpha,
        standardization=std, maxIter=500, tol=1e-10,
    ).fit(fd)
    m = glm_elastic_net(
        logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=lam,
        elastic_net_param=alpha, family="binomial", standardize=std,
    )
    want = np.array([lr.intercept] + list(lr.coefficients))
    assert m.converged
    assert np.abs(m.coefs - want).max() < 1e-6
    assert [abs(c) < 1e-8 for c in m.coefs] == [abs(c) < 1e-8 for c in want]


def test_glm_enet_zero_penalty_equals_glm(logit_data):
    from sparkglm_spark.operators.glm import glm
    from sparkglm_spark.operators.enet import glm_elastic_net

    un = glm(logit_data, "y ~ x1 + x2 + x3 + x4", family="binomial")
    m = glm_elastic_net(
        logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=0.0, family="binomial"
    )
    assert np.abs(m.coefs - un.coefs).max() < 1e-6
    assert m.deviance == pytest.approx(un.deviance, rel=1e-8)


def test_glm_enet_poisson_kkt(spark):
    """Poisson lasso has no MLlib analog — verify the fit by its KKT
    conditions on the standardized problem: for the objective
    (1/n)Σ(μ − y·η) + λα‖θ‖₁ + λ(1−α)/2‖θ‖², at the optimum
    (1/n)·x̂ⱼ'(μ − y) + λ(1−α)θⱼ = −λα·sign(θⱼ) for active coords and
    |(1/n)·x̂ⱼ'(μ − y)| ≤ λα for zeroed ones (x̂ centered/scaled since
    the unpenalized intercept absorbs means)."""
    from sparkglm_spark.operators.enet import glm_elastic_net

    rng = np.random.default_rng(19)
    n = 2000
    X = rng.normal(size=(n, 3)) * np.array([1.0, 2.0, 0.7])
    mu = np.exp(0.3 + X @ np.array([0.5, 0.0, -0.4]))
    y = rng.poisson(mu).astype(float)
    df = spark.createDataFrame(
        [(float(y[i]), *[float(v) for v in X[i]]) for i in range(n)],
        "y double, x1 double, x2 double, x3 double",
    )
    lam, alpha = 0.05, 0.8
    m = glm_elastic_net(
        df, "y ~ x1 + x2 + x3", reg_param=lam, elastic_net_param=alpha,
        family="poisson", tol=1e-12,
    )
    assert m.converged
    beta = m.coefs
    eta = beta[0] + X @ beta[1:]
    mu_hat = np.exp(eta)
    sig = X.std(axis=0, ddof=1)
    xc = X - X.mean(axis=0)
    theta = beta[1:] * sig
    grad = (xc / sig).T @ (mu_hat - y) / n
    for j in range(3):
        if theta[j] != 0.0:
            kkt = grad[j] + lam * (1 - alpha) * theta[j] + lam * alpha * np.sign(theta[j])
            assert abs(kkt) < 1e-7, (j, kkt)
        else:
            assert abs(grad[j]) <= lam * alpha + 1e-9, (j, grad[j])
    # intercept stationarity: mean residual is zero
    assert abs((mu_hat - y).sum() / n) < 1e-8


def test_glm_enet_predict_persist_and_guards(logit_data, tmp_path):
    from sparkglm_spark.operators.enet import GLMElasticNet, glm_elastic_net
    from sparkglm_spark.persist import load_model, save_model

    m = glm_elastic_net(
        logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=0.05,
        elastic_net_param=1.0,
    )
    assert m.n_nonzero == 2
    out = m.predict(logit_data).select("prediction").limit(20).collect()
    assert all(0.0 < r.prediction < 1.0 for r in out)
    lk = m.predict(logit_data, type="link").select("prediction").first()
    assert np.isfinite(lk.prediction)
    with pytest.raises(ValueError, match="type"):
        m.predict(logit_data, type="odds")
    path = str(tmp_path / "glm_enet.json")
    save_model(m, path)
    back = load_model(path)
    assert isinstance(back, GLMElasticNet)
    assert np.array_equal(back.coefs, m.coefs) and back.family == "binomial"
    with pytest.raises(ValueError, match="binomial/poisson/gamma/tweedie"):
        # gaussian routes to the LINEAR elastic_net, not this fitter
        glm_elastic_net(logit_data, "y ~ x1", reg_param=0.1, family="gaussian")
    with pytest.raises(ValueError, match="constant"):
        glm_elastic_net(
            logit_data.withColumn("y", F.lit(1.0)), "y ~ x1", reg_param=0.1
        )


def test_glm_enet_exact_iterations_deterministic(logit_data):
    """exact_iterations: fixed outer-solve count, deterministic
    trajectory (the oracle-pin hook); more iterations converge onto the
    tol-converged fit."""
    from sparkglm_spark.operators.enet import glm_elastic_net

    a = glm_elastic_net(logit_data, "y ~ x1", reg_param=0.02,
                        exact_iterations=3)
    b = glm_elastic_net(logit_data, "y ~ x1", reg_param=0.02,
                        exact_iterations=3)
    assert np.array_equal(a.coefs, b.coefs) and a.iter == 3
    full = glm_elastic_net(logit_data, "y ~ x1", reg_param=0.02)
    more = glm_elastic_net(logit_data, "y ~ x1", reg_param=0.02,
                           exact_iterations=25)
    assert np.abs(more.coefs - full.coefs).max() < 1e-9


def test_spark_glm_elastic_net_path(logit_data, tmp_path):
    """SparkGLM(regParam, elasticNetParam) routes through
    glm_elastic_net; transform scores on the configured scale; the
    MLWriter round-trip restores the penalized model; incompatible
    params raise."""
    from sparkglm_spark.ml import SparkGLM, SparkGLMModel
    from sparkglm_spark.operators.enet import GLMElasticNet, glm_elastic_net

    est = SparkGLM(
        formula="y ~ x1 + x2 + x3 + x4", regParam=0.05, elasticNetParam=1.0
    )
    m = est.fit(logit_data)
    assert isinstance(m.model, GLMElasticNet) and m.model.n_nonzero == 2
    twin = glm_elastic_net(
        logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=0.05,
        elastic_net_param=1.0,
    )
    assert np.abs(m.model.coefs - twin.coefs).max() < 1e-12
    p = m.transform(logit_data).select("prediction").first().prediction
    assert 0.0 < p < 1.0
    with pytest.raises(ValueError, match="summary"):
        m.summary()
    with pytest.raises(ValueError, match="default link"):
        SparkGLM(formula="y ~ x1", regParam=0.1, link="probit").fit(logit_data)
    mpath = str(tmp_path / "sglm_enet")
    m.write().overwrite().save(mpath)
    m2 = SparkGLMModel.read().load(mpath)
    assert np.array_equal(m2.model.coefs, m.model.coefs)


@pytest.mark.parametrize("std", [True, False])
@pytest.mark.parametrize("lam,alpha", [(0.1, 1.0), (0.2, 0.4)])
def test_weighted_elastic_net_matches_mllib(spark, std, lam, alpha):
    """GOLDEN: weight_col follows MLlib LinearRegression(weightCol) —
    every statistic W-weighted with Σw denominators (population stds
    over Σw; probed exact at 1e-15 before implementing)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    rng = np.random.default_rng(23)
    n = 900
    x1 = rng.normal(2.0, 1.5, n)
    x2 = rng.normal(-1.0, 0.8, n)
    w = rng.uniform(0.2, 3.0, n)
    y = 1.0 + 0.8 * x1 + rng.normal(0, 0.5, n)  # x2 is noise
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in zip(y, x1, x2, w)],
        "y double, x1 double, x2 double, w double",
    )
    fd = VectorAssembler(inputCols=["x1", "x2"], outputCol="features").transform(df)
    lr = LinearRegression(
        labelCol="y", weightCol="w", regParam=lam, elasticNetParam=alpha,
        standardization=std, maxIter=2000, tol=1e-12,
    ).fit(fd)
    m = elastic_net(
        df, "y ~ x1 + x2", reg_param=lam, elastic_net_param=alpha,
        standardize=std, weight_col="w",
    )
    want = np.array([lr.intercept] + list(lr.coefficients))
    assert np.abs(m.coefs - want).max() < 2e-5
    # unit weights reduce exactly to the unweighted fit
    uw = elastic_net(
        df.withColumn("w", F.lit(1.0)), "y ~ x1 + x2",
        reg_param=lam, elastic_net_param=alpha, standardize=std,
        weight_col="w",
    )
    plain = elastic_net(df, "y ~ x1 + x2", reg_param=lam,
                        elastic_net_param=alpha, standardize=std)
    assert np.abs(uw.coefs - plain.coefs).max() < 1e-12


def test_weight_domain_guards(spark):
    """ADVICE r10: negative/null weights and Σw ≤ 0 must raise (MLlib
    raises on negative weights; null weights silently DROP their rows
    from the Gram sums while still counting in n). All three ride the
    single Gram job (min_w / n_w in the same aggregation)."""
    rows = [(1.0, 2.0, 1.0), (2.0, 3.0, 2.0), (3.0, 5.0, 0.5)]
    df = spark.createDataFrame(rows, "y double, x double, w double")
    with pytest.raises(ValueError, match="negative"):
        elastic_net(
            df.withColumn("w", F.when(F.col("x") > 2.5, -1.0).otherwise(1.0)),
            "y ~ x", reg_param=0.1, weight_col="w",
        )
    # the formula front-end's na_action="omit" drops null-weight rows
    # (weight_col rides extra_cols); the DIRECT fit path has no omit
    # pass, so the n_w < n guard is what protects it
    with pytest.raises(ValueError, match="null"):
        elastic_net_fit(
            df.withColumn("intercept", F.lit(1.0)).withColumn(
                "w", F.when(F.col("x") > 4.0, F.lit(None)).otherwise(F.lit(1.0))
            ),
            y_col="y", x_cols=["intercept", "x"], reg_param=0.1,
            weight_col="w",
        )
    with pytest.raises(ValueError, match="sum"):
        elastic_net(
            df.withColumn("w", F.lit(0.0)), "y ~ x", reg_param=0.1,
            weight_col="w",
        )
    # zero weights are fine as long as Σw > 0 (the MLlib contract)
    m = elastic_net(
        df.withColumn("w", F.when(F.col("x") > 4.0, 0.0).otherwise(1.0)),
        "y ~ x", reg_param=0.0, weight_col="w",
    )
    assert np.all(np.isfinite(m.coefs))


def test_glm_enet_label_domain_guards(spark):
    """ADVICE r10: out-of-domain labels must raise upfront — the IRLS
    clamp bounds μ, not y, so a y = 2 (binomial) or y = −1 (poisson)
    would silently corrupt the working response. min/max(y) ride the
    existing upfront aggregation."""
    from sparkglm_spark.operators.enet import glm_elastic_net

    rows = [(float(i % 2), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "y double, x double")
    bad_b = df.withColumn("y", F.when(F.col("x") > 17, 2.0).otherwise(F.col("y")))
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        glm_elastic_net(bad_b, "y ~ x", reg_param=0.01, family="binomial")
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        glm_elastic_net(
            df.withColumn("y", F.col("y") - 1.0), "y ~ x", reg_param=0.01,
            family="binomial",
        )
    bad_p = df.withColumn("y", F.when(F.col("x") > 17, -1.0).otherwise(F.col("y")))
    with pytest.raises(ValueError, match=">= 0"):
        glm_elastic_net(bad_p, "y ~ x", reg_param=0.01, family="poisson")


def test_glm_enet_deviance_describes_returned_coefs(logit_data):
    """ADVICE r10: a max_iter-truncated fit must report deviance at the
    RETURNED β (one extra scalar aggregation), not the penultimate β's —
    checked against a hand computation; a converged fit's deviance stays
    the loop's (within tol of the final β's by definition)."""
    from sparkglm_spark.operators.enet import glm_elastic_net

    m = glm_elastic_net(
        logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=0.02, max_iter=2,
    )
    assert not m.converged and m.iter == 2
    pdf = logit_data.toPandas()
    X = pdf[["x1", "x2", "x3", "x4"]].to_numpy()
    yv = pdf["y"].to_numpy()
    eta = m.coefs[0] + X @ m.coefs[1:]
    mu = 1.0 / (1.0 + np.exp(-eta))
    mu = np.clip(mu, 1e-10, 1 - 1e-10)
    dev = 2.0 * float(
        np.sum(-yv * np.log(mu) - (1 - yv) * np.log1p(-mu))
    )
    assert m.deviance == pytest.approx(dev, rel=1e-10)


def test_spark_lm_weighted_penalized_estimator(spark):
    """VERDICT r10 #2: regParam + weightCol compose on the ESTIMATOR
    like MLlib LinearRegression — golden through SparkLM (the function
    -level golden is test_weighted_elastic_net_matches_mllib); the twin
    function fit must agree exactly."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from sparkglm_spark.ml import SparkLM

    rng = np.random.default_rng(29)
    n = 800
    x1 = rng.normal(1.0, 2.0, n)
    x2 = rng.normal(0.0, 1.0, n)
    w = rng.uniform(0.5, 4.0, n)
    y = 2.0 - 0.6 * x1 + rng.normal(0, 0.7, n)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in zip(y, x1, x2, w)],
        "y double, x1 double, x2 double, w double",
    )
    lam, alpha = 0.15, 0.7
    m = SparkLM(
        formula="y ~ x1 + x2", regParam=lam, elasticNetParam=alpha,
        weightCol="w",
    ).fit(df)
    fd = VectorAssembler(inputCols=["x1", "x2"], outputCol="features").transform(df)
    lr = LinearRegression(
        labelCol="y", weightCol="w", regParam=lam, elasticNetParam=alpha,
        maxIter=2000, tol=1e-12,
    ).fit(fd)
    want = np.array([lr.intercept] + list(lr.coefficients))
    assert np.abs(m.model.coefs - want).max() < 2e-5
    twin = elastic_net(
        df, "y ~ x1 + x2", reg_param=lam, elastic_net_param=alpha,
        weight_col="w",
    )
    assert np.abs(m.model.coefs - twin.coefs).max() < 1e-12
    # l2 + regParam still refuses (the one REAL exclusivity)
    with pytest.raises(ValueError, match="mutually exclusive"):
        SparkLM(formula="y ~ x1", regParam=0.1, l2=0.5).fit(df)


@pytest.fixture(scope="module")
def weighted_cv_data(spark):
    rng = np.random.default_rng(41)
    n = 1200
    X = rng.normal(size=(n, 3)) * np.array([1.0, 2.0, 0.8])
    w = rng.uniform(0.2, 3.0, n)
    y = 0.5 + X @ np.array([1.5, 0.0, -0.8]) + rng.normal(0, 1.0, n)
    fold = np.arange(n) % 3
    rows = [
        (float(y[i]), *[float(v) for v in X[i]], float(w[i]), int(fold[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "y double, x1 double, x2 double, x3 double, w double, f int"
    )
    return df


def test_weighted_cv_matches_cold_per_fold_fits(weighted_cv_data):
    """elastic_net_cv(weight_col=): each (fold, λ) model must equal a
    COLD elastic_net fit on the physically filtered training rows, and
    rmse_val must be the weighted RMS error √(Σw·e²/Σw) over the
    held-out fold — per-fold Gram additivity carries weights exactly."""
    df = weighted_cv_data
    lams = [0.05, 0.4]
    got = {
        (r.reg_param, r.fold): r
        for r in elastic_net_cv(
            df, "y ~ x1 + x2 + x3", lams, "f", n_folds=3, weight_col="w"
        ).collect()
    }
    assert len(got) == 6
    for lam in lams:
        for f in range(3):
            train = df.where(F.col("f") != f)
            cold = elastic_net(
                train, "y ~ x1 + x2 + x3", reg_param=lam, weight_col="w"
            )
            r = got[(lam, f)]
            # weighted validation RMSE by hand
            vp = df.where(F.col("f") == f).toPandas()
            Xv = vp[["x1", "x2", "x3"]].to_numpy()
            e = vp["y"].to_numpy() - (cold.coefs[0] + Xv @ cold.coefs[1:])
            wv = vp["w"].to_numpy()
            want = np.sqrt(float(wv @ (e * e)) / float(wv.sum()))
            assert r.rmse_val == pytest.approx(want, rel=1e-9), (lam, f)
            assert r.n_nonzero == cold.n_nonzero


def test_weighted_path_matches_cold_fits(weighted_cv_data):
    """elastic_net_path(weight_col=): warm-started path coefficients
    equal cold weighted fits at each λ."""
    from sparkglm_spark.operators.enet import elastic_net_path

    df = weighted_cv_data
    lams = [0.3, 0.05, 0.8]
    path = elastic_net_path(
        df, "y ~ x1 + x2 + x3", lams, weight_col="w"
    ).toPandas()
    assert len(path) == 3 * 4
    for lam in lams:
        cold = elastic_net(df, "y ~ x1 + x2 + x3", reg_param=lam,
                           weight_col="w")
        block = path[path.reg_param == lam].set_index("term")["estimate"]
        for nm, c in zip(cold.xnames, cold.coefs):
            assert block[nm] == pytest.approx(c, abs=1e-9), (lam, nm)


def test_weighted_grouped_matches_per_slice(weighted_cv_data):
    """elastic_net_grouped(weight_col=): every segment equals its
    per-slice weighted fit; a group with a negative weight degrades to
    NULL estimates (grouped NULL policy) instead of raising."""
    from sparkglm_spark.operators.enet import elastic_net_grouped

    df = weighted_cv_data.withColumn(
        "g", (F.col("f") % 2 == 0).cast("string")
    )
    lam = 0.1
    out = elastic_net_grouped(
        df, "y ~ x1 + x2 + x3", ["g"], reg_param=lam, weight_col="w"
    ).toPandas()
    for gval in ("true", "false"):
        cold = elastic_net(
            df.where(F.col("g") == gval), "y ~ x1 + x2 + x3",
            reg_param=lam, weight_col="w",
        )
        block = out[out.g == gval].set_index("term")["estimate"]
        for nm, c in zip(cold.xnames, cold.coefs):
            assert block[nm] == pytest.approx(c, abs=1e-10), (gval, nm)
    # poison one group's weights → that group NULL, the other unharmed
    poisoned = df.withColumn(
        "w", F.when(F.col("g") == "true", -1.0).otherwise(F.col("w"))
    )
    out2 = elastic_net_grouped(
        poisoned, "y ~ x1 + x2 + x3", ["g"], reg_param=lam, weight_col="w"
    ).toPandas()
    assert out2[out2.g == "true"]["estimate"].isna().all()
    assert out2[out2.g == "false"]["estimate"].notna().all()


def test_glm_enet_offset_poisson_rate_model(spark):
    """VERDICT r10 #3: offset_col on glm_elastic_net. At λ=0 the fit
    must match glm(offset_col=) (the unpenalized IRLS twin), and at
    λ>0 the penalized Poisson rate fit must satisfy its KKT conditions
    with η = Xβ + log(exposure)."""
    from sparkglm_spark.operators.enet import glm_elastic_net
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(31)
    n = 2000
    X = rng.normal(size=(n, 3)) * np.array([1.0, 1.8, 0.6])
    expo = rng.uniform(0.5, 8.0, n)
    mu = expo * np.exp(0.2 + X @ np.array([0.5, 0.0, -0.4]))
    y = rng.poisson(mu).astype(float)
    df = spark.createDataFrame(
        [(float(y[i]), *[float(v) for v in X[i]], float(np.log(expo[i])))
         for i in range(n)],
        "y double, x1 double, x2 double, x3 double, lexpo double",
    )
    # λ=0 parity vs glm
    un = glm(df, "y ~ x1 + x2 + x3", family="poisson", offset_col="lexpo",
             tol=1e-12)
    z = glm_elastic_net(
        df, "y ~ x1 + x2 + x3", reg_param=0.0, family="poisson",
        offset_col="lexpo", tol=1e-12,
    )
    assert z.converged
    assert np.abs(z.coefs - un.coefs).max() < 1e-7
    assert z.deviance == pytest.approx(un.deviance, rel=1e-6)

    # penalized KKT with offset (the oracle-free check for penalized fits)
    lam, alpha = 0.05, 0.8
    m = glm_elastic_net(
        df, "y ~ x1 + x2 + x3", reg_param=lam, elastic_net_param=alpha,
        family="poisson", offset_col="lexpo", tol=1e-12,
    )
    assert m.converged
    beta = m.coefs
    eta = beta[0] + X @ beta[1:] + np.log(expo)
    mu_hat = np.exp(eta)
    sig = X.std(axis=0, ddof=1)
    xc = X - X.mean(axis=0)
    theta = beta[1:] * sig
    grad = (xc / sig).T @ (mu_hat - y) / n
    for j in range(3):
        if theta[j] != 0.0:
            kkt = grad[j] + lam * (1 - alpha) * theta[j] + lam * alpha * np.sign(theta[j])
            assert abs(kkt) < 1e-7, (j, kkt)
        else:
            assert abs(grad[j]) <= lam * alpha + 1e-9, (j, grad[j])
    assert abs((mu_hat - y).sum() / n) < 1e-8
    # exposure matters: dropping the offset shifts the intercept
    no_off = glm_elastic_net(
        df, "y ~ x1 + x2 + x3", reg_param=lam, elastic_net_param=alpha,
        family="poisson",
    )
    assert abs(no_off.coefs[0] - m.coefs[0]) > 0.1


def test_glm_enet_offset_binomial_and_estimator(logit_data):
    """Binomial offset at λ=0 matches glm(offset_col=); SparkGLM
    forwards offsetCol on the regParam > 0 path (the mCol/link guard
    stays)."""
    from sparkglm_spark.ml import SparkGLM
    from sparkglm_spark.operators.enet import glm_elastic_net
    from sparkglm_spark.operators.glm import glm

    df = logit_data.withColumn("o", F.col("x4") * 0.3)
    un = glm(df, "y ~ x1 + x3", family="binomial", offset_col="o", tol=1e-12)
    z = glm_elastic_net(
        df, "y ~ x1 + x3", reg_param=0.0, family="binomial",
        offset_col="o", tol=1e-12,
    )
    assert np.abs(z.coefs - un.coefs).max() < 1e-7
    # α matched explicitly: the estimator defaults elasticNetParam=0.0
    # (MLlib), the function defaults α=1.0 (lasso) — intentional
    est = SparkGLM(
        formula="y ~ x1 + x3", family="binomial", regParam=0.02,
        elasticNetParam=1.0, offsetCol="o",
    ).fit(df)
    twin = glm_elastic_net(
        df, "y ~ x1 + x3", reg_param=0.02, elastic_net_param=1.0,
        family="binomial", offset_col="o",
    )
    assert np.abs(est.model.coefs - twin.coefs).max() < 1e-12


def test_glm_enet_cv_matches_cold_per_fold_fits(logit_data):
    """VERDICT r10 #1 'done' gate: every (fold, λ) lock-step model must
    agree with a COLD glm_elastic_net fit on the physically filtered
    training rows at 1e-8 — deviance_val is checked against a hand
    computation at the cold fit's coefficients, which fails unless the
    coefficients themselves agree."""
    from sparkglm_spark.operators.enet import glm_elastic_net, glm_elastic_net_cv

    df = logit_data.withColumn(
        "f", F.pmod(F.xxhash64("x1"), F.lit(3)).cast("int")
    )
    lams = [0.005, 0.05]
    got = {
        (r.reg_param, r.fold): r
        for r in glm_elastic_net_cv(
            df, "y ~ x1 + x2 + x3 + x4", lams, "f", n_folds=3,
            family="binomial",
        ).collect()
    }
    assert len(got) == 6
    pdf = df.toPandas()
    X = pdf[["x1", "x2", "x3", "x4"]].to_numpy()
    yv = pdf["y"].to_numpy()
    fv = pdf["f"].to_numpy()
    for lam in lams:
        for f in range(3):
            cold = glm_elastic_net(
                df.where(F.col("f") != f), "y ~ x1 + x2 + x3 + x4",
                reg_param=lam, family="binomial",
            )
            r = got[(lam, f)]
            assert r.converged and r.n_nonzero == cold.n_nonzero
            mask = fv == f
            eta = cold.coefs[0] + X[mask] @ cold.coefs[1:]
            mu = np.clip(1 / (1 + np.exp(-eta)), 1e-10, 1 - 1e-10)
            dev = 2.0 * float(
                np.sum(-yv[mask] * np.log(mu) - (1 - yv[mask]) * np.log1p(-mu))
            )
            assert r.deviance_val == pytest.approx(dev, rel=1e-8), (lam, f)
            assert r.n_val == int(mask.sum()) and r.n_train == int((~mask).sum())


def test_glm_enet_cv_one_agg_per_iteration(logit_data, monkeypatch):
    """The lock-step plan claim, asserted: with L λs and
    exact_iterations=E, the engine runs EXACTLY 1 upfront pass + L·E
    Gram passes + 1 final deviance pass — independent of n_folds (the
    point: fold models do NOT multiply data passes)."""
    import sparkglm_spark.operators.enet as enet_mod
    from sparkglm_spark.operators.enet import glm_elastic_net_cv

    calls = {"n": 0}
    orig = enet_mod._collect_fold_rows

    def counting(proj, aggs):
        calls["n"] += 1
        return orig(proj, aggs)

    monkeypatch.setattr(enet_mod, "_collect_fold_rows", counting)
    df = logit_data.withColumn(
        "f", F.pmod(F.xxhash64("x2"), F.lit(4)).cast("int")
    )
    out = glm_elastic_net_cv(
        df, "y ~ x1 + x3", [0.05, 0.01], "f", n_folds=4,
        family="binomial", exact_iterations=2,
    )
    assert out.count() == 8
    assert calls["n"] == 1 + 2 * 2 + 1, calls["n"]


def test_glm_enet_cv_selects_like_mllib_crossvalidator(logit_data):
    """Parity target (reference §1.5 mapping): λ selection agrees with
    MLlib CrossValidator over LogisticRegression(regParam) on an
    absurd-vs-reasonable grid (fold assignments differ — selection, not
    per-fold metrics, is the comparable surface)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from sparkglm_spark.operators.enet import glm_elastic_net_cv

    df = logit_data.withColumn(
        "f", F.pmod(F.xxhash64("x3"), F.lit(3)).cast("int")
    )
    lams = [0.01, 1e4]
    cv = glm_elastic_net_cv(
        df, "y ~ x1 + x2 + x3 + x4", lams, "f", n_folds=3,
        family="binomial", elastic_net_param=0.5,
    ).toPandas()
    best_ours = (
        cv.groupby("reg_param")["deviance_val"].sum().idxmin()
    )
    fd = VectorAssembler(
        inputCols=["x1", "x2", "x3", "x4"], outputCol="features"
    ).transform(logit_data)
    lr = LogisticRegression(labelCol="y", elasticNetParam=0.5)
    grid = ParamGridBuilder().addGrid(lr.regParam, lams).build()
    mcv = CrossValidator(
        estimator=lr, estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="y"),
        numFolds=3, seed=11,
    ).fit(fd)
    assert best_ours == mcv.bestModel.getRegParam() == 0.01


def test_glm_enet_path_matches_cold_fits_and_criteria(logit_data):
    """glm_elastic_net_path: warm-started full-data coefficients equal
    cold fits per λ at 1e-8; aic/bic = deviance + {2, ln n}·df with the
    deviance evaluated at the FINAL β (hand-recomputed)."""
    from sparkglm_spark.operators.enet import glm_elastic_net, glm_elastic_net_path

    lams = [0.05, 0.005, 0.2]
    path = glm_elastic_net_path(
        logit_data, "y ~ x1 + x2 + x3 + x4", lams, family="binomial"
    ).toPandas()
    assert len(path) == 3 * 5
    n = logit_data.count()
    for lam in lams:
        cold = glm_elastic_net(
            logit_data, "y ~ x1 + x2 + x3 + x4", reg_param=lam,
            family="binomial",
        )
        block = path[path.reg_param == lam]
        est = block.set_index("term")["estimate"]
        for nm, c in zip(cold.xnames, cold.coefs):
            assert est[nm] == pytest.approx(c, abs=1e-8), (lam, nm)
        nz = int(block.n_nonzero.iloc[0])
        assert nz == cold.n_nonzero
        dev = float(block.deviance.iloc[0])
        dof = nz + 1
        assert float(block.aic.iloc[0]) == pytest.approx(dev + 2 * dof, rel=1e-12)
        assert float(block.bic.iloc[0]) == pytest.approx(
            dev + np.log(n) * dof, rel=1e-12
        )
    # descending-λ AIC should bottom out at the true-support λ, not the
    # over-penalized one
    agg = path.groupby("reg_param")["aic"].first()
    assert agg.idxmin() != 0.2


def test_glm_enet_cv_poisson_offset_arm(spark):
    """CV composes with the offset (penalized Poisson rate-model λ
    selection): per-fold parity vs cold offset fits."""
    from sparkglm_spark.operators.enet import glm_elastic_net, glm_elastic_net_cv

    rng = np.random.default_rng(53)
    n = 1500
    X = rng.normal(size=(n, 2)) * np.array([1.0, 1.5])
    expo = rng.uniform(0.5, 5.0, n)
    mu = expo * np.exp(0.1 + X @ np.array([0.4, 0.0]))
    yv = rng.poisson(mu).astype(float)
    df = spark.createDataFrame(
        [
            (float(yv[i]), float(X[i, 0]), float(X[i, 1]),
             float(np.log(expo[i])), int(i % 2))
            for i in range(n)
        ],
        "y double, x1 double, x2 double, lexpo double, f int",
    )
    lam = 0.03
    got = {
        r.fold: r
        for r in glm_elastic_net_cv(
            df, "y ~ x1 + x2", [lam], "f", n_folds=2, family="poisson",
            offset_col="lexpo",
        ).collect()
    }
    pdf = df.toPandas()
    for f in range(2):
        cold = glm_elastic_net(
            df.where(F.col("f") != f), "y ~ x1 + x2", reg_param=lam,
            family="poisson", offset_col="lexpo",
        )
        mask = pdf["f"].to_numpy() == f
        Xv = pdf[["x1", "x2"]].to_numpy()[mask]
        yf = pdf["y"].to_numpy()[mask]
        eta = cold.coefs[0] + Xv @ cold.coefs[1:] + pdf["lexpo"].to_numpy()[mask]
        muv = np.exp(eta)
        with np.errstate(divide="ignore", invalid="ignore"):
            term = np.where(yf > 0, yf * np.log(yf / muv), 0.0)
        dev = 2.0 * float(np.sum(term - (yf - muv)))
        assert got[f].deviance_val == pytest.approx(dev, rel=1e-8), f


@pytest.mark.parametrize("std", [True, False])
@pytest.mark.parametrize("lam,alpha", [(0.02, 0.5), (0.05, 1.0)])
def test_glm_enet_weighted_matches_mllib_logistic(logit_data, std, lam, alpha):
    """GOLDEN: MLlib LogisticRegression(weightCol, regParam,
    elasticNetParam, standardization) — pins the WEIGHTED penalized
    logistic conventions: statistical n = Σω (objective (1/Σω)·Σω·loss),
    feature stds are the WEIGHTED sample stds √((Σωx² − Σω·m²)/(Σω−1))
    (MLlib's weighted summarizer), IRLS working weights carry ω. The
    weight is deliberately feature-correlated — a wrong Σω convention
    cannot hide."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from sparkglm_spark.operators.enet import glm_elastic_net

    wd = logit_data.withColumn("w", 0.25 + F.abs(F.col("x2")))
    fd = VectorAssembler(
        inputCols=["x1", "x2", "x3", "x4"], outputCol="features"
    ).transform(wd)
    lr = LogisticRegression(
        labelCol="y", weightCol="w", regParam=lam, elasticNetParam=alpha,
        standardization=std, maxIter=500, tol=1e-10,
    ).fit(fd)
    m = glm_elastic_net(
        wd, "y ~ x1 + x2 + x3 + x4", reg_param=lam,
        elastic_net_param=alpha, family="binomial", standardize=std,
        weight_col="w",
    )
    want = np.array([lr.intercept] + list(lr.coefficients))
    assert m.converged
    assert np.abs(m.coefs - want).max() < 1e-6
    assert [abs(c) < 1e-8 for c in m.coefs] == [abs(c) < 1e-8 for c in want]


def test_glm_enet_integer_weight_equals_replication(spark):
    """At λ=0 an integer weight is EXACTLY row replication (stds cancel
    out of the unpenalized objective; every IRLS sum coincides). At
    λ>0 the fits differ ONLY through the std convention — the weighted
    reliability denominator W−Σω²/W vs the replicated frame's W−1, an
    O(1/n) gap MLlib itself exhibits — so agreement is asserted at the
    λ·Δσ/σ scale."""
    from sparkglm_spark.operators.enet import glm_elastic_net

    rng = np.random.default_rng(11)
    n = 400
    x = rng.normal(size=n)
    y = (rng.random(n) < 1 / (1 + np.exp(0.3 - 0.9 * x))).astype(float)
    w = rng.integers(1, 4, size=n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i]), int(w[i])) for i in range(n)],
        "y double, x double, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")
    mw0 = glm_elastic_net(df, "y ~ x", reg_param=0.0, weight_col="w")
    mr0 = glm_elastic_net(rep, "y ~ x", reg_param=0.0)
    assert np.abs(mw0.coefs - mr0.coefs).max() < 1e-8
    assert mw0.deviance == pytest.approx(mr0.deviance, rel=1e-6)
    assert mw0.nrow == n and mr0.nrow == int(w.sum())
    mw = glm_elastic_net(
        df, "y ~ x", reg_param=0.03, elastic_net_param=0.5, weight_col="w"
    )
    mr = glm_elastic_net(rep, "y ~ x", reg_param=0.03, elastic_net_param=0.5)
    assert np.abs(mw.coefs - mr.coefs).max() < 5e-4
    assert np.abs(mw.coefs - mr.coefs).max() > 0.0  # genuinely different stds


def test_glm_enet_weight_guards_and_estimator(spark):
    """Weight-domain violations raise upfront (null / negative / Σω ≤ 1 —
    the weighted sample-std denominator); SparkGLM forwards weightCol on
    the penalized path and refuses it unpenalized (glm has no weight
    surface)."""
    from sparkglm_spark.ml import SparkGLM
    from sparkglm_spark.operators.enet import glm_elastic_net

    base = [(1.0, 0.5, 1.0), (0.0, -0.2, 1.0), (1.0, 1.3, 1.0), (0.0, 0.1, 1.0)]
    df = spark.createDataFrame(base, "y double, x double, w double")
    # na_action="omit" silently DROPS null-weight rows (weight_col rides
    # extra_cols through the formula front-end); the n_w < n guard is
    # what protects the na_action="keep" path
    with pytest.raises(ValueError, match="null"):
        glm_elastic_net(
            df.withColumn("w", F.when(F.col("x") > 1, None).otherwise(F.col("w"))),
            "y ~ x", reg_param=0.01, weight_col="w", na_action="keep",
        )
    with pytest.raises(ValueError, match="negative"):
        glm_elastic_net(
            df.withColumn("w", F.when(F.col("x") > 1, -2.0).otherwise(F.col("w"))),
            "y ~ x", reg_param=0.01, weight_col="w",
        )
    with pytest.raises(ValueError, match="effective row"):
        # all weight on ONE row: Σw − Σw²/Σw = 0 — std undefined
        glm_elastic_net(
            df.withColumn("w", F.when(F.col("x") > 1, 1.0).otherwise(0.0)),
            "y ~ x", reg_param=0.01, weight_col="w",
        )
    # regParam == 0 + weightCol routes to the unpenalized glm's weighted
    # IRLS (r11 — no longer refused; parity tested in test_glm.py)

    # estimator ≡ function on a real weighted fit
    rng = np.random.default_rng(3)
    n = 500
    x = rng.normal(size=n)
    y = (rng.random(n) < 1 / (1 + np.exp(-x))).astype(float)
    wv = 0.5 + rng.random(n)
    wd = spark.createDataFrame(
        [(float(y[i]), float(x[i]), float(wv[i])) for i in range(n)],
        "y double, x double, w double",
    )
    est = SparkGLM(
        formula="y ~ x", family="binomial", regParam=0.02,
        elasticNetParam=0.5, weightCol="w",
    ).fit(wd)
    fn = glm_elastic_net(
        wd, "y ~ x", reg_param=0.02, elastic_net_param=0.5, weight_col="w"
    )
    assert np.abs(est.model.coefs - fn.coefs).max() < 1e-12


def test_glm_enet_cv_weighted_matches_cold_fits(logit_data):
    """Weighted lock-step CV ≡ cold weighted per-fold fits at 1e-8;
    deviance_val is the ω-WEIGHTED held-out deviance at the cold fit's
    coefficients (fails unless the coefficients themselves agree)."""
    from sparkglm_spark.operators.enet import glm_elastic_net, glm_elastic_net_cv

    wd = logit_data.withColumn("w", 0.25 + F.abs(F.col("x3"))).withColumn(
        "f", F.pmod(F.xxhash64("x1"), F.lit(2)).cast("int")
    )
    lam = 0.03
    got = {
        r.fold: r
        for r in glm_elastic_net_cv(
            wd, "y ~ x1 + x2 + x3 + x4", [lam], "f", n_folds=2,
            family="binomial", weight_col="w",
        ).collect()
    }
    pdf = wd.toPandas()
    X = pdf[["x1", "x2", "x3", "x4"]].to_numpy()
    yv = pdf["y"].to_numpy()
    wv = pdf["w"].to_numpy()
    fv = pdf["f"].to_numpy()
    for f in range(2):
        cold = glm_elastic_net(
            wd.where(F.col("f") != f), "y ~ x1 + x2 + x3 + x4",
            reg_param=lam, family="binomial", weight_col="w",
        )
        r = got[f]
        assert r.converged and r.n_nonzero == cold.n_nonzero
        mask = fv == f
        eta = cold.coefs[0] + X[mask] @ cold.coefs[1:]
        mu = np.clip(1 / (1 + np.exp(-eta)), 1e-10, 1 - 1e-10)
        dev = 2.0 * float(
            np.sum(wv[mask] * (-yv[mask] * np.log(mu)
                               - (1 - yv[mask]) * np.log1p(-mu)))
        )
        assert r.deviance_val == pytest.approx(dev, rel=1e-8), f
        assert r.n_val == int(mask.sum()) and r.n_train == int((~mask).sum())


def test_cv_weight_and_empty_guards_and_dup_lams(logit_data, monkeypatch):
    """Code-review r11 regressions: (1) elastic_net_cv with all-zero
    weights raises loudly instead of returning an empty frame (every
    fold would hit the sw_t <= 0 skip); (2) weighted glm_elastic_net_cv
    on an input that NA-drops to nothing raises 'need more than one
    row', not a bare min()-on-empty crash; (3) duplicate reg_params fit
    ONCE (job-counted) while the output keeps duplicate blocks."""
    import sparkglm_spark.operators.enet as enet_mod
    from sparkglm_spark.operators.enet import (
        elastic_net_cv,
        glm_elastic_net_cv,
    )

    wd = logit_data.withColumn("f", F.pmod(F.xxhash64("x1"), F.lit(2)).cast("int"))
    with pytest.raises(ValueError, match="need Σw > 0"):
        elastic_net_cv(
            wd.withColumn("w", F.lit(0.0)), "y ~ x1 + x2", [0.1], "f",
            n_folds=2, weight_col="w",
        )
    empty = wd.withColumn("y", F.lit(None).cast("double")).withColumn(
        "w", F.lit(1.0)
    )
    with pytest.raises(ValueError, match="more than one row"):
        glm_elastic_net_cv(
            empty, "y ~ x1", [0.1], "f", n_folds=2, weight_col="w",
        )

    calls = {"n": 0}
    orig = enet_mod._collect_fold_rows

    def counting(proj, aggs):
        calls["n"] += 1
        return orig(proj, aggs)

    monkeypatch.setattr(enet_mod, "_collect_fold_rows", counting)
    out = glm_elastic_net_cv(
        wd, "y ~ x1 + x3", [0.05, 0.05], "f", n_folds=2,
        family="binomial", exact_iterations=2,
    ).collect()
    # 1 upfront + 1 unique lambda x 2 iterations + 1 final deviance pass
    assert calls["n"] == 1 + 2 + 1, calls["n"]
    # ... but the OUTPUT keeps the duplicate blocks (input multiset)
    assert len(out) == 4
    rows_by_lam = {}
    for r in out:
        rows_by_lam.setdefault((r.reg_param, r.fold), []).append(r)
    assert all(len(v) == 2 for v in rows_by_lam.values())
    for (lam, f), (a, b) in rows_by_lam.items():
        assert a.deviance_val == b.deviance_val


def test_glm_enet_grouped_matches_per_slice(spark):
    """glm_elastic_net_grouped (r11): per-slice agreement with the
    distributed glm_elastic_net at 1e-8 (binomial, weighted binomial,
    poisson+offset); support sets match; a degenerate group (constant
    label) NULLs while siblings fit; deviance is at the RETURNED beta."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net,
        glm_elastic_net_grouped,
    )

    rng = np.random.default_rng(61)
    rows = []
    for g in ("a", "b", "c"):
        n = 200
        x1 = rng.normal(0, 1, n)
        x2 = rng.normal(0, 1, n)
        y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(0.3 - x1))).astype(float)
        w = 0.5 + rng.random(n)
        rows += [
            (g, float(y[i]), float(x1[i]), float(x2[i]), float(w[i]))
            for i in range(n)
        ]
    df = spark.createDataFrame(
        rows, "g string, y double, x1 double, x2 double, w double"
    )
    lam = 0.03
    out = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            df, "y ~ x1 + x2", ["g"], reg_param=lam, elastic_net_param=0.7,
        ).collect()
    }
    outw = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            df, "y ~ x1 + x2", ["g"], reg_param=lam, elastic_net_param=0.7,
            weight_col="w",
        ).collect()
    }
    for g in ("a", "b", "c"):
        solo = glm_elastic_net(
            df.where(F.col("g") == g), "y ~ x1 + x2", reg_param=lam,
            elastic_net_param=0.7,
        )
        solow = glm_elastic_net(
            df.where(F.col("g") == g), "y ~ x1 + x2", reg_param=lam,
            elastic_net_param=0.7, weight_col="w",
        )
        for i, t in enumerate(["intercept", "x1", "x2"]):
            assert out[(g, t)].estimate == pytest.approx(
                float(solo.coefs[i]), abs=1e-8
            ), (g, t)
            assert outw[(g, t)].estimate == pytest.approx(
                float(solow.coefs[i]), abs=1e-8
            ), (g, t)
        assert out[(g, "x1")].n_nonzero == solo.n_nonzero
        # deviance at the returned beta: recompute by hand
        pdf = df.where(F.col("g") == g).toPandas()
        Xg = np.column_stack(
            [np.ones(len(pdf)), pdf["x1"].to_numpy(), pdf["x2"].to_numpy()]
        )
        mu = np.clip(
            1 / (1 + np.exp(-(Xg @ solo.coefs))), 1e-10, 1 - 1e-10
        )
        yv = pdf["y"].to_numpy()
        devh = 2.0 * float(
            np.sum(-yv * np.log(mu) - (1 - yv) * np.log1p(-mu))
        )
        assert out[(g, "x1")].deviance == pytest.approx(devh, rel=1e-6)

    # poisson + offset slice parity
    rowsp = []
    for g in ("a", "b"):
        n = 150
        x = rng.normal(0, 1, n)
        expo = rng.uniform(0.5, 2.0, n)
        yv = rng.poisson(expo * np.exp(0.3 + 0.5 * x)).astype(float)
        rowsp += [
            (g, float(yv[i]), float(x[i]), float(np.log(expo[i])))
            for i in range(n)
        ]
    dfp = spark.createDataFrame(rowsp, "g string, y double, x double, o double")
    outp = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            dfp, "y ~ x", ["g"], reg_param=0.02, family="poisson",
            offset_col="o",
        ).collect()
    }
    for g in ("a", "b"):
        solo = glm_elastic_net(
            dfp.where(F.col("g") == g), "y ~ x", reg_param=0.02,
            family="poisson", offset_col="o",
        )
        assert outp[(g, "x")].estimate == pytest.approx(
            float(solo.coefs[1]), abs=1e-8
        ), g

    # constant-label group -> NULL, siblings unchanged
    bad = df.withColumn(
        "y", F.when(F.col("g") == "b", 1.0).otherwise(F.col("y"))
    )
    outb = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            bad, "y ~ x1 + x2", ["g"], reg_param=lam
        ).collect()
    }
    assert outb[("b", "x1")].estimate is None
    assert outb[("a", "x1")].estimate is not None

    with pytest.raises(ValueError, match="binomial/poisson/gamma/tweedie"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], 0.1, family="gaussian")
    with pytest.raises(ValueError, match="group_cols"):
        glm_elastic_net_grouped(df, "y ~ x1", [], 0.1)


def test_glm_enet_grouped_exact_iterations(spark):
    """The r12 oracle-pin hook: exact_iterations=N runs exactly N
    penalized-IRLS solves per group (no convergence exit), matches the
    single-fit glm_elastic_net(exact_iterations=N) per slice at 1e-12,
    and reports iterations=N / converged=True (the engine convention).
    The path and CV grouped twins match glm_elastic_net_path/_cv on one
    group at 1e-12 too."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net,
        glm_elastic_net_grouped,
    )

    rng = np.random.default_rng(17)
    rows = []
    for g in ("a", "b"):
        n = 150
        x1 = rng.normal(0, 1, n)
        y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(0.4 - x1))).astype(float)
        rows += [(g, float(y[i]), float(x1[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, y double, x1 double")
    out = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            df, "y ~ x1", ["g"], reg_param=0.02, elastic_net_param=0.5,
            exact_iterations=2,
        ).collect()
    }
    for g in ("a", "b"):
        solo = glm_elastic_net(
            df.where(F.col("g") == g), "y ~ x1", reg_param=0.02,
            elastic_net_param=0.5, exact_iterations=2,
        )
        for i, term in enumerate(solo.xnames):
            assert out[(g, term)].estimate == pytest.approx(
                float(solo.coefs[i]), abs=1e-12
            ), (g, term)
        assert out[(g, "x1")].iterations == 2
        assert out[(g, "x1")].converged is True

    with pytest.raises(ValueError, match="exact_iterations"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], 0.02, exact_iterations=0)

    # the path and CV twins on one group: the numpy backend and the Spark
    # lock-step engine run the same start, sweep and loop, so only the
    # summation order differs — binomial, and poisson with prior weights
    # and an offset
    from sparkglm_spark.operators.enet import (
        glm_elastic_net_cv,
        glm_elastic_net_cv_grouped,
        glm_elastic_net_path,
        glm_elastic_net_path_grouped,
    )

    n = 150
    x1 = rng.normal(0, 1, n)
    off = rng.uniform(-0.5, 0.5, n)
    wv = rng.uniform(0.5, 2.0, n)
    yp = rng.poisson(np.exp(0.3 + 0.4 * x1 + off))
    pois = spark.createDataFrame(
        [("a", float(yp[i]), float(x1[i]), float(wv[i]), float(off[i]), i % 2)
         for i in range(n)],
        "g string, y double, x1 double, w double, o double, f int",
    )
    binom = df.where(F.col("g") == "a").withColumn(
        "f", F.pmod(F.xxhash64("x1"), F.lit(2)).cast("int")
    )
    lams = [0.05, 0.02]

    def close(a, b):
        return a == pytest.approx(b, rel=1e-12, abs=1e-12)

    for data, kw in (
        (binom, dict(family="binomial")),
        (pois, dict(family="poisson", weight_col="w", offset_col="o")),
    ):
        kw = dict(elastic_net_param=0.5, exact_iterations=2, **kw)
        path = glm_elastic_net_path(data, "y ~ x1", lams, **kw).collect()
        pg = {
            (r.reg_param, r.term): r
            for r in glm_elastic_net_path_grouped(
                data, "y ~ x1", ["g"], lams, **kw
            ).collect()
        }
        assert len(pg) == len(path) == 4
        for r in path:
            t = pg[(r.reg_param, r.term)]
            assert (t.n_nonzero, t.iterations) == (r.n_nonzero, r.iterations)
            for c in ("estimate", "deviance", "aic", "bic"):
                assert close(t[c], r[c]), (kw["family"], r.reg_param, c)
        cv = glm_elastic_net_cv(data, "y ~ x1", lams, "f", 2, **kw).collect()
        cg = {
            (r.reg_param, r.fold): r
            for r in glm_elastic_net_cv_grouped(
                data, "y ~ x1", ["g"], lams, "f", 2, **kw
            ).collect()
        }
        assert len(cg) == len(cv) == 4
        for r in cv:
            t = cg[(r.reg_param, r.fold)]
            for c in ("n_train", "n_val", "n_nonzero", "iterations",
                      "converged"):
                assert t[c] == r[c], (kw["family"], r.reg_param, c)
            for c in ("deviance_train", "deviance_val"):
                assert close(t[c], r[c]), (kw["family"], r.reg_param, c)


def test_glm_enet_path_exact_iterations_and_degenerate_raise(spark):
    """r12: exact_iterations on the path surface pins the warm-started
    trajectory (each λ runs exactly N solves; iterations report N), and
    degenerate path input raises with single-fit vocabulary instead of
    returning an empty frame (ADVICE r11)."""
    from sparkglm_spark.operators.enet import glm_elastic_net_path

    rng = np.random.default_rng(5)
    n = 200
    x = rng.normal(0, 1, n)
    y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(0.2 - x))).astype(float)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i])) for i in range(n)], "y double, x double"
    )
    out = glm_elastic_net_path(
        df, "y ~ x", [0.05, 0.02], elastic_net_param=0.5, exact_iterations=2
    ).collect()
    assert {r.reg_param for r in out} == {0.05, 0.02}
    assert all(r.iterations == 2 for r in out)
    # warm start: λ=0.02's trajectory continues from λ=0.05's β, so a
    # 2-solve exact run differs from a cold 2-solve fit at the same λ
    from sparkglm_spark.operators.enet import glm_elastic_net

    cold = glm_elastic_net(
        df, "y ~ x", reg_param=0.02, elastic_net_param=0.5, exact_iterations=2
    )
    warm_b = {r.term: r.estimate for r in out if r.reg_param == 0.02}
    assert warm_b["x"] != pytest.approx(float(cold.coefs[1]), abs=1e-14)

    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(20)], "y double, x double"
    )
    with pytest.raises(ValueError, match="degenerate input"):
        glm_elastic_net_path(const, "y ~ x", [0.1])


def test_glm_enet_cv_grouped_matches_cold_per_group(spark):
    """r12 (VERDICT r11 #8): glm_elastic_net_cv_grouped — each
    (group, λ, fold) row matches glm_elastic_net_cv run cold on that
    group's frame at 1e-8 (binomial and weighted binomial); a wholly
    degenerate group (constant label) emits one NULL row per λ while
    siblings fit; guards raise on bad grids."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net_cv,
        glm_elastic_net_cv_grouped,
    )

    rng = np.random.default_rng(43)
    rows = []
    for g in ("a", "b"):
        n = 160
        x1 = rng.normal(0, 1, n)
        x2 = rng.normal(0, 1, n)
        y = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(0.3 - x1))).astype(float)
        w = 0.5 + rng.random(n)
        rows += [
            (g, float(y[i]), float(x1[i]), float(x2[i]), float(w[i]), i % 2)
            for i in range(n)
        ]
    df = spark.createDataFrame(
        rows, "g string, y double, x1 double, x2 double, w double, fd int"
    )
    lams = [0.05, 0.01]
    for wc in (None, "w"):
        out = {
            (r.g, r.reg_param, r.fold): r
            for r in glm_elastic_net_cv_grouped(
                df, "y ~ x1 + x2", ["g"], lams, "fd", n_folds=2,
                elastic_net_param=0.7, weight_col=wc,
            ).collect()
        }
        for g in ("a", "b"):
            cold = {
                (r.reg_param, r.fold): r
                for r in glm_elastic_net_cv(
                    df.where(F.col("g") == g), "y ~ x1 + x2", lams,
                    "fd", n_folds=2, elastic_net_param=0.7, weight_col=wc,
                ).collect()
            }
            for key, cr in cold.items():
                gr = out[(g,) + key]
                assert gr.deviance_val == pytest.approx(
                    cr.deviance_val, rel=1e-8
                ), (wc, g, key)
                assert gr.deviance_train == pytest.approx(
                    cr.deviance_train, rel=1e-8
                ), (wc, g, key)
                assert gr.n_nonzero == cr.n_nonzero
                assert (gr.n_train, gr.n_val) == (cr.n_train, cr.n_val)

    bad = df.withColumn(
        "y", F.when(F.col("g") == "b", 1.0).otherwise(F.col("y"))
    )
    outb = glm_elastic_net_cv_grouped(
        bad, "y ~ x1 + x2", ["g"], lams, "fd", n_folds=2
    ).toPandas()
    b_rows = outb[outb.g == "b"]
    assert len(b_rows) == len(lams) and b_rows.fold.isna().all()
    assert (outb[outb.g == "a"].deviance_val.notna()).all()

    with pytest.raises(ValueError, match="n_folds"):
        glm_elastic_net_cv_grouped(df, "y ~ x1", ["g"], lams, "fd", n_folds=1)
    with pytest.raises(ValueError, match="reg_params"):
        glm_elastic_net_cv_grouped(df, "y ~ x1", ["g"], [], "fd")


def test_cv_select_lambda_rules(spark):
    """r12 cv_select_lambda: λ.min picks the arg-min mean held-out
    deviance (ties toward MORE regularization), λ.1se picks the largest
    λ within one SE of the min; grouped mode selects per group; NULL /
    NaN fold rows are excluded; k=1 folds give NULL cvse and 1se ==
    min."""
    from sparkglm_spark.operators.enet import cv_select_lambda

    rows = [
        # group g1: lam 0.1 (cvm 10), lam 0.01 (cvm 9, sd 5.657 so
        # cvse = sd/sqrt(2) = 4) -> min = 0.01; 1se: thr = 9 + 4 = 13
        # -> largest lam with cvm <= 13 is 0.1
        ("g1", 0.1, 0, 9.0), ("g1", 0.1, 1, 11.0),
        ("g1", 0.01, 0, 5.0), ("g1", 0.01, 1, 13.0),
        # group g2: ties on cvm -> larger lam wins under 'min'
        ("g2", 0.1, 0, 7.0), ("g2", 0.1, 1, 7.0),
        ("g2", 0.01, 0, 6.0), ("g2", 0.01, 1, 8.0),
        # a NULL-fold (degenerate) row and a NaN row must not score
        ("g1", 0.1, None, 999.0), ("g2", 0.01, 0, float("nan")),
    ]
    df = spark.createDataFrame(
        rows,
        "g string, reg_param double, fold int, deviance_val double",
    )
    mn = {r.g: r for r in cv_select_lambda(df, ["g"], rule="min").collect()}
    assert mn["g1"].reg_param == 0.01 and mn["g1"].cvm == pytest.approx(9.0)
    assert mn["g2"].reg_param == 0.1  # tie at cvm=7 -> larger lambda
    # review r12: a lambda that diverged on a fold (fewer scoreable
    # folds than the group's max) must NOT win on its partial mean
    part = df.union(
        spark.createDataFrame(
            [("g3", 0.1, 0, 9.0), ("g3", 0.1, 1, 10.0),
             ("g3", 0.01, 0, 1.0), ("g3", 0.01, 1, float("nan"))],
            df.schema,
        )
    )
    mp = {r.g: r for r in cv_select_lambda(part, ["g"], rule="min").collect()}
    assert mp["g3"].reg_param == 0.1 and mp["g3"].n_folds == 2
    se = {r.g: r for r in cv_select_lambda(df, ["g"], rule="1se").collect()}
    assert se["g1"].reg_param == 0.1
    # ungrouped frame (glm_elastic_net_cv shape)
    u = df.where(F.col("g") == "g1").drop("g")
    r = cv_select_lambda(u, rule="min").collect()
    assert len(r) == 1 and r[0].reg_param == 0.01
    # k=1: cvse NULL, 1se falls back to the min lambda
    one = spark.createDataFrame(
        [(0.1, 0, 5.0), (0.01, 0, 4.0)],
        "reg_param double, fold int, deviance_val double",
    )
    r1 = cv_select_lambda(one, rule="1se").collect()[0]
    assert r1.reg_param == 0.01 and r1.cvse is None
    with pytest.raises(ValueError, match="rule"):
        cv_select_lambda(df, ["g"], rule="2se")
    # ADVICE r12: duplicate reg_params in the grid emit duplicate
    # (lambda, fold) blocks; those replicas must not count as extra
    # folds (which would evict every non-duplicated lambda from the
    # max-fold comparison and understate cvse by sqrt(dup))
    dup = df.union(df.where(F.col("reg_param") == 0.1))
    md = {r.g: r for r in cv_select_lambda(dup, ["g"], rule="min").collect()}
    assert md["g1"].reg_param == 0.01 and md["g1"].n_folds == 2
    assert md["g2"].reg_param == 0.1 and md["g2"].n_folds == 2
    sd = {r.g: r for r in cv_select_lambda(dup, ["g"], rule="1se").collect()}
    assert sd["g1"].reg_param == 0.1
    assert sd["g1"].cvse == pytest.approx(se["g1"].cvse)
    # r13 metric_col: the same rules select over the LINEAR CV's
    # rmse_val (glmnet applies min/1se to any cv loss); a frame without
    # the metric raises
    lin = df.withColumnRenamed("deviance_val", "rmse_val")
    ml_ = {r.g: r for r in cv_select_lambda(
        lin, ["g"], rule="min", metric_col="rmse_val").collect()}
    assert ml_["g1"].reg_param == 0.01 and ml_["g1"].cvm == pytest.approx(9.0)
    with pytest.raises(ValueError, match="metric_col"):
        cv_select_lambda(lin, ["g"])


def test_grouped_refit_at_per_group_lambda(spark):
    """r12: the full per-tenant workflow — cv_grouped → cv_select_lambda
    → join the chosen λ back by group → glm_elastic_net_grouped with
    reg_param as a COLUMN. Each group's refit matches the single-fit
    glm_elastic_net at that group's own λ at 1e-8; a group with a
    mixed-λ column NULL-degrades."""
    from sparkglm_spark.operators.enet import (
        cv_select_lambda,
        glm_elastic_net,
        glm_elastic_net_cv_grouped,
        glm_elastic_net_grouped,
    )

    rng = np.random.default_rng(71)
    rows = []
    for gi, g in enumerate(("a", "b")):
        n = 160
        x1 = rng.normal(0, 1, n)
        y = (
            rng.uniform(0, 1, n)
            < 1 / (1 + np.exp(0.3 - (0.5 + gi) * x1))
        ).astype(float)
        rows += [(g, float(y[i]), float(x1[i]), i % 2) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, y double, x1 double, fd int")
    cv = glm_elastic_net_cv_grouped(
        df, "y ~ x1", ["g"], [0.1, 0.01], "fd", n_folds=2,
        elastic_net_param=0.5,
    )
    best = cv_select_lambda(cv, ["g"], rule="min")
    joined = df.join(best.select("g", "reg_param"), on="g")
    out = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            joined, "y ~ x1", ["g"], reg_param="reg_param",
            elastic_net_param=0.5,
        ).collect()
    }
    chosen = {r.g: r.reg_param for r in best.collect()}
    for g in ("a", "b"):
        solo = glm_elastic_net(
            df.where(F.col("g") == g), "y ~ x1",
            reg_param=chosen[g], elastic_net_param=0.5,
        )
        for i, t in enumerate(solo.xnames):
            assert out[(g, t)].estimate == pytest.approx(
                float(solo.coefs[i]), abs=1e-8
            ), (g, t)
    # mixed λ within a group -> NULL, sibling unaffected
    bad = joined.withColumn(
        "reg_param",
        F.when(
            (F.col("g") == "b") & (F.col("fd") == 1), 99.0
        ).otherwise(F.col("reg_param")),
    )
    outb = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            bad, "y ~ x1", ["g"], reg_param="reg_param"
        ).collect()
    }
    assert outb[("b", "x1")].estimate is None
    assert outb[("a", "x1")].estimate is not None
    with pytest.raises(ValueError, match="not in the input"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], reg_param="nope")


def test_grouped_refit_lambda_column_guards(spark):
    """r12 review: reg_param-column collisions and bad types fail LOUDLY
    upfront (group-col collision, formula collision, non-numeric dtype)
    instead of an opaque mid-job Arrow crash."""
    from sparkglm_spark.operators.enet import glm_elastic_net_grouped

    df = spark.createDataFrame(
        [("a", 1.0, 0.5, 0.1, "x")] * 4 + [("a", 0.0, -0.5, 0.1, "x")] * 4,
        "g string, y double, x1 double, lam double, s string",
    )
    with pytest.raises(ValueError, match="also a group column"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], reg_param="g")
    with pytest.raises(ValueError, match="referenced by the formula"):
        glm_elastic_net_grouped(df, "y ~ x1 + lam", ["g"], reg_param="lam")
    with pytest.raises(ValueError, match="must be numeric"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], reg_param="s")
    # a valid numeric column still fits
    out = glm_elastic_net_grouped(
        df, "y ~ x1", ["g"], reg_param="lam"
    ).collect()
    assert all(r.estimate is not None for r in out)


def test_glm_elastic_net_gamma_family(spark):
    """r13 penalized gamma (VERDICT r12 #3): at λ=0 the prox-Newton
    lands on the unpenalized glm MLE; λ>0 shrinks/zeroes; the grouped
    twin matches a per-slice single fit at 1e-8; y ≤ 0 raises; unit
    weights == unweighted."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net,
        glm_elastic_net_grouped,
    )
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(133)
    n = 600
    x1 = rng.normal(0, 1, n)
    x2 = rng.integers(0, 3, n).astype(float)
    mu = np.exp(0.4 + 0.6 * x1 - 0.3 * x2)
    y = rng.gamma(shape=2.0, scale=mu / 2.0)
    g = rng.integers(0, 2, n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x1[i]), float(x2[i]), int(g[i]))
         for i in range(n)],
        "y double, x1 double, x2 double, g int",
    )
    m0 = glm_elastic_net(df, "y ~ x1 + x2", reg_param=0.0, family="gamma",
                         tol=1e-13, max_iter=200)
    g0 = glm(df, "y ~ x1 + x2", family="gamma", tol=1e-14, max_iter=100)
    assert np.abs(m0.coefs - g0.coefs).max() < 1e-7
    assert m0.deviance == pytest.approx(g0.deviance, rel=1e-9)
    # heavy penalty shrinks toward the intercept-only model
    m1 = glm_elastic_net(df, "y ~ x1 + x2", reg_param=5.0, family="gamma")
    nz0 = sum(1 for nm, c in zip(m0.xnames, m0.coefs)
              if nm != "intercept" and c != 0.0)
    nz1 = sum(1 for nm, c in zip(m1.xnames, m1.coefs)
              if nm != "intercept" and c != 0.0)
    assert nz1 < nz0 and m1.converged
    # unit weights == unweighted (same objective, Σω² = n degradation)
    mw = glm_elastic_net(
        df.withColumn("w", F.lit(1.0)), "y ~ x1 + x2", reg_param=0.3,
        family="gamma", weight_col="w", tol=1e-13,
    )
    mu_ = glm_elastic_net(df, "y ~ x1 + x2", reg_param=0.3, family="gamma",
                          tol=1e-13)
    assert np.abs(mw.coefs - mu_.coefs).max() < 1e-10
    # y ≤ 0 is out of the gamma domain — upfront raise, grouped NULL
    bad = df.withColumn("y", F.when(F.col("x2") > 1, 0.0).otherwise(F.col("y")))
    with pytest.raises(ValueError, match="gamma label must be > 0"):
        glm_elastic_net(bad, "y ~ x1 + x2", reg_param=0.1, family="gamma")
    out = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            df, "y ~ x1 + x2", ["g"], reg_param=0.1, family="gamma",
            tol=1e-12,
        ).collect()
    }
    sl = glm_elastic_net(df.where(F.col("g") == 0), "y ~ x1 + x2",
                         reg_param=0.1, family="gamma", tol=1e-12)
    for i, t in enumerate(sl.xnames):
        assert out[(0, t)].estimate == pytest.approx(
            float(sl.coefs[i]), abs=1e-8
        ), t
    assert out[(0, "x1")].deviance == pytest.approx(sl.deviance, rel=1e-9)
    badg = bad.withColumn("g", F.when(F.col("x2") > 1, 7).otherwise(F.col("g")))
    outg = {
        (r.g, r.term): r.estimate
        for r in glm_elastic_net_grouped(
            badg, "y ~ x1 + x2", ["g"], reg_param=0.1, family="gamma"
        ).collect()
    }
    assert outg[(7, "x1")] is None  # zero labels -> grouped NULL policy


def test_glm_elastic_net_tweedie_family(spark):
    """r13 penalized tweedie: λ=0 golden vs unpenalized glm on a
    zero-inflated positive response (the family's reason to exist);
    var_power threads through cv/grouped; p outside (1,2) and y < 0
    raise; cv_grouped row == cold glm_elastic_net_cv on that slice."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net,
        glm_elastic_net_cv,
        glm_elastic_net_cv_grouped,
        glm_elastic_net_path,
    )
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(134)
    n = 500
    x = rng.normal(0, 1, n)
    mu = np.exp(0.3 + 0.5 * x)
    y = np.where(rng.random(n) < 0.3, 0.0, rng.gamma(2.0, mu / 2.0))
    g = rng.integers(0, 2, n)
    fd = rng.integers(0, 3, n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i]), int(g[i]), int(fd[i]))
         for i in range(n)],
        "y double, x double, g int, fd int",
    )
    m0 = glm_elastic_net(df, "y ~ x", reg_param=0.0, family="tweedie",
                         var_power=1.4, tol=1e-13, max_iter=200)
    g0 = glm(df, "y ~ x", family="tweedie", var_power=1.4, tol=1e-14,
             max_iter=100)
    assert np.abs(m0.coefs - g0.coefs).max() < 1e-7
    assert m0.deviance == pytest.approx(g0.deviance, rel=1e-9)
    with pytest.raises(ValueError, match="var_power"):
        glm_elastic_net(df, "y ~ x", reg_param=0.1, family="tweedie",
                        var_power=2.5)
    # review r13: the grouped twins call the numpy kernels directly —
    # they must raise on a bad p too, not return plausible-wrong numbers
    from sparkglm_spark.operators.enet import (
        glm_elastic_net_grouped,
        glm_elastic_net_path_grouped,
    )

    with pytest.raises(ValueError, match="var_power"):
        glm_elastic_net_grouped(df, "y ~ x", ["g"], 0.1, family="tweedie",
                                var_power=2.5)
    with pytest.raises(ValueError, match="var_power"):
        glm_elastic_net_path_grouped(df, "y ~ x", ["g"], [0.1],
                                     family="tweedie", var_power=0.5)
    with pytest.raises(ValueError, match="var_power"):
        glm_elastic_net_cv_grouped(df, "y ~ x", ["g"], [0.1], "fd",
                                   n_folds=3, family="tweedie",
                                   var_power=2.0)
    with pytest.raises(ValueError, match="tweedie label must be >= 0"):
        glm_elastic_net(
            df.withColumn("y", F.col("y") - 1.0), "y ~ x",
            reg_param=0.1, family="tweedie",
        )
    # cv_grouped parity with a cold per-group glm_elastic_net_cv at the
    # same var_power (the grouped-fitter contract extended to tweedie)
    cvg = {
        (r.g, r.reg_param, r.fold): r
        for r in glm_elastic_net_cv_grouped(
            df, "y ~ x", ["g"], [0.1, 0.01], "fd", n_folds=3,
            family="tweedie", var_power=1.4, tol=1e-12,
        ).collect()
    }
    cold = glm_elastic_net_cv(
        df.where(F.col("g") == 1), "y ~ x", [0.1, 0.01], F.col("fd"),
        n_folds=3, family="tweedie", var_power=1.4, tol=1e-12,
    ).collect()
    for r in cold:
        got = cvg[(1, r.reg_param, r.fold)]
        assert got.deviance_val == pytest.approx(r.deviance_val, rel=1e-8)
        assert got.deviance_train == pytest.approx(r.deviance_train, rel=1e-8)
        assert got.n_nonzero == r.n_nonzero
    # path runs with warm starts for gamma-like links
    pth = glm_elastic_net_path(df, "y ~ x", [0.5, 0.1, 0.0],
                               family="tweedie", var_power=1.4)
    assert pth.count() == 6  # 3 lambdas x 2 terms


def test_cv_grouped_big_grid_routing_warning(spark):
    """r13 (VERDICT r12 #7): a >= 25-lambda grid in cv_grouped warns —
    the whole grid serializes inside each group's Arrow batch; the
    lock-step glm_elastic_net_cv is the few-groups x big-grid route.
    Small grids stay silent."""
    import warnings

    from sparkglm_spark.operators.enet import glm_elastic_net_cv_grouped

    df = spark.createDataFrame(
        [("a", float(i % 2), float(i) / 10.0, i % 3) for i in range(30)],
        "g string, y double, x double, fd int",
    )
    big = [0.5 / (1.3 ** i) for i in range(25)]
    with pytest.warns(UserWarning, match="lock-step"):
        glm_elastic_net_cv_grouped(df, "y ~ x", ["g"], big, "fd", n_folds=3)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        glm_elastic_net_cv_grouped(df, "y ~ x", ["g"], [0.1, 0.01], "fd",
                                   n_folds=3)


def test_glm_enet_path_grouped_matches_per_slice(spark):
    """r13 stretch (VERDICT r12 #9): glm_elastic_net_path_grouped ==
    glm_elastic_net_path run cold per slice at 1e-8 (coefs, deviance,
    aic/bic, support), including warm-start order and duplicate-lambda
    re-expansion; degenerate groups NULL per (lambda, term); empty
    group_cols / unknown family raise."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net_path,
        glm_elastic_net_path_grouped,
    )

    rng = np.random.default_rng(137)
    rows = []
    for g, (b0, b1) in (("a", (-0.5, 2.0)), ("b", (0.5, -1.5))):
        for _ in range(220):
            x1 = float(rng.normal())
            x2 = float(rng.normal())
            p = 1.0 / (1.0 + np.exp(-(b0 + b1 * x1)))
            rows.append((g, float(rng.random() < p), x1, x2))
    rows += [("const", 1.0, 0.1, 0.2), ("const", 1.0, 0.3, 0.4)]
    df = spark.createDataFrame(rows, "g string, y double, x1 double, x2 double")
    lams = [0.2, 0.05, 0.05, 0.01]  # duplicate re-expands
    out = glm_elastic_net_path_grouped(
        df, "y ~ x1 + x2", ["g"], lams, tol=1e-12
    )
    got = {}
    for r in out.collect():
        got[(r.g, r.reg_param, r.term)] = r
    for g in ("a", "b"):
        cold = glm_elastic_net_path(
            df.where(F.col("g") == g), "y ~ x1 + x2", lams, tol=1e-12
        ).collect()
        for r in cold:
            gr = got[(g, r.reg_param, r.term)]
            assert gr.estimate == pytest.approx(r.estimate, abs=1e-8), (
                g, r.reg_param, r.term)
            assert gr.n_nonzero == r.n_nonzero
            assert gr.deviance == pytest.approx(r.deviance, rel=1e-8)
            assert gr.aic == pytest.approx(r.aic, rel=1e-8)
            assert gr.bic == pytest.approx(r.bic, rel=1e-8)
    # 4 input lambdas x 3 terms per group (duplicate lambda re-expands
    # to duplicate ROWS — count the frame, not the deduping dict)
    all_rows = out.collect()
    assert sum(1 for r in all_rows if r.g == "a") == 12
    # constant-label group -> NULL rows, one per (lambda, term)
    assert sum(1 for r in all_rows if r.g == "const") == 12
    assert got[("const", 0.2, "x1")].estimate is None
    assert got[("const", 0.2, "x1")].deviance is None
    with pytest.raises(ValueError, match="group_cols"):
        glm_elastic_net_path_grouped(df, "y ~ x1", [], lams)
    with pytest.raises(ValueError, match="supports"):
        glm_elastic_net_path_grouped(df, "y ~ x1", ["g"], lams,
                                     family="gaussian")


def test_glm_elastic_net_negbinomial_family(spark):
    """r14 penalized negbinomial (VERDICT r13 #3): fixed-α NB2 through
    every enet surface. λ=0 lands on the unpenalized
    glm(family='negbinomial') MLE; λ>0 shrinks; integer weights ==
    replication in the objective sense; grouped == per-slice single at
    1e-8; y < 0 raises; α ≤ 0 raises on every surface; α→0 closes on
    the poisson fit."""
    from sparkglm_spark.operators.enet import (
        glm_elastic_net,
        glm_elastic_net_cv,
        glm_elastic_net_grouped,
        glm_elastic_net_path,
    )
    from sparkglm_spark.operators.glm import glm

    rng = np.random.default_rng(177)
    n = 700
    x1 = rng.normal(0, 1, n)
    x2 = rng.integers(0, 3, n).astype(float)
    mu = np.exp(0.4 + 0.5 * x1 - 0.3 * x2)
    a = 0.6
    y = rng.poisson(rng.gamma(shape=1.0 / a, scale=a * mu)).astype(float)
    g = rng.integers(0, 2, n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x1[i]), float(x2[i]), int(g[i]))
         for i in range(n)],
        "y double, x1 double, x2 double, g int",
    )
    m0 = glm_elastic_net(df, "y ~ x1 + x2", reg_param=0.0,
                         family="negbinomial", nb_alpha=a,
                         tol=1e-13, max_iter=200)
    g0 = glm(df, "y ~ x1 + x2", family="negbinomial", nb_alpha=a,
             tol=1e-14, max_iter=100)
    assert np.abs(m0.coefs - g0.coefs).max() < 1e-7
    assert m0.deviance == pytest.approx(g0.deviance, rel=1e-9)
    # alpha -> 0 closes on poisson (the NB2 limit)
    mp = glm_elastic_net(df, "y ~ x1 + x2", reg_param=0.0,
                         family="negbinomial", nb_alpha=1e-8,
                         tol=1e-13, max_iter=200)
    pp = glm_elastic_net(df, "y ~ x1 + x2", reg_param=0.0,
                         family="poisson", tol=1e-13, max_iter=200)
    assert np.abs(mp.coefs - pp.coefs).max() < 1e-5
    # heavy penalty shrinks; integer-weight replication identity
    m1 = glm_elastic_net(df, "y ~ x1 + x2", reg_param=5.0,
                         family="negbinomial", nb_alpha=a)
    nz1 = sum(1 for nm, c in zip(m1.xnames, m1.coefs)
              if nm != "intercept" and c != 0.0)
    assert nz1 == 0 and m1.converged
    wdf = df.withColumn("w", (F.col("g") + 1).cast("double"))
    rep = wdf.withColumn(
        "q", F.explode(F.expr("sequence(1, CAST(w AS INT))"))
    ).drop("q")
    mw = glm_elastic_net(wdf, "y ~ x1 + x2", reg_param=0.2,
                         family="negbinomial", nb_alpha=a,
                         weight_col="w", tol=1e-13)
    mr = glm_elastic_net(rep, "y ~ x1 + x2", reg_param=0.2,
                         family="negbinomial", nb_alpha=a, tol=1e-13)
    # objective-sense identity: reliability-std denominators differ at
    # O(1/n) (the glm_elastic_net weighted contract) — match at 3e-4
    assert np.abs(mw.coefs - mr.coefs).max() < 3e-4
    # y < 0 out of domain; alpha <= 0 raises on single AND grouped
    bad = df.withColumn(
        "y", F.when(F.col("x2") > 1, -1.0).otherwise(F.col("y"))
    )
    with pytest.raises(ValueError, match="negbinomial label must be >= 0"):
        glm_elastic_net(bad, "y ~ x1 + x2", reg_param=0.1,
                        family="negbinomial", nb_alpha=a)
    with pytest.raises(ValueError, match="alpha"):
        glm_elastic_net(df, "y ~ x1", reg_param=0.1,
                        family="negbinomial", nb_alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        glm_elastic_net_grouped(df, "y ~ x1", ["g"], reg_param=0.1,
                                family="negbinomial", nb_alpha=-1.0)
    # grouped == per-slice single
    out = {
        (r.g, r.term): r
        for r in glm_elastic_net_grouped(
            df, "y ~ x1 + x2", ["g"], reg_param=0.1,
            family="negbinomial", nb_alpha=a, tol=1e-12,
        ).collect()
    }
    sl = glm_elastic_net(df.where(F.col("g") == 0), "y ~ x1 + x2",
                         reg_param=0.1, family="negbinomial", nb_alpha=a,
                         tol=1e-12)
    for i, t in enumerate(sl.xnames):
        assert out[(0, t)].estimate == pytest.approx(
            float(sl.coefs[i]), abs=1e-8
        ), t
    assert out[(0, "x1")].deviance == pytest.approx(sl.deviance, rel=1e-9)
    # path + cv surfaces run and agree with cold single fits per lambda
    pth = glm_elastic_net_path(df, "y ~ x1 + x2", reg_params=[0.3, 0.05],
                               family="negbinomial", nb_alpha=a,
                               tol=1e-12).collect()
    for lam in (0.3, 0.05):
        cold = glm_elastic_net(df, "y ~ x1 + x2", reg_param=lam,
                               family="negbinomial", nb_alpha=a, tol=1e-12)
        got = {r.term: r.estimate for r in pth
               if r.reg_param == pytest.approx(lam)}
        for i, t in enumerate(cold.xnames):
            assert got[t] == pytest.approx(float(cold.coefs[i]), abs=1e-6), t
    cv = glm_elastic_net_cv(df, "y ~ x1 + x2", reg_params=[0.3, 0.05],
                            fold_expr=F.abs(F.hash("x1") % 3),
                            n_folds=3, family="negbinomial", nb_alpha=a)
    assert {r.reg_param for r in cv.collect()} == {0.3, 0.05}


# ---------------------------------------------------------------------------
# r14: guard-matrix symmetry audit (VERDICT r13 #8) — the linear
# elastic_net_* surfaces carry the same guards the GLM surfaces gained
# over r11-r13, and the shared scaffolds refuse role collisions loudly


def test_guard_matrix_linear_glm_symmetric(spark):
    """Auxiliary-column/formula collisions (weight, offset, group)
    raise a clear ValueError on EVERY formula surface instead of dying
    mid-plan with Spark's opaque AMBIGUOUS_REFERENCE (probed: the
    duplicate select made every later F.col ambiguous); negative λ and
    out-of-[0,1] α raise on linear fit/cv/path exactly as on the GLM
    twins; 'y ~ .' keeps EXCLUDING auxiliaries (no false positive)."""
    from sparkglm_spark.operators.enet import (
        elastic_net_grouped,
        elastic_net_path,
        glm_elastic_net,
        glm_elastic_net_grouped,
    )
    from sparkglm_spark.operators.glm import glm
    from sparkglm_spark.operators.lm import lm, lm_grouped

    df = spark.range(60).select(
        (F.col("id") % 7).cast("double").alias("x"),
        (F.col("id") % 3 + 1).cast("double").alias("w"),
        ((F.col("id") % 7) * 2.0 + 1.0).alias("y"),
        (F.col("id") % 2).cast("int").alias("g"),
        F.when(F.col("id") % 7 > 3, 1.0).otherwise(0.0).alias("yb"),
    )

    # weight referenced by the formula — one error across the matrix
    for call in (
        lambda: elastic_net(df, "y ~ x + w", 0.1, weight_col="w"),
        lambda: elastic_net_cv(df, "y ~ x + w", [0.1], "g", n_folds=2,
                               weight_col="w"),
        lambda: elastic_net_path(df, "y ~ x + w", [0.1], weight_col="w"),
        lambda: glm_elastic_net(df, "yb ~ x + w", 0.1, family="binomial",
                                weight_col="w"),
        lambda: lm(df, "y ~ x + w", weight_col="w"),
        lambda: glm(df, "yb ~ x + w", family="binomial", weight_col="w"),
    ):
        with pytest.raises(ValueError, match="both"):
            call()
    # weight == target
    with pytest.raises(ValueError, match="both"):
        elastic_net(df, "y ~ x", 0.1, weight_col="y")
    # grouped scaffold: group col in the formula / weight collision
    with pytest.raises(ValueError, match="both"):
        lm_grouped(df, "y ~ x + g", ["g"])
    with pytest.raises(ValueError, match="both"):
        elastic_net_grouped(df, "y ~ x + w", ["g"], 0.1, weight_col="w")
    with pytest.raises(ValueError, match="both"):
        glm_elastic_net_grouped(df, "yb ~ x + w", ["g"], 0.1,
                                family="binomial", weight_col="w")

    # negative λ / out-of-range α: linear matches the GLM refusals
    with pytest.raises(ValueError, match="reg_param"):
        elastic_net(df, "y ~ x", -0.1)
    with pytest.raises(ValueError, match="reg_param"):
        elastic_net_cv(df, "y ~ x", [-0.1], "g", n_folds=2)
    with pytest.raises(ValueError, match="reg_param"):
        elastic_net_path(df, "y ~ x", [0.1, -0.1])
    with pytest.raises(ValueError, match="elastic_net_param"):
        elastic_net(df, "y ~ x", 0.1, elastic_net_param=1.5)

    # no false positive: '.' expansion still excludes auxiliaries
    m = elastic_net(df.select("x", "w", "y"), "y ~ .", 0.01,
                    weight_col="w")
    assert set(m.xnames) == {"intercept", "x"}


def test_linear_enet_decimal_parity(spark):
    """Decimal label/predictor/weight through the linear surfaces equal
    the double twin exactly (model_matrix's shared double-cast — the
    GLM surfaces' r12 decimal-robustness convention; probed: DuckDB-ish
    decimal(12,4) inputs reach the Gram as float64)."""
    df = spark.range(200).select(
        (F.col("id") % 9).cast("double").alias("x"),
        (F.col("id") % 4 + 1).cast("double").alias("w"),
        ((F.col("id") % 9) * 1.5 + 2.0 + (F.col("id") % 5) * 0.01).alias("y"),
    )
    ddf = df.select(
        F.col("x").cast("decimal(12,4)").alias("x"),
        F.col("w").cast("decimal(12,4)").alias("w"),
        F.col("y").cast("decimal(12,4)").alias("y"),
    )
    md = elastic_net(df, "y ~ x", 0.05, weight_col="w")
    mdec = elastic_net(ddf, "y ~ x", 0.05, weight_col="w")
    np.testing.assert_allclose(mdec.coefs, md.coefs, rtol=0, atol=0)

    cv_d = elastic_net_cv(
        df.withColumn("f", (F.col("x") % 2).cast("int")),
        "y ~ x", [0.05], "f", n_folds=2, weight_col="w",
    ).orderBy("fold").collect()
    cv_dec = elastic_net_cv(
        ddf.withColumn("f", (F.col("x") % 2).cast("int")),
        "y ~ x", [0.05], "f", n_folds=2, weight_col="w",
    ).orderBy("fold").collect()
    for a, b in zip(cv_d, cv_dec):
        assert a == b
