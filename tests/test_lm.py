"""LM numeric oracle tests — the reference's Scala tests assert only shape
(lmPredict$Test.scala); we add the numeric oracle SURVEY §5.2 calls for,
via numpy lstsq refits on collected data (small fixtures only)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkglm_spark.operators.lm import LM, lm


def numpy_ols(X: np.ndarray, y: np.ndarray):
    coef, _, _, _ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ coef
    sse = float(resid @ resid)
    n, k = X.shape
    ybar = y.mean()
    tss = float(((y - ybar) ** 2).sum())
    pred = X @ coef
    ess = float(((pred - ybar) ** 2).sum())
    sig2 = sse / (n - k)
    xtxi = np.linalg.inv(X.T @ X)
    se = np.sqrt(sig2 * np.diag(xtxi))
    return {
        "coef": coef, "se": se, "sigma": np.sqrt(sig2),
        "r2": ess / tss,
        "f": ((tss - sse) / (k - 1)) / (sse / (n - k)),
    }


@pytest.fixture(scope="module")
def simple_reg(spark):
    """F3-style 50-row fixture: y = 3 + 2x + noise, deterministic."""
    rng = np.random.default_rng(7)
    x = np.arange(1, 51) * 1.1
    y = 3.0 + 2.0 * x + rng.normal(0, 5.0, 50)
    rows = [(1.0, float(xi), float(yi)) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "intercept double, x double, y double")
    return df, np.column_stack([np.ones(50), x]), y


def test_fit_matches_numpy(simple_reg):
    df, X, y = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    oracle = numpy_ols(X, y)
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-8)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-8)
    assert model.r2 == pytest.approx(oracle["r2"], rel=1e-8)
    assert model.f_stat == pytest.approx(oracle["f"], rel=1e-8)
    assert model.sigma == pytest.approx(oracle["sigma"], rel=1e-8)
    assert model.nrow == 50


def test_moments_vs_exact_sse(simple_reg):
    df, _, _ = simple_reg
    m1 = LM.fit(df, y_col="y", x_cols=["intercept", "x"], sse_mode="moments")
    m2 = LM.fit(df, y_col="y", x_cols=["intercept", "x"], sse_mode="exact")
    assert m1.r2 == pytest.approx(m2.r2, rel=1e-9)
    assert m1.sigma == pytest.approx(m2.sigma, rel=1e-9)
    assert m1.f_stat == pytest.approx(m2.f_stat, rel=1e-9)


def test_partition_invariance(simple_reg):
    """Reference's own single/multi split makes this the highest-value
    property (SURVEY §5.2.3): identical results at npart ∈ {1, 4, 16}."""
    df, X, y = simple_reg
    ref = None
    for nparts in [1, 4, 16]:
        model = LM.fit(df.repartition(nparts), y_col="y", x_cols=["intercept", "x"])
        if ref is None:
            ref = model
        else:
            np.testing.assert_allclose(model.coefs, ref.coefs, rtol=1e-9)
            assert model.r2 == pytest.approx(ref.r2, rel=1e-9)


def test_predict_keeps_rows_and_matches(simple_reg):
    df, X, y = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    scored = model.predict(df)
    assert "prediction" in scored.columns
    assert scored.count() == 50
    got = np.array([r["prediction"] for r in scored.orderBy("x").collect()])
    order = np.argsort(X[:, 1])
    np.testing.assert_allclose(got, (X @ model.coefs)[order], rtol=1e-10)


def test_predict_indexed_parity_surface(simple_reg):
    # reference shape: (index, value), max(index) == n-1 (lmPredict$Test.scala:21,34)
    df, _, _ = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    out = model.predict_indexed(df)
    assert out.columns == ["index", "value"]
    assert out.count() == 50
    assert out.agg(F.max("index")).collect()[0][0] == 49


def test_formula_end_to_end_iris(iris_df):
    """Flagship query (test_LM.R:10-45): Sepal_Width ~ Petal_Length +
    Petal_Width + Species, vs numpy oracle with identical encoding."""
    model = lm(iris_df, "Sepal_Width ~ Petal_Length + Petal_Width + Species")
    assert model.xnames == [
        "intercept", "Petal_Length", "Petal_Width",
        "Species_versicolor", "Species_virginica",
    ]
    pdf = iris_df.toPandas()
    X = np.column_stack([
        np.ones(len(pdf)),
        pdf["Petal_Length"], pdf["Petal_Width"],
        (pdf["Species"] == "versicolor").astype(float),
        (pdf["Species"] == "virginica").astype(float),
    ])
    oracle = numpy_ols(X, pdf["Sepal_Width"].to_numpy())
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-7)
    np.testing.assert_allclose(model.std_err, oracle["se"], rtol=1e-7)
    # predict on raw (unencoded) data auto-applies the stored encoding
    assert model.predict(iris_df).count() == 150
    s = model.summary().as_dict()
    assert set(s) >= {"call", "coefficients", "RSE", "R2", "Fstat"}
    assert 0 <= s["R2"] <= 1


def test_no_intercept_formula(simple_reg):
    df, X, y = simple_reg
    model = lm(df.select("x", "y"), "y ~ x - 1")
    assert model.xnames == ["x"]
    oracle_coef = float(np.linalg.lstsq(X[:, 1:], y, rcond=None)[0][0])
    assert model.coefs[0] == pytest.approx(oracle_coef, rel=1e-9)


def test_lm_on_lineitem_scale(lineitem):
    """Multi-feature fit on real testdata vs numpy oracle."""
    feats = ["l_quantity", "l_discount", "l_tax"]
    model = lm(lineitem, "l_extendedprice ~ l_quantity + l_discount + l_tax")
    pdf = lineitem.select("l_extendedprice", *feats).toPandas()
    X = np.column_stack([np.ones(len(pdf))] + [pdf[c] for c in feats])
    oracle = numpy_ols(X, pdf["l_extendedprice"].to_numpy())
    np.testing.assert_allclose(model.coefs, oracle["coef"], rtol=1e-6)
    assert model.r2 == pytest.approx(oracle["r2"], rel=1e-6)


def test_summary_p_values(simple_reg):
    df, X, y = simple_reg
    s = LM.fit(df, y_col="y", x_cols=["intercept", "x"]).summary()
    # slope of a strong linear signal: p ~ 0; intercept p in (0,1)
    assert s.p_vals[1] < 1e-20
    assert 0 <= s.p_vals[0] <= 1
    assert s.dfe == 48 and s.dfm == 1


# ---------------------------------------------------------------------------
# WLS (reference: utils.wlsSingle/wlsMultiple — SURVEY §2.11 M5/M6)
# ---------------------------------------------------------------------------


def test_wls_matches_numpy(spark):
    import numpy as np
    from sparkglm_spark.operators.lm import wls

    rng = np.random.default_rng(21)
    n = 250
    x = rng.normal(0, 1, n)
    w = rng.uniform(0.5, 3.0, n)
    y = 2.0 - 0.7 * x + rng.normal(0, 1.0 / np.sqrt(w))
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(y, x, w)],
        "y double, x double, w double",
    ).repartition(4)
    model = wls(df, "y ~ x", weight_col="w")
    X = np.column_stack([np.ones(n), x])
    XtW = X.T * w
    xtwxi = np.linalg.inv(XtW @ X)
    beta = xtwxi @ (XtW @ y)
    np.testing.assert_allclose(model.coefs, beta, rtol=1e-9)
    resid = y - X @ beta
    sse = float(np.sum(w * resid**2))
    sig2 = sse / (n - 2)
    np.testing.assert_allclose(model.std_err, np.sqrt(sig2 * np.diag(xtwxi)), rtol=1e-8)
    ybar_w = float(np.sum(w * y) / np.sum(w))
    tss = float(np.sum(w * (y - ybar_w) ** 2))
    ess = float(np.sum(w * (X @ beta - ybar_w) ** 2))
    assert model.r2 == pytest.approx(ess / tss, rel=1e-8)
    assert model.nrow == n


def test_wls_unit_weights_equals_ols(lineitem):
    from pyspark.sql import functions as F
    from sparkglm_spark.operators.lm import lm, wls

    li = lineitem.withColumn("one", F.lit(1.0))
    a = lm(li, "l_extendedprice ~ l_quantity + l_discount")
    b = wls(li, "l_extendedprice ~ l_quantity + l_discount", weight_col="one")
    import numpy as np
    np.testing.assert_allclose(a.coefs, b.coefs, rtol=1e-12)
    assert a.r2 == pytest.approx(b.r2, rel=1e-10)


def test_model_persistence_roundtrip(lineitem, tmp_path):
    """save/load JSON round-trip preserves scoring behavior exactly."""
    import numpy as np
    from sparkglm_spark.operators.lm import lm
    from sparkglm_spark.persist import load_model, save_model

    m = lm(lineitem, "l_extendedprice ~ l_quantity + l_returnflag")
    p = str(tmp_path / "m.json")
    save_model(m, p)
    m2 = load_model(p)
    np.testing.assert_array_equal(m.coefs, m2.coefs)
    assert m.xnames == m2.xnames and m.levels == m2.levels
    a = m.predict(lineitem).select("prediction").limit(20).collect()
    b = m2.predict(lineitem).select("prediction").limit(20).collect()
    assert [r[0] for r in a] == [r[0] for r in b]


def test_glm_persistence_roundtrip(orders, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F
    from sparkglm_spark.operators.glm import glm
    from sparkglm_spark.persist import load_model, save_model

    od = orders.withColumn(
        "is_f", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
    )
    g = glm(od, "is_f ~ o_totalprice", family="binomial", link="logit")
    p = str(tmp_path / "g.json")
    save_model(g, p)
    g2 = load_model(p)
    np.testing.assert_array_equal(g.coefs, g2.coefs)
    assert (g2.family, g2.link, g2.iter) == (g.family, g.link, g.iter)
    assert g2.aic == g.aic


def test_lm_grouped_matches_per_group_numpy(spark, lineitem):
    """lm_grouped ≡ an independent numpy lstsq per segment (incl. a
    categorical predictor encoded with GLOBAL levels)."""
    import numpy as np
    from sparkglm_spark.operators.lm import lm_grouped

    out = (
        lm_grouped(
            lineitem, "l_extendedprice ~ l_quantity + l_linestatus", ["l_returnflag"]
        )
        .toPandas()
        .sort_values(["l_returnflag", "term"])
    )
    raw = lineitem.select(
        "l_returnflag", "l_extendedprice", "l_quantity", "l_linestatus"
    ).toPandas()
    assert set(out.l_returnflag) == set(raw.l_returnflag)
    for g, sub in raw.groupby("l_returnflag"):
        X = np.column_stack(
            [
                np.ones(len(sub)),
                (sub.l_linestatus == "O").astype(float),
                sub.l_quantity,
            ]
        )  # column order = sorted terms: intercept, l_linestatus_O, l_quantity
        y = sub.l_extendedprice.to_numpy()
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        mine = out[out.l_returnflag == g]
        np.testing.assert_allclose(mine.estimate.to_numpy(), beta, rtol=1e-6)
        resid = y - X @ beta
        r2 = 1.0 - resid @ resid / ((y - y.mean()) @ (y - y.mean()))
        assert mine.r2.iloc[0] == pytest.approx(r2, rel=1e-6)
        assert int(mine.n_rows.iloc[0]) == len(sub)


def test_lm_grouped_degenerate_group_yields_null(spark):
    """A group with fewer rows than features (or a singular design) gets
    NULL estimates instead of least-norm garbage."""
    from sparkglm_spark.operators.lm import lm_grouped

    rows = [
        ("a", 1.0, 2.0), ("a", 2.0, 3.5), ("a", 3.0, 5.0), ("a", 4.0, 6.1),
        ("b", 7.0, 9.0),  # 1 row < k=2
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = lm_grouped(df, "y ~ x", ["g"]).toPandas().sort_values(["g", "term"])
    a = out[out.g == "a"]
    assert a.estimate.notna().all()
    b = out[out.g == "b"]
    assert b.estimate.isna().all() and b.r2.isna().all()
    assert set(b.term) == {"intercept", "x"}


def test_lm_grouped_partition_invariance(spark, lineitem):
    import numpy as np
    from sparkglm_spark.operators.lm import lm_grouped

    f = "l_extendedprice ~ l_quantity"
    a = lm_grouped(lineitem.repartition(1), f, ["l_returnflag"]).toPandas()
    b = lm_grouped(lineitem.repartition(16), f, ["l_returnflag"]).toPandas()
    a = a.sort_values(["l_returnflag", "term"]).reset_index(drop=True)
    b = b.sort_values(["l_returnflag", "term"]).reset_index(drop=True)
    np.testing.assert_allclose(
        a.estimate.to_numpy(), b.estimate.to_numpy(), rtol=1e-9
    )


def test_lm_cross_validate_matches_numpy(spark, lineitem):
    """One-pass CV (Gram additivity) ≡ explicit per-fold refit + held-out
    scoring in numpy."""
    import numpy as np
    from pyspark.sql import functions as F
    from sparkglm_spark.operators.lm import lm_cross_validate

    got = (
        lm_cross_validate(
            lineitem,
            "l_extendedprice ~ l_quantity + l_discount",
            F.pmod(F.col("l_orderkey"), F.lit(3)),
            n_folds=3,
        )
        .toPandas()
        .sort_values("fold")
        .reset_index(drop=True)
    )
    raw = lineitem.select(
        "l_orderkey", "l_extendedprice", "l_quantity", "l_discount"
    ).toPandas()
    fold = (raw.l_orderkey % 3).to_numpy()
    X = np.column_stack(
        [np.ones(len(raw)), raw.l_quantity.to_numpy(), raw.l_discount.to_numpy()]
    )
    y = raw.l_extendedprice.to_numpy()
    for f in range(3):
        tr, va = fold != f, fold == f
        beta, *_ = np.linalg.lstsq(X[tr], y[tr], rcond=None)
        pred_v = X[va] @ beta
        rmse_v = float(np.sqrt(np.mean((y[va] - pred_v) ** 2)))
        rmse_t = float(np.sqrt(np.mean((y[tr] - X[tr] @ beta) ** 2)))
        r2_v = 1.0 - ((y[va] - pred_v) ** 2).sum() / (
            (y[va] - y[va].mean()) ** 2
        ).sum()
        row = got[got.fold == f].iloc[0]
        assert row.n_train == tr.sum() and row.n_val == va.sum()
        assert row.rmse_val == pytest.approx(rmse_v, rel=1e-6)
        assert row.rmse_train == pytest.approx(rmse_t, rel=1e-6)
        assert row.r2_val == pytest.approx(r2_v, rel=1e-6, abs=1e-9)


def test_robust_standard_errors_match_numpy_sandwich(spark):
    """HC0-HC3 vs the direct numpy sandwich on heteroskedastic data, where
    they must DIFFER from the classical stdErr materially."""
    from sparkglm_spark.operators.lm import lm, robust_standard_errors

    rng = np.random.default_rng(17)
    n = 800
    x = rng.uniform(1, 10, n)
    y = 2.0 + 3.0 * x + rng.normal(0, 0.5 * x * x, n)  # variance grows with x
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    ).repartition(4)
    model = lm(df, "y ~ x")
    X = np.column_stack([np.ones(n), x])
    beta = np.asarray(model.coefs)
    e = y - X @ beta
    xtxi = np.linalg.inv(X.T @ X)
    h = np.einsum("ij,jk,ik->i", X, xtxi, X)
    for kind, u in (
        ("HC0", e**2),
        ("HC1", e**2 * n / (n - 2)),
        ("HC2", e**2 / (1 - h)),
        ("HC3", e**2 / (1 - h) ** 2),
    ):
        want = np.sqrt(np.diag(xtxi @ (X.T * u) @ X @ xtxi))
        got = robust_standard_errors(df, model, kind=kind)
        np.testing.assert_allclose(got, want, rtol=1e-9, err_msg=kind)
    # heteroskedastic data: robust and classical must genuinely differ
    hc1 = robust_standard_errors(df, model, kind="HC1")
    assert abs(hc1[1] - model.std_err[1]) / model.std_err[1] > 0.10
    with pytest.raises(ValueError, match="kind"):
        robust_standard_errors(df, model, kind="HC9")


def test_robust_se_works_on_raw_df_with_categoricals(lineitem):
    """The sandwich re-derives dummies from RAW columns like predict —
    no pre-encoding needed; homoskedastic-ish data keeps robust within a
    sane factor of classical."""
    from sparkglm_spark.operators.lm import lm, robust_standard_errors

    li = lineitem.select("l_extendedprice", "l_quantity", "l_returnflag").limit(3000)
    model = lm(li, "l_extendedprice ~ l_quantity + l_returnflag")
    se = robust_standard_errors(li, model, kind="HC1")
    assert se.shape == (len(model.xnames),)
    assert np.all(np.isfinite(se)) and np.all(se > 0)
    ratio = se / np.asarray(model.std_err)
    assert np.all(ratio > 0.2) and np.all(ratio < 5.0)


def test_predict_intervals_match_closed_form(spark):
    """Confidence/prediction intervals vs the simple-regression closed
    form se_fit² = σ²(1/n + (x−x̄)²/Sxx); bounds use the t quantile."""
    from sparkglm_spark.functions.special import t_ppf
    from sparkglm_spark.operators.lm import lm

    rng = np.random.default_rng(23)
    n = 300
    x = rng.uniform(0, 10, n)
    y = 1.5 + 2.0 * x + rng.normal(0, 1.2, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    model = lm(df, "y ~ x")
    got = {
        r["x"]: (r["prediction"], r["se_fit"], r["lo"], r["hi"])
        for r in model.predict(df, interval="confidence").limit(2000).collect()
    }
    s2 = model.sigma**2
    xbar, sxx = x.mean(), float(np.sum((x - x.mean()) ** 2))
    tq = t_ppf(0.975, n - 2)
    for xi in list(got)[:25]:
        pred, se, lo, hi = got[xi]
        want_se = np.sqrt(s2 * (1.0 / n + (xi - xbar) ** 2 / sxx))
        assert se == pytest.approx(want_se, rel=1e-9)
        assert lo == pytest.approx(pred - tq * se, rel=1e-12)
        assert hi == pytest.approx(pred + tq * se, rel=1e-12)
    # prediction interval: variance widened by σ²
    gp = {
        r["x"]: r["se_fit"]
        for r in model.predict(df, interval="prediction").limit(2000).collect()
    }
    for xi in list(got)[:10]:
        assert gp[xi] == pytest.approx(
            np.sqrt(got[xi][1] ** 2 + s2), rel=1e-9
        )
    # ~95% of training rows inside their own prediction interval
    inside = sum(
        1
        for r in model.predict(df, interval="prediction").collect()
        if r["lo"] <= r[model.yname] <= r["hi"]
    )
    assert inside / n > 0.9
    with pytest.raises(ValueError, match="interval"):
        model.predict(df, interval="nope")


def test_intervals_survive_persist_round_trip(spark, tmp_path):
    from sparkglm_spark import lm, load_model, save_model

    df = spark.createDataFrame(
        [(float(i), float(2 * i + 1)) for i in range(50)], "x double, y double"
    )
    model = lm(df, "y ~ x")
    p = str(tmp_path / "m.json")
    save_model(model, p)
    loaded = load_model(p)
    np.testing.assert_allclose(loaded.cov_params, model.cov_params, rtol=0)
    a = [(r["se_fit"], r["lo"]) for r in model.predict(df, interval="confidence").limit(5).collect()]
    b = [(r["se_fit"], r["lo"]) for r in loaded.predict(df, interval="confidence").limit(5).collect()]
    assert a == b


def test_influence_diagnostics_match_numpy_hat_matrix(simple_reg):
    """leverage/std/studentized residuals, Cook's D and DFFITS against the
    dense hat-matrix closed forms on the 50-row fixture."""
    from sparkglm_spark.operators.lm import influence_diagnostics

    df, X, y = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    got = (
        influence_diagnostics(df, model)
        .orderBy("x")
        .select("leverage", "std_resid", "student_resid", "cooks_d", "dffits")
        .collect()
    )
    n, k = X.shape
    xtxi = np.linalg.inv(X.T @ X)
    H = X @ xtxi @ X.T
    h = np.diag(H)
    e = y - X @ np.linalg.lstsq(X, y, rcond=None)[0]
    sig = np.sqrt(float(e @ e) / (n - k))
    r = e / (sig * np.sqrt(1.0 - h))
    t = r * np.sqrt((n - k - 1) / (n - k - r * r))
    cooks = r * r * h / (k * (1.0 - h))
    dffits = t * np.sqrt(h / (1.0 - h))
    order = np.argsort(X[:, 1])
    np.testing.assert_allclose([row.leverage for row in got], h[order], rtol=1e-8)
    np.testing.assert_allclose([row.std_resid for row in got], r[order], rtol=1e-7)
    np.testing.assert_allclose(
        [row.student_resid for row in got], t[order], rtol=1e-7
    )
    np.testing.assert_allclose([row.cooks_d for row in got], cooks[order], rtol=1e-7)
    np.testing.assert_allclose([row.dffits for row in got], dffits[order], rtol=1e-7)
    # Σ hᵢ = k on the training data — the trace-of-hat identity
    assert sum(row.leverage for row in got) == pytest.approx(k, rel=1e-9)


def test_influence_diagnostics_single_projection_no_exchange(simple_reg):
    """The whole diagnostic set is one codegen projection — no exchange
    anywhere in the plan (the operator's own 100 TB claim)."""
    from sparkglm_spark.operators.lm import influence_diagnostics
    from sparkglm_spark.plans.inspect import exchange_schemas

    df, _, _ = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    assert exchange_schemas(influence_diagnostics(df, model)) == []


def test_influence_diagnostics_guards(simple_reg):
    from sparkglm_spark.operators.lm import influence_diagnostics

    df, _, _ = simple_reg
    model = LM.fit(df, y_col="y", x_cols=["intercept", "x"])
    import dataclasses

    stale = dataclasses.replace(model, cov_params=None)
    with pytest.raises(ValueError, match="cov_params"):
        influence_diagnostics(df, stale)


def test_anova_lm_matches_numpy_f_test(lineitem):
    """Nested F-test against the dense closed form on collected data."""
    from sparkglm_spark.functions.special import f_sf
    from sparkglm_spark.operators.lm import anova_lm, lm

    reduced = lm(lineitem, "l_extendedprice ~ l_quantity")
    full = lm(lineitem, "l_extendedprice ~ l_quantity + l_discount + l_tax")
    out = anova_lm(reduced, full)
    pdf = lineitem.select(
        "l_extendedprice", "l_quantity", "l_discount", "l_tax"
    ).toPandas()
    y = pdf["l_extendedprice"].to_numpy(dtype=float)
    n = len(y)
    Xr = np.column_stack([np.ones(n), pdf["l_quantity"].to_numpy(dtype=float)])
    Xf = np.column_stack(
        [Xr, pdf["l_discount"].to_numpy(dtype=float), pdf["l_tax"].to_numpy(dtype=float)]
    )

    def sse(X):
        b = np.linalg.lstsq(X, y, rcond=None)[0]
        e = y - X @ b
        return float(e @ e)

    sse_r, sse_f = sse(Xr), sse(Xf)
    f_ref = ((sse_r - sse_f) / 2.0) / (sse_f / (n - 4))
    assert out["f_stat"] == pytest.approx(f_ref, rel=1e-6)
    assert out["p_value"] == pytest.approx(f_sf(f_ref, 2.0, float(n - 4)), rel=1e-6)
    assert out["df_num"] == 2.0 and out["df_den"] == float(n - 4)


def test_anova_lm_rejects_non_nested(lineitem):
    from sparkglm_spark.operators.lm import anova_lm, lm

    a = lm(lineitem, "l_extendedprice ~ l_quantity")
    b = lm(lineitem, "l_extendedprice ~ l_discount")
    with pytest.raises(ValueError, match="subset"):
        anova_lm(a, b)
    with pytest.raises(ValueError, match="subset"):
        anova_lm(a, a)


def test_huber_lm_downweights_outliers(spark):
    """Huber IRLS vs a numpy twin on a line with planted gross outliers:
    the twin must match exactly (same trajectory), and the robust fit must
    sit far closer to the clean truth than OLS does."""
    from sparkglm_spark.operators.lm import huber_lm, lm

    rng = np.random.default_rng(29)
    x = np.linspace(0, 10, 200)
    y = 4.0 + 1.5 * x + rng.normal(0, 0.5, 200)
    y[::20] += 80.0  # 10 gross outliers
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    ).repartition(7)

    model = huber_lm(df, "y ~ x", c=1.345, exact_iterations=5)

    # numpy twin of the exact trajectory
    X = np.column_stack([np.ones(200), x])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    for _ in range(5):
        e = y - X @ beta
        s = np.quantile(np.abs(e), 0.5) / 0.6745
        cs = 1.345 * s
        w = np.where(np.abs(e) <= cs, 1.0, cs / np.abs(e))
        beta = np.linalg.solve((X * w[:, None]).T @ X, (X * w[:, None]).T @ y)
    np.testing.assert_allclose(model.coefs, beta, rtol=1e-7)
    assert model.scale == pytest.approx(s, rel=1e-7)

    ols = lm(df, "y ~ x")
    truth = np.array([4.0, 1.5])
    assert np.abs(model.coefs - truth).max() < 0.2
    assert np.abs(ols.coefs - truth).max() > 1.0  # OLS dragged by outliers

    scored = model.predict(df)
    assert scored.columns == ["x", "y", "prediction"]


def test_huber_lm_converges_and_large_c_matches_ols(lineitem):
    from sparkglm_spark.operators.lm import huber_lm, lm

    robust = huber_lm(lineitem, "l_extendedprice ~ l_quantity", c=1e9)
    ols = lm(lineitem, "l_extendedprice ~ l_quantity")
    # with c -> inf every weight is 1: the first reweighted solve IS OLS
    np.testing.assert_allclose(robust.coefs, ols.coefs, rtol=1e-9)
    assert robust.converged

    small = huber_lm(lineitem, "l_extendedprice ~ l_quantity", c=1.345)
    assert small.converged and small.iter <= 30
    with pytest.raises(ValueError, match="c must be"):
        huber_lm(lineitem, "l_extendedprice ~ l_quantity", c=0.0)

def test_huber_lm_approx_median_agrees_with_exact(spark):
    """The approx_percentile median mode must land on the same fit (the
    sketch's rank error at accuracy=10000 is far below what Huber's
    continuous ψ reacts to)."""
    from sparkglm_spark.operators.lm import huber_lm

    rng = np.random.default_rng(43)
    x = np.linspace(0, 10, 500)
    y = 2.0 + 0.7 * x + rng.normal(0, 0.8, 500)
    y[::25] -= 60.0
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    ).repartition(5)

    exact = huber_lm(df, "y ~ x", exact_iterations=4, median_mode="exact")
    approx = huber_lm(
        df, "y ~ x", exact_iterations=4, median_mode="approx", accuracy=10000
    )
    np.testing.assert_allclose(approx.coefs, exact.coefs, rtol=1e-3)
    assert approx.scale == pytest.approx(exact.scale, rel=1e-2)
    # auto at small n = exact (the oracle-replay default)
    auto = huber_lm(df, "y ~ x", exact_iterations=4)
    np.testing.assert_allclose(auto.coefs, exact.coefs, rtol=0, atol=0)

    with pytest.raises(ValueError, match="median_mode"):
        huber_lm(df, "y ~ x", median_mode="sketchy")
    with pytest.raises(ValueError, match="accuracy"):
        huber_lm(df, "y ~ x", median_mode="approx", accuracy=0)


def test_lm_fit_flavor_guards(lineitem):
    """WLS/ridge fits must refuse the OLS-only downstream paths instead of
    silently returning numbers whose (X'X)^-1 assumptions don't hold."""
    from sparkglm_spark.operators.lm import (
        influence_diagnostics,
        lm,
        ridge,
        robust_standard_errors,
        wls,
    )

    li = lineitem.withColumn("w", (F.col("l_quantity") + F.lit(1.0)))
    w_model = wls(li, "l_extendedprice ~ l_quantity", weight_col="w")
    assert w_model.weighted and w_model.l2_penalty == 0.0
    r_model = ridge(lineitem, "l_extendedprice ~ l_quantity", l2=10.0)
    assert not r_model.weighted and r_model.l2_penalty == 10.0
    o_model = lm(lineitem, "l_extendedprice ~ l_quantity")
    assert not o_model.weighted and o_model.l2_penalty == 0.0

    with pytest.raises(ValueError, match="unweighted, unpenalized"):
        influence_diagnostics(li, w_model)
    with pytest.raises(ValueError, match="unweighted, unpenalized"):
        influence_diagnostics(lineitem, r_model)
    with pytest.raises(ValueError, match="unweighted, unpenalized"):
        robust_standard_errors(li, w_model)
    with pytest.raises(ValueError, match="unweighted, unpenalized"):
        robust_standard_errors(lineitem, r_model)
    with pytest.raises(ValueError, match="ridge"):
        r_model.predict(lineitem, interval="confidence")
    with pytest.raises(ValueError, match="prediction intervals"):
        w_model.predict(li, interval="prediction")
    # WLS confidence intervals stay valid: cov_params IS sigma^2 (X'WX)^-1
    out = w_model.predict(li, interval="confidence")
    assert {"se_fit", "lo", "hi"} <= set(out.columns)
    # OLS path unaffected
    assert "cooks_d" in influence_diagnostics(lineitem, o_model).columns


def test_lm_flavor_flags_round_trip(lineitem, tmp_path):
    from sparkglm_spark.operators.lm import influence_diagnostics, wls
    from sparkglm_spark.persist import load_model, model_from_dict, save_model

    li = lineitem.withColumn("w", (F.col("l_quantity") + F.lit(1.0)))
    w_model = wls(li, "l_extendedprice ~ l_quantity", weight_col="w")
    p = str(tmp_path / "wls.json")
    save_model(w_model, p)
    back = load_model(p)
    assert back.weighted and back.l2_penalty == 0.0
    with pytest.raises(ValueError, match="unweighted, unpenalized"):
        influence_diagnostics(li, back)
    # pre-flag file (no flavor keys): the call-string prefix still marks it
    import json

    with open(p) as f:
        doc = json.load(f)
    doc.pop("weighted"), doc.pop("l2_penalty")
    legacy = model_from_dict(doc)
    assert legacy.weighted  # call starts with "wls("

def test_quantile_lm_recovers_conditional_quantiles(spark):
    """Heteroskedastic line: y = 2 + x + (1 + 0.5x)·eps. The conditional
    q-quantile is 2 + x + (1+0.5x)·z_q — so the quantile-regression slope
    must move with q (0.5 slope gap between q=.1 and q=.9 per unit z
    spread), and the residual sign fraction must match q."""
    from sparkglm_spark.operators.lm import quantile_lm

    rng = np.random.default_rng(11)
    n = 4000
    x = rng.uniform(0, 10, n)
    eps = rng.normal(0, 1, n)
    y = 2.0 + 1.0 * x + (1.0 + 0.5 * x) * eps
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    ).repartition(7)

    z = {0.1: -1.2815515655, 0.5: 0.0, 0.9: 1.2815515655}
    models = {}
    for q in (0.1, 0.5, 0.9):
        m = quantile_lm(df, "y ~ x", q=q)
        models[q] = m
        # truth: intercept 2 + z_q, slope 1 + 0.5 z_q
        assert m.coefs[0] == pytest.approx(2.0 + z[q], abs=0.35), q
        assert m.coefs[1] == pytest.approx(1.0 + 0.5 * z[q], abs=0.12), q
        # the defining property: P(y < fit) ~= q on the training data
        frac = (
            m.predict(df)
            .select(F.avg((F.col("y") < F.col("prediction")).cast("double")).alias("f"))
            .collect()[0]["f"]
        )
        assert frac == pytest.approx(q, abs=0.02), q
    # slopes are ordered in q under this increasing-spread design
    assert models[0.1].coefs[1] < models[0.5].coefs[1] < models[0.9].coefs[1]


def test_quantile_lm_matches_numpy_trajectory_and_guards(spark):
    from sparkglm_spark.operators.lm import quantile_lm

    rng = np.random.default_rng(3)
    x = np.linspace(0, 5, 300)
    y = 1.0 + 2.0 * x + rng.standard_t(3, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    m = quantile_lm(df, "y ~ x", q=0.5, exact_iterations=4, delta=1e-4)

    X = np.column_stack([np.ones(300), x])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    for _ in range(4):
        e = y - X @ beta
        w = np.where(e < 0, 0.5, 0.5) / np.maximum(np.abs(e), 1e-4)
        beta = np.linalg.solve((X * w[:, None]).T @ X, (X * w[:, None]).T @ y)
    np.testing.assert_allclose(m.coefs, beta, rtol=1e-7)
    assert m.iter == 4 and m.converged

    with pytest.raises(ValueError, match="q must be"):
        quantile_lm(df, "y ~ x", q=1.0)
    with pytest.raises(ValueError, match="delta"):
        quantile_lm(df, "y ~ x", delta=0.0)


def test_grouped_robust_fitters_match_per_group(spark):
    """huber_lm_grouped / quantile_lm_grouped (VERDICT r8 #6): each
    group's numpy twin must land on the same fit as the distributed
    fitter run on that slice alone; degenerate groups (n < k) emit NULL
    estimates; a group missing a categorical level still shares the
    GLOBAL design columns."""
    import numpy as np

    from sparkglm_spark.operators.lm import (
        huber_lm,
        huber_lm_grouped,
        quantile_lm,
        quantile_lm_grouped,
    )

    rng = np.random.default_rng(11)
    rows = []
    for g, (b0, b1) in (("a", (2.0, 1.5)), ("b", (-1.0, 3.0))):
        for i in range(120):
            x = float(rng.normal())
            noise = float(rng.standard_t(3))  # heavy tails: robust fits differ from OLS
            rows.append((g, x, "u" if i % 3 else "v", b0 + b1 * x + noise))
    # group c never sees level v: all-zero global dummy -> singular Gram
    for i in range(30):
        rows.append(("c", float(i), "u", float(i)))
    rows.append(("tiny", 1.0, "u", 5.0))  # n=1 < k -> degenerate
    df = spark.createDataFrame(rows, "g string, x double, cat string, y double")

    hg = huber_lm_grouped(df, "y ~ x + cat", ["g"], exact_iterations=4)
    hout = {(r.g, r.term): r for r in hg.collect()}
    qg = quantile_lm_grouped(
        df, "y ~ x + cat", ["g"], q=0.5, delta=0.01, exact_iterations=5
    )
    qout = {(r.g, r.term): r for r in qg.collect()}
    for g in ("a", "b"):
        sl = df.where(F.col("g") == g)
        hm = huber_lm(sl, "y ~ x + cat", exact_iterations=4)
        qm = quantile_lm(sl, "y ~ x + cat", delta=0.01, exact_iterations=5)
        for i, t in enumerate(hm.xnames):
            assert hout[(g, t)].estimate == pytest.approx(
                float(hm.coefs[i]), rel=1e-7, abs=1e-9
            ), (g, t)
            assert qout[(g, t)].estimate == pytest.approx(
                float(qm.coefs[i]), rel=1e-7, abs=1e-9
            ), (g, t)
        assert hout[(g, "x")].scale == pytest.approx(hm.scale, rel=1e-7)
        assert qout[(g, "x")].delta == pytest.approx(0.01)
        assert hout[(g, "x")].converged and qout[(g, "x")].converged
    # group c never saw level v: the GLOBAL design keeps the cat_v
    # column, all-zero within the group -> singular Gram -> the whole
    # group reports degenerate NULLs (no silent least-norm fit)
    assert hout[("c", "cat_v")].estimate is None
    assert hout[("c", "x")].estimate is None
    assert hout[("b", "cat_v")].estimate is not None
    assert hout[("tiny", "x")].estimate is None
    assert not hout[("tiny", "x")].converged
    assert qout[("tiny", "x")].estimate is None
    with pytest.raises(ValueError, match="group_cols"):
        huber_lm_grouped(df, "y ~ x", [])
    with pytest.raises(ValueError, match="q must"):
        quantile_lm_grouped(df, "y ~ x", ["g"], q=1.5)


def test_grouped_predict_matches_per_group_models(spark):
    """grouped_predict: each row scored with its own segment's
    coefficients must equal the per-group LM fit's prediction; dummy
    terms rebuild from term names; degenerate and unseen groups score
    NULL; link='logit' maps through the sigmoid."""
    import math

    import numpy as np

    from sparkglm_spark.operators.glm import glm_grouped
    from sparkglm_spark.operators.lm import grouped_predict, lm, lm_grouped

    rng = np.random.default_rng(5)
    rows = []
    for g in ("a", "b"):
        for i in range(80):
            x = float(rng.normal())
            cat = "u" if i % 3 else "v"
            y = (2.0 if g == "a" else -1.0) + 1.5 * x + (0.7 if cat == "v" else 0.0)
            rows.append((g, x, cat, y + float(rng.normal(0, 0.1))))
    rows.append(("tiny", 1.0, "u", 5.0))  # degenerate fit -> NULL coefs
    df = spark.createDataFrame(rows, "g string, x double, cat string, y double")
    fits = lm_grouped(df, "y ~ x + cat", ["g"])
    score_in = df.unionByName(
        spark.createDataFrame([("ghost", 1.0, "u", 0.0)], df.schema)
    )
    scored = grouped_predict(score_in, fits, "y ~ x + cat", ["g"])
    assert scored.columns == score_in.columns + ["prediction"]
    got = scored.collect()
    models = {
        g: lm(df.where(F.col("g") == g), "y ~ x + cat") for g in ("a", "b")
    }
    for r in got:
        if r.g in models:
            m = models[r.g]
            want = sum(
                float(b) * (1.0 if t == "intercept"
                            else r.x if t == "x"
                            else float(r.cat == t.split("_", 1)[1]))
                for t, b in zip(m.xnames, m.coefs)
            )
            assert r.prediction == pytest.approx(want, rel=1e-9), r.g
        else:  # 'tiny' (degenerate) and 'ghost' (no fit row)
            assert r.prediction is None, r.g

    # GLM logit: grouped_predict(link='logit') == sigmoid of the segment
    # eta. Label must NOT be a deterministic function of x alone —
    # perfect separation diverges the logistic fit (the r8 ANSI trap);
    # flipping on a hash of the row index keeps the fit finite.
    ydf = df.where(F.col("g") != "tiny").withColumn(
        "yb",
        ((F.col("x") > 0) != (F.abs(F.hash("y")) % 5 == 0)).cast("double"),
    )
    gfits = glm_grouped(ydf, "yb ~ x", ["g"], family="binomial")
    coefs = {
        (r.g, r.term): r.estimate for r in gfits.collect() if r.estimate is not None
    }
    gs = grouped_predict(ydf, gfits, "yb ~ x", ["g"], link="logit").collect()
    for r in gs[:20]:
        eta = coefs[(r.g, "intercept")] + coefs[(r.g, "x")] * r.x
        assert r.prediction == pytest.approx(1.0 / (1.0 + math.exp(-eta)), rel=1e-9)

    with pytest.raises(ValueError, match="neither a column"):
        grouped_predict(score_in.drop("cat"), fits, "y ~ x", ["g"])


def test_grouped_predict_edges(spark):
    """Second-review r9: an existing output column is REPLACED (no
    ambiguous duplicate), and an empty fits frame raises a clear error."""
    from sparkglm_spark.operators.lm import grouped_predict, lm_grouped

    df = spark.createDataFrame(
        [("a", float(i), 2.0 * i + 1.0) for i in range(20)],
        "g string, x double, y double",
    )
    fits = lm_grouped(df, "y ~ x", ["g"])
    pre = df.withColumn("prediction", F.lit(-1.0))
    out = grouped_predict(pre, fits, "y ~ x", ["g"])
    assert out.columns.count("prediction") == 1
    assert all(r.prediction != -1.0 for r in out.collect())
    with pytest.raises(ValueError, match="empty"):
        grouped_predict(df, fits.where(F.col("term") == "nope"), "y ~ x", ["g"])


def _robust_weight_fixture(spark):
    rng = np.random.default_rng(31)
    rows = []
    for i in range(180):
        g = "a" if i % 2 == 0 else "b"
        x = float(rng.normal(0, 1))
        y = 2.0 + 1.5 * x + float(rng.normal(0, 0.5))
        if i % 19 == 0:
            y += 25.0  # outliers huber must resist
        w = float(1 + (i % 3))
        rows.append((g, y, x, w))
    df = spark.createDataFrame(rows, "g string, y double, x double, w double")
    rep_rows = [r for row in rows for r in [row[:3]] * int(row[3])]
    rep = spark.createDataFrame(rep_rows, "g string, y double, x double")
    return df, rep


def test_huber_weighted_replication_and_guards(spark):
    """r12 huber_lm(weight_col=): integer frequency weights equal
    physical replication for the whole trajectory (coefs + scale);
    unit weights equal unweighted exactly; non-integer weights and
    median_mode='approx' raise; the grouped twin matches the single
    fit per slice and NULLs a violating group."""
    from sparkglm_spark.operators.lm import huber_lm, huber_lm_grouped

    df, rep = _robust_weight_fixture(spark)
    m_w = huber_lm(df, "y ~ x", exact_iterations=3, weight_col="w")
    m_r = huber_lm(rep, "y ~ x", exact_iterations=3)
    assert float(m_w.coefs[0]) == pytest.approx(float(m_r.coefs[0]), rel=1e-9)
    assert float(m_w.coefs[1]) == pytest.approx(float(m_r.coefs[1]), rel=1e-9)
    assert m_w.scale == pytest.approx(m_r.scale, rel=1e-9)

    m_u = huber_lm(df, "y ~ x", exact_iterations=3)
    m_1 = huber_lm(
        df.withColumn("w", F.lit(1.0)), "y ~ x", exact_iterations=3,
        weight_col="w",
    )
    assert float(m_1.coefs[1]) == pytest.approx(float(m_u.coefs[1]), abs=1e-14)

    with pytest.raises(ValueError, match="INTEGER frequency"):
        huber_lm(df.withColumn("w", F.lit(1.5)), "y ~ x", weight_col="w")
    with pytest.raises(ValueError, match="approx"):
        huber_lm(df, "y ~ x", weight_col="w", median_mode="approx")

    out = {
        (r.g, r.term): r
        for r in huber_lm_grouped(
            df, "y ~ x", ["g"], exact_iterations=3, weight_col="w"
        ).collect()
    }
    for g in ("a", "b"):
        solo = huber_lm(
            df.where(F.col("g") == g), "y ~ x", exact_iterations=3,
            weight_col="w",
        )
        for i, t in enumerate(solo.xnames):
            assert out[(g, t)].estimate == pytest.approx(
                float(solo.coefs[i]), rel=1e-8
            ), (g, t)
        assert out[(g, "x")].scale == pytest.approx(solo.scale, rel=1e-8)
    # a group with non-integer weights -> NULL, sibling unaffected
    bad = df.withColumn(
        "w", F.when(F.col("g") == "b", 0.5).otherwise(F.col("w"))
    )
    outb = {
        (r.g, r.term): r
        for r in huber_lm_grouped(bad, "y ~ x", ["g"], weight_col="w").collect()
    }
    assert outb[("b", "x")].estimate is None
    assert outb[("a", "x")].estimate is not None
    # unweighted twin parity on one group
    one = df.where(F.col("g") == "a")
    got = {
        r.term: r
        for r in huber_lm_grouped(one, "y ~ x", ["g"], exact_iterations=2)
        .collect()
    }
    solo = huber_lm(one, "y ~ x", exact_iterations=2)
    for i, t in enumerate(solo.xnames):
        assert got[t].estimate == pytest.approx(
            float(solo.coefs[i]), rel=1e-9
        ), t
    assert got["x"].scale == pytest.approx(solo.scale, rel=1e-9)


def test_quantile_weighted_replication_and_grouped(spark):
    """r12 quantile_lm(weight_col=): integer case weights equal
    replication (coefs at fixed iterations); the grouped twin matches
    the single fit per slice; negative weights raise (single) /
    NULL-degrade (grouped)."""
    from sparkglm_spark.operators.lm import quantile_lm, quantile_lm_grouped

    df, rep = _robust_weight_fixture(spark)
    m_w = quantile_lm(df, "y ~ x", q=0.5, exact_iterations=4, weight_col="w")
    m_r = quantile_lm(rep, "y ~ x", q=0.5, exact_iterations=4)
    assert float(m_w.coefs[0]) == pytest.approx(float(m_r.coefs[0]), rel=1e-9)
    assert float(m_w.coefs[1]) == pytest.approx(float(m_r.coefs[1]), rel=1e-9)

    out = {
        (r.g, r.term): r
        for r in quantile_lm_grouped(
            df, "y ~ x", ["g"], q=0.7, exact_iterations=4, weight_col="w"
        ).collect()
    }
    for g in ("a", "b"):
        solo = quantile_lm(
            df.where(F.col("g") == g), "y ~ x", q=0.7, exact_iterations=4,
            weight_col="w",
        )
        for i, t in enumerate(solo.xnames):
            assert out[(g, t)].estimate == pytest.approx(
                float(solo.coefs[i]), rel=1e-8
            ), (g, t)

    with pytest.raises(ValueError, match="negative"):
        quantile_lm(
            df.withColumn("w", F.lit(-1.0)), "y ~ x", weight_col="w"
        )
    outb = {
        (r.g, r.term): r
        for r in quantile_lm_grouped(
            df.withColumn(
                "w", F.when(F.col("g") == "b", -1.0).otherwise(F.col("w"))
            ),
            "y ~ x", ["g"], weight_col="w",
        ).collect()
    }
    assert outb[("b", "x")].estimate is None
    # unweighted twin parity on one group (the delta probe runs per group)
    one = df.where(F.col("g") == "a")
    got = {
        r.term: r
        for r in quantile_lm_grouped(one, "y ~ x", ["g"], exact_iterations=2)
        .collect()
    }
    solo = quantile_lm(one, "y ~ x", exact_iterations=2)
    for i, t in enumerate(solo.xnames):
        assert got[t].estimate == pytest.approx(
            float(solo.coefs[i]), rel=1e-9
        ), t
    assert outb[("a", "x")].estimate is not None


def test_nan_weight_na_policy(spark):
    """r12 review: under the default na_action='omit' a NaN weight
    DROPS its row (Spark's na.drop treats NaN as missing) — the fit
    proceeds on the clean rows; under na_action='keep' the shared
    guard raises on the NaN."""
    from sparkglm_spark.operators.lm import quantile_lm

    rows = [(float(i), float(i) * 0.5, 1.0) for i in range(30)]
    rows.append((99.0, 1.0, float("nan")))
    df = spark.createDataFrame(rows, "y double, x double, w double")
    m = quantile_lm(df, "y ~ x", exact_iterations=2, weight_col="w")
    assert m.nrow == 30  # the NaN-weight row dropped with the NA policy
    with pytest.raises(ValueError, match="NaN"):
        quantile_lm(
            df, "y ~ x", exact_iterations=2, weight_col="w",
            na_action="keep",
        )
