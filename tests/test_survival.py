"""Cox proportional hazards vs a dense numpy twin (Breslow ties,
Newton from 0 — the R coxph trajectory)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkglm_spark.operators.survival import coxph


def numpy_cox(t, e, X, iters=None, tol=1e-9, max_iter=20):
    """Dense Breslow Newton twin."""
    n, k = X.shape
    beta = np.zeros(k)
    ll_prev = None
    n_done = 0
    for _ in range(iters if iters is not None else max_iter):
        w = np.exp(X @ beta)
        # suffix sums over sorted unique times
        order = np.argsort(-t, kind="mergesort")
        ts, es, Xs, ws = t[order], e[order], X[order], w[order]
        uniq = np.unique(t)[::-1]
        s0 = {}
        s1 = {}
        s2 = {}
        c0, c1, c2 = 0.0, np.zeros(k), np.zeros((k, k))
        idx = 0
        for ut in uniq:
            while idx < n and ts[idx] == ut:
                c0 += ws[idx]
                c1 = c1 + ws[idx] * Xs[idx]
                c2 = c2 + ws[idx] * np.outer(Xs[idx], Xs[idx])
                idx += 1
            s0[ut], s1[ut], s2[ut] = c0, c1.copy(), c2.copy()
        ll = 0.0
        grad = np.zeros(k)
        info = np.zeros((k, k))
        for i in range(n):
            if e[i] == 1:
                ll += X[i] @ beta - np.log(s0[t[i]])
                m = s1[t[i]] / s0[t[i]]
                grad += X[i] - m
                info += s2[t[i]] / s0[t[i]] - np.outer(m, m)
        beta = beta + np.linalg.solve(info, grad)
        n_done += 1
        if iters is None and ll_prev is not None and abs(ll - ll_prev) <= tol * (
            abs(ll) + tol
        ):
            break
        ll_prev = ll
    # final-state ll/info at the returned beta
    w = np.exp(X @ beta)
    uniq = np.unique(t)[::-1]
    order = np.argsort(-t, kind="mergesort")
    ts, ws, Xs = t[order], w[order], X[order]
    c0, c1, c2 = 0.0, np.zeros(k), np.zeros((k, k))
    s0, s1, s2 = {}, {}, {}
    idx = 0
    for ut in uniq:
        while idx < len(t) and ts[idx] == ut:
            c0 += ws[idx]
            c1 = c1 + ws[idx] * Xs[idx]
            c2 = c2 + ws[idx] * np.outer(Xs[idx], Xs[idx])
            idx += 1
        s0[ut], s1[ut], s2[ut] = c0, c1.copy(), c2.copy()
    ll = 0.0
    info = np.zeros((k, k))
    for i in range(len(t)):
        if e[i] == 1:
            ll += X[i] @ beta - np.log(s0[t[i]])
            m = s1[t[i]] / s0[t[i]]
            info += s2[t[i]] / s0[t[i]] - np.outer(m, m)
    return beta, ll, np.sqrt(np.diag(np.linalg.inv(info))), n_done


@pytest.fixture(scope="module")
def surv_data(spark):
    rng = np.random.default_rng(31)
    n = 400
    x1 = rng.normal(0, 1, n)
    x2 = (rng.random(n) < 0.5).astype(float)
    # exponential survival with hazard ∝ exp(0.8·x1 − 0.5·x2), rounded to
    # force TIES (Breslow handling must agree)
    t = np.round(rng.exponential(1.0 / np.exp(0.8 * x1 - 0.5 * x2)), 1) + 0.1
    cens = np.round(rng.exponential(2.0, n), 1) + 0.1
    e = (t <= cens).astype(float)
    time = np.minimum(t, cens)
    df = spark.createDataFrame(
        [
            (float(a), float(b), float(c), float(d))
            for a, b, c, d in zip(time, e, x1, x2)
        ],
        "time double, event double, x1 double, x2 double",
    ).repartition(7)
    return df, time, e, np.column_stack([x1, x2])


def test_coxph_matches_numpy_trajectory(surv_data):
    df, t, e, X = surv_data
    got = coxph(df, "time", "event", ["x1", "x2"], exact_iterations=4)
    beta, ll, se, _ = numpy_cox(t, e, X, iters=4)
    np.testing.assert_allclose(got.coefs, beta, rtol=1e-9)
    assert got.loglik == pytest.approx(ll, rel=1e-9)
    np.testing.assert_allclose(got.se, se, rtol=1e-8)
    assert got.n == len(t) and got.n_events == int(e.sum())
    # the fit must recover the planted signs and be in the ballpark
    assert 0.5 < got.coefs[0] < 1.1 and -0.8 < got.coefs[1] < -0.2


def test_coxph_converged_matches_numpy(surv_data):
    df, t, e, X = surv_data
    got = coxph(df, "time", "event", ["x1", "x2"])
    beta, ll, se, iters = numpy_cox(t, e, X)
    np.testing.assert_allclose(got.coefs, beta, rtol=1e-8)
    assert got.converged


def test_coxph_partition_invariance(surv_data):
    df, *_ = surv_data
    a = coxph(df.coalesce(1), "time", "event", ["x1"], exact_iterations=3)
    b = coxph(df.repartition(32), "time", "event", ["x1"], exact_iterations=3)
    assert a.coefs[0] == pytest.approx(b.coefs[0], rel=1e-12)


def test_coxph_predict_and_summary(surv_data):
    df, *_ = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"])
    scored = m.predict(df)
    assert scored.columns == df.columns + ["risk_score"]
    row = scored.limit(1).collect()[0]
    assert row.risk_score == pytest.approx(
        float(np.exp(m.coefs[0] * row.x1 + m.coefs[1] * row.x2)), rel=1e-12
    )
    rows = m.summary_rows()
    assert [r[0] for r in rows] == ["x1", "x2"]
    assert all(0 <= r[5] <= 1 for r in rows)
    # strong planted effects should be significant
    assert rows[0][5] < 1e-6


def test_coxph_guards(spark, surv_data):
    df, *_ = surv_data
    with pytest.raises(ValueError, match="0/1"):
        coxph(df.withColumn("event", F.lit(2.0)), "time", "event", ["x1"])
    with pytest.raises(ValueError, match="no events"):
        coxph(df.withColumn("event", F.lit(0.0)), "time", "event", ["x1"])
    with pytest.raises(ValueError, match="non-empty"):
        coxph(df, "time", "event", [])


def test_coxph_degenerate_information_raises(surv_data):
    """A covariate that is 0.0 on every row has exactly zero information:
    the shared Newton loop reports the degenerate fit."""
    df, *_ = surv_data
    with pytest.raises(ValueError, match="degenerate Cox fit"):
        coxph(df.withColumn("z", F.lit(0.0)), "time", "event", ["z"])


def test_coxph_constant_covariate_is_refused(orders):
    """A covariate constant over the rows leaves the Cox information at
    rounding noise rather than exactly singular, so the Newton loop used
    to return a garbage estimate. coxph now refuses it by name (from its
    validation aggregate's min/max), and coxph_grouped gives the NULL row
    for every group where the covariate is constant."""
    from sparkglm_spark.operators.survival import coxph_grouped

    cx = orders.select(
        (F.col("o_totalprice") / 1000.0).alias("t"),
        (F.col("o_orderpriority") < "3").cast("double").alias("ev"),
        (F.col("o_custkey") % 100 / 100.0).alias("x"),
        (F.col("o_orderkey") % 7).alias("g"),
        ((F.col("o_orderkey") % 7) / 7.0).alias("xc"),
    )
    with pytest.raises(ValueError, match="covariate 'xc' is constant"):
        coxph(cx.where(F.col("g") == 1), "t", "ev", ["x", "xc"])
    got = coxph_grouped(cx, "t", "ev", ["x", "xc"], ["g"]).collect()
    assert len(got) == 14
    assert all(r.estimate is None and r.se is None for r in got)
    # the covariate that varies within each group still fits
    ok = coxph_grouped(cx, "t", "ev", ["x"], ["g"]).collect()
    assert all(r.estimate is not None for r in ok)


def _brute_breslow_ll(start, stop, ev, w, X, beta):
    """Breslow partial loglik straight from its definition: each event
    row i against the (start, stop] risk set {j : start_j < t_i ≤ stop_j}."""
    eta = X @ beta
    ll = 0.0
    for i in np.flatnonzero(ev):
        risk = (start < stop[i]) & (stop[i] <= stop)
        ll += w[i] * (eta[i] - np.log((w[risk] * np.exp(eta[risk])).sum()))
    return ll


def test_breslow_sums_are_the_chain_rule():
    """`_cox_unpack(_breslow_sums(...))` on signed counting-process arms
    (tied times, entry arms, integer weights): ll equals the brute-force
    partial loglik, grad its central difference, info minus the central
    difference of grad."""
    from sparkglm_spark.operators.survival import _breslow_sums, _cox_unpack

    rng = np.random.default_rng(11)
    n, k = 120, 3
    X = rng.normal(0, 1, (n, k))
    start = np.round(rng.uniform(0, 1, n), 1)
    stop = start + np.round(rng.exponential(1.0, n), 1) + 0.1
    ev = (rng.random(n) < 0.7).astype(float)
    w = rng.integers(1, 4, n).astype(float)
    assert len(np.unique(stop)) < n  # tied exit times
    # exit arms (+1, event) and entry arms (−1, 0), as `_counting_arms`
    t = np.concatenate([stop, start])
    d = np.concatenate([ev, np.zeros(n)])
    sgn = np.repeat([1.0, -1.0], n)

    def stats(b):
        return _cox_unpack(
            _breslow_sums(t, d, sgn, np.tile(w, 2), np.vstack([X, X]), b, 0.0),
            b, k,
        )

    b0 = np.array([0.3, -0.2, 0.1])
    ll, grad, info = stats(b0)
    assert ll == pytest.approx(
        _brute_breslow_ll(start, stop, ev, w, X, b0), rel=1e-12
    )
    eye = np.eye(k)
    h = 1e-6
    fd_g = np.array([
        (_brute_breslow_ll(start, stop, ev, w, X, b0 + h * u)
         - _brute_breslow_ll(start, stop, ev, w, X, b0 - h * u)) / (2 * h)
        for u in eye
    ])
    np.testing.assert_allclose(grad, fd_g, rtol=1e-6,
                               atol=1e-6 * np.abs(fd_g).max())
    h = 1e-5
    fd_i = -np.array([
        (stats(b0 + h * u)[1] - stats(b0 - h * u)[1]) / (2 * h) for u in eye
    ])
    np.testing.assert_allclose(info, fd_i, rtol=1e-6,
                               atol=1e-6 * np.abs(fd_i).max())


def _km_numpy(t, e):
    """dict time -> (n_at_risk, d, survival) at event times."""
    out = {}
    surv = 1.0
    for ut in np.unique(t):
        at_risk = int((t >= ut).sum())
        d = int(e[t == ut].sum())
        if d > 0:
            surv *= 1.0 - d / at_risk
            out[float(ut)] = (at_risk, d, surv)
    return out


def test_kaplan_meier_matches_numpy(surv_data):
    from sparkglm_spark.operators.survival import kaplan_meier

    df, t, e, X = surv_data
    got = kaplan_meier(df, "time", "event").collect()
    want = _km_numpy(t, e)
    assert len(got) == len(want)
    for r in got:
        n_r, d, s = want[r.time]
        assert r.n_at_risk == n_r and r.n_events == d, r.time
        assert r.survival == pytest.approx(s, rel=1e-10), r.time
    # survival is non-increasing
    vals = [r.survival for r in got]
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))


def test_kaplan_meier_grouped(surv_data):
    from sparkglm_spark.operators.survival import kaplan_meier

    df, t, e, X = surv_data
    grp = df.withColumn("g", (F.col("x2") > 0.5).cast("int"))
    got = kaplan_meier(grp, "time", "event", group_col="g").collect()
    for gval in (0, 1):
        sel = X[:, 1].astype(int) == gval
        want = _km_numpy(t[sel], e[sel])
        rows = [r for r in got if r.g == gval]
        assert len(rows) == len(want)
        for r in rows:
            n_r, d, s = want[r.time]
            assert (r.n_at_risk, r.n_events) == (n_r, d)
            assert r.survival == pytest.approx(s, rel=1e-10)


def test_kaplan_meier_all_die_hits_zero(spark):
    from sparkglm_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0)], "time double, event double"
    )
    rows = kaplan_meier(df, "time", "event").collect()
    assert rows[-1].survival == 0.0
    assert rows[0].survival == pytest.approx(2.0 / 3.0)


def test_logrank_matches_numpy(surv_data):
    from sparkglm_spark.operators.survival import logrank_test

    df, t, e, X = surv_data
    grp = df.withColumn("g", (F.col("x2") > 0.5).cast("int"))
    out = logrank_test(grp, "time", "event", "g")
    # dense twin
    ga = X[:, 1].astype(int) == 0
    oe, v = 0.0, 0.0
    for ut in np.unique(t):
        at = t >= ut
        n = at.sum()
        na = (at & ga).sum()
        d = e[t == ut].sum()
        da = e[(t == ut) & ga].sum()
        if d > 0:
            oe += da - d * na / n
            if n > 1:
                v += d * (na / n) * (1 - na / n) * (n - d) / (n - 1)
    assert out["observed_minus_expected_a"] == pytest.approx(oe, rel=1e-9)
    assert out["variance"] == pytest.approx(v, rel=1e-9)
    assert out["chi2"] == pytest.approx(oe * oe / v, rel=1e-9)
    # x2 has a real planted effect (−0.5 log-hazard) — should be seen
    assert out["p_value"] < 0.05
    with pytest.raises(ValueError, match="exactly 2"):
        logrank_test(df.withColumn("g", F.lit(1)), "time", "event", "g")

def _numpy_breslow(t, e, X, beta):
    """dict event_time -> (d, s0, hazard, cum_hazard) — Breslow H0 twin."""
    w = np.exp(X @ beta)
    out = {}
    H = 0.0
    for ut in np.unique(t):
        at = t >= ut
        d = float(e[t == ut].sum())
        if d > 0:
            s0 = float(w[at].sum())
            h = d / s0
            H += h
            out[float(ut)] = (d, s0, h, H)
    return out


def test_coxph_baseline_hazard_matches_numpy(surv_data):
    df, t, e, X = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"], exact_iterations=4)
    got = m.baseline_hazard(df).collect()
    want = _numpy_breslow(t, e, X, m.coefs)
    assert len(got) == len(want)
    for r in got:
        d, s0, h, H = want[r.time]
        assert r.n_events == int(d), r.time
        assert r.s0 == pytest.approx(s0, rel=1e-9)
        assert r.hazard == pytest.approx(h, rel=1e-9)
        assert r.cum_hazard == pytest.approx(H, rel=1e-9)
        assert r.baseline_survival == pytest.approx(np.exp(-H), rel=1e-9)
    # cum_hazard is non-decreasing in time (rows come back ordered)
    cums = [r.cum_hazard for r in got]
    assert all(a <= b + 1e-12 for a, b in zip(cums, cums[1:]))


def test_coxph_predict_survival_matches_numpy(surv_data):
    df, t, e, X = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"], exact_iterations=4)
    horizons = [0.05, 0.5, 2.0, 1e9]   # before first event / interior / tail
    scored = m.predict_survival(df, horizons, train_df=df)
    cols = [c for c in scored.columns if c.startswith("surv_")]
    assert len(cols) == 4 and scored.columns[: len(df.columns)] == df.columns
    bres = _numpy_breslow(t, e, X, m.coefs)
    ets = sorted(bres)

    def H0(h):
        past = [bres[u][3] for u in ets if u <= h]
        return past[-1] if past else 0.0

    rows = scored.limit(50).collect()
    for r in rows:
        risk = float(np.exp(m.coefs[0] * r.x1 + m.coefs[1] * r.x2))
        for h, c in zip(horizons, cols):
            assert getattr(r, c) == pytest.approx(
                float(np.exp(-H0(h) * risk)), rel=1e-9
            ), (h, c)
    # horizon before any event -> survival exactly 1
    assert all(r[cols[0]] == pytest.approx(1.0) for r in rows)
    # survival is non-increasing across horizons for every subject
    for r in rows:
        vals = [getattr(r, c) for c in cols]
        assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))
    # precomputed-baseline path gives identical numbers
    base = m.baseline_hazard(df)
    again = m.predict_survival(df, [2.0], baseline=base).collect()
    ref = {r.x1: r.surv_2 for r in scored.select("x1", "surv_2").collect()}
    for r in again:
        assert r.surv_2 == pytest.approx(ref[r.x1], rel=0)
    with pytest.raises(ValueError, match="train_df or"):
        m.predict_survival(df, [1.0])
    with pytest.raises(ValueError, match="non-empty"):
        m.predict_survival(df, [], train_df=df)


def test_coxph_null_baseline_is_nelson_aalen_and_tracks_km(surv_data):
    """At beta = 0 (exact_iterations=0 -> no Newton step) the Breslow
    baseline is exactly the Nelson-Aalen estimator, and exp(-H) must
    track the KM product-limit curve closely on moderate risk sets."""
    from sparkglm_spark.operators.survival import kaplan_meier

    df, t, e, X = surv_data
    m0 = coxph(df, "time", "event", ["x1"], exact_iterations=0)
    assert np.all(m0.coefs == 0.0)
    base = {r.time: r for r in m0.baseline_hazard(df).collect()}
    km = kaplan_meier(df, "time", "event").collect()
    H = 0.0
    for r in km:
        H += r.n_events / r.n_at_risk  # Nelson-Aalen increment d/n
        b = base[r.time]
        assert b.s0 == pytest.approx(float(r.n_at_risk), rel=1e-12)
        assert b.cum_hazard == pytest.approx(H, rel=1e-12)
        # exp(-NA) vs KM: agree to ~d/n^2 per step on these risk sets
        assert abs(b.baseline_survival - r.survival) < 0.02


def test_survival_time_bucket(surv_data):
    """Micro-jittered times bucketed back to the original grid must
    reproduce the unjittered fit; the bucketed distinct-time count drops."""
    from sparkglm_spark.operators.survival import kaplan_meier, logrank_test

    df, t, e, X = surv_data
    # integer time grid (float-safe bucketing: floor((k + eps)/1) == k),
    # micro-jitter strictly inside each unit bucket
    base_df = df.withColumn("time", F.round(F.col("time") * 10.0).cast("double"))
    jit = base_df.withColumn(
        "time",
        F.col("time") + F.pmod(F.xxhash64("x1"), F.lit(1000)).cast("double") / 2e3,
    )
    ref = coxph(base_df, "time", "event", ["x1", "x2"], exact_iterations=3)
    got = coxph(jit, "time", "event", ["x1", "x2"], exact_iterations=3,
                time_bucket=1.0)
    np.testing.assert_allclose(got.coefs, ref.coefs, rtol=1e-12)
    assert got.time_bucket == 1.0
    # baseline re-applies the model's bucketing: same event-time grid
    bt = [r.time for r in got.baseline_hazard(jit).collect()]
    rt = [r.time for r in ref.baseline_hazard(base_df).collect()]
    np.testing.assert_allclose(bt, rt, rtol=1e-12)

    km_j = kaplan_meier(jit, "time", "event", time_bucket=1.0).collect()
    km_r = kaplan_meier(base_df, "time", "event").collect()
    assert len(km_j) == len(km_r)
    for a, b in zip(km_j, km_r):
        assert a.n_at_risk == b.n_at_risk and a.n_events == b.n_events
        assert a.survival == pytest.approx(b.survival, rel=1e-12)

    grp = base_df.withColumn("g", (F.col("x2") > 0.5).cast("int"))
    grp_j = jit.withColumn("g", (F.col("x2") > 0.5).cast("int"))
    lr_r = logrank_test(grp, "time", "event", "g")
    lr_j = logrank_test(grp_j, "time", "event", "g", time_bucket=1.0)
    assert lr_j["chi2"] == pytest.approx(lr_r["chi2"], rel=1e-12)

    with pytest.raises(ValueError, match="time_bucket"):
        coxph(df, "time", "event", ["x1"], time_bucket=0.0)

def test_baseline_hazard_no_single_partition_window(surv_data):
    """Both prefix passes (S0 suffix sum, H0 ascending sum) must ride the
    range-partitioned prefix plan — no partition-less window stage."""
    df, *_ = surv_data
    m = coxph(df, "time", "event", ["x1"], exact_iterations=1)
    plan = (
        m.baseline_hazard(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan

def test_coxph_grouped_matches_per_group_coxph(surv_data):
    """Per-segment fits must reproduce the distributed coxph on each
    group's slice — same exact-iteration trajectory, se and loglik."""
    from sparkglm_spark.operators.survival import coxph_grouped

    df, *_ = surv_data
    grp = df.withColumn("seg", (F.col("x2") > 0.5).cast("int"))
    got = coxph_grouped(
        grp, "time", "event", ["x1"], ["seg"], exact_iterations=3
    ).collect()
    assert len(got) == 2
    for r in got:
        ref = coxph(
            grp.where(F.col("seg") == r.seg), "time", "event", ["x1"],
            exact_iterations=3,
        )
        assert r.term == "x1"
        assert r.estimate == pytest.approx(float(ref.coefs[0]), rel=1e-9)
        assert r.se == pytest.approx(float(ref.se[0]), rel=1e-8)
        assert r.loglik == pytest.approx(ref.loglik, rel=1e-9)
        assert r.n_rows == ref.n and r.n_events == ref.n_events
        assert r.iterations == 3 and r.converged


def test_coxph_grouped_converged_and_degenerate(spark, surv_data):
    from sparkglm_spark.operators.survival import coxph_grouped

    df, *_ = surv_data
    # one healthy segment + one with NO events -> NULL estimates
    healthy = df.withColumn("seg", F.lit(0))
    dead = (
        df.withColumn("seg", F.lit(1)).withColumn("event", F.lit(0.0)).limit(50)
    )
    got = {
        r.seg: r
        for r in coxph_grouped(
            healthy.unionByName(dead), "time", "event", ["x1", "x2"], ["seg"]
        ).collect()
        if r.term == "x1"
    }
    ref = coxph(df, "time", "event", ["x1", "x2"])
    assert got[0].estimate == pytest.approx(float(ref.coefs[0]), rel=1e-8)
    assert got[0].converged
    assert got[1].estimate is None and got[1].se is None
    assert got[1].n_events == 0 and not got[1].converged

    with pytest.raises(ValueError, match="non-empty"):
        coxph_grouped(df, "time", "event", [], ["seg"])
    with pytest.raises(ValueError, match="non-empty"):
        coxph_grouped(df, "time", "event", ["x1"], [])

def numpy_cox_stratified(t, e, X, strata, iters):
    """Stratified Breslow Newton twin: per-stratum suffix sums, summed
    grad/info (the partial likelihood factorizes over strata)."""
    k = X.shape[1]
    beta = np.zeros(k)
    svals = np.unique(strata)

    def stats_at(b):
        ll, grad, info = 0.0, np.zeros(k), np.zeros((k, k))
        for sv in svals:
            m = strata == sv
            ts, es, Xs = t[m], e[m], X[m]
            w = np.exp(Xs @ b)
            for ut in np.unique(ts):
                at = ts >= ut
                d = es[ts == ut].sum()
                if d > 0:
                    s0 = w[at].sum()
                    s1 = (w[at, None] * Xs[at]).sum(axis=0)
                    s2 = (w[at, None, None] * Xs[at, :, None] * Xs[at, None, :]).sum(axis=0)
                    dx = (es[ts == ut, None] * Xs[ts == ut]).sum(axis=0)
                    ll += dx @ b - d * np.log(s0)
                    grad += dx - d * s1 / s0
                    info += d * (s2 / s0 - np.outer(s1 / s0, s1 / s0))
        return ll, grad, info

    for _ in range(iters):
        _, grad, info = stats_at(beta)
        beta = beta + np.linalg.solve(info, grad)
    ll, _, info = stats_at(beta)
    return beta, ll, np.sqrt(np.diag(np.linalg.inv(info)))


def test_coxph_stratified_matches_numpy(surv_data):
    df, t, e, X = surv_data
    grp = df.withColumn("s", (F.col("x2") > 0.5).cast("int"))
    strata = (X[:, 1] > 0.5).astype(int)
    got = coxph(grp, "time", "event", ["x1"], exact_iterations=3,
                strata_col="s")
    beta, ll, se = numpy_cox_stratified(t, e, X[:, :1], strata, 3)
    np.testing.assert_allclose(got.coefs, beta, rtol=1e-9)
    assert got.loglik == pytest.approx(ll, rel=1e-9)
    np.testing.assert_allclose(got.se, se, rtol=1e-8)
    assert got.strata_col == "s"
    # one constant stratum == the unstratified fit
    one = coxph(grp.withColumn("s", F.lit(0)), "time", "event", ["x1"],
                exact_iterations=3, strata_col="s")
    ref = coxph(df, "time", "event", ["x1"], exact_iterations=3)
    np.testing.assert_allclose(one.coefs, ref.coefs, rtol=1e-10)
    with pytest.raises(ValueError, match="covariate"):
        coxph(grp, "time", "event", ["x1", "s"], strata_col="s")


def test_coxph_stratified_baseline_and_survival(surv_data):
    df, t, e, X = surv_data
    grp = df.withColumn("s", (F.col("x2") > 0.5).cast("int"))
    strata = (X[:, 1] > 0.5).astype(int)
    m = coxph(grp, "time", "event", ["x1"], exact_iterations=3, strata_col="s")
    base = m.baseline_hazard(grp)
    rows = base.collect()
    # per-stratum numpy Breslow at the fitted beta
    for sv in (0, 1):
        sel = strata == sv
        want = _numpy_breslow(t[sel], e[sel], X[sel, :1], m.coefs)
        got_s = [r for r in rows if r.s == sv]
        assert len(got_s) == len(want)
        for r in got_s:
            d, s0, h, H = want[r.time]
            assert r.s0 == pytest.approx(s0, rel=1e-9)
            assert r.cum_hazard == pytest.approx(H, rel=1e-9)

    # survival prediction uses the row's OWN stratum baseline
    scored = m.predict_survival(grp, [2.0], baseline=base).collect()
    bres = {
        sv: _numpy_breslow(t[strata == sv], e[strata == sv], X[strata == sv, :1], m.coefs)
        for sv in (0, 1)
    }

    def H0(sv, h):
        past = [v[3] for u, v in sorted(bres[sv].items()) if u <= h]
        return past[-1] if past else 0.0

    for r in scored[:50]:
        risk = float(np.exp(m.coefs[0] * r.x1))
        assert r.surv_2 == pytest.approx(
            float(np.exp(-H0(r.s, 2.0) * risk)), rel=1e-9
        )
    # unseen stratum -> NULL survival (baseline genuinely unknown)
    alien = grp.limit(3).withColumn("s", F.lit(99))
    got = m.predict_survival(alien, [2.0], baseline=base).collect()
    assert all(r.surv_2 is None for r in got)


def test_coxph_stratified_persist_round_trip(surv_data, tmp_path):
    from sparkglm_spark.persist import load_model, save_model

    df, *_ = surv_data
    grp = df.withColumn("s", (F.col("x2") > 0.5).cast("int"))
    m = coxph(grp, "time", "event", ["x1"], exact_iterations=2, strata_col="s")
    p = str(tmp_path / "strat.json")
    save_model(m, p)
    back = load_model(p)
    assert back.strata_col == "s"
    np.testing.assert_allclose(back.coefs, m.coefs, rtol=0)
    a = {(r.s, r.time): r.cum_hazard for r in m.baseline_hazard(grp).collect()}
    b = {(r.s, r.time): r.cum_hazard for r in back.baseline_hazard(grp).collect()}
    assert a == b

def _rmst_numpy(t, e, tau):
    """Integral of the step KM curve on [0, tau]."""
    km = _km_numpy(t, e)
    ets = sorted(km)
    area, prev_t, prev_s = 0.0, 0.0, 1.0
    for ut in ets:
        if ut > tau:
            break
        area += prev_s * (ut - prev_t)
        prev_t, prev_s = ut, km[ut][2]
    area += prev_s * (tau - prev_t)
    return area


def test_restricted_mean_survival_matches_numpy(surv_data):
    from sparkglm_spark.operators.survival import restricted_mean_survival

    df, t, e, X = surv_data
    for tau in (0.5, 2.0, 1e6):  # interior / wide / beyond last event
        got = restricted_mean_survival(df, "time", "event", tau).collect()[0]
        assert got.rmst == pytest.approx(_rmst_numpy(t, e, tau), rel=1e-10), tau
        assert got.tau == tau
        assert got.n_events == int(e[t <= tau].sum())
    # tau before the first event: survival is 1 throughout -> rmst = tau
    got = restricted_mean_survival(df, "time", "event", 0.05).collect()[0]
    assert got.rmst == pytest.approx(0.05)

    grp = df.withColumn("g", (F.col("x2") > 0.5).cast("int"))
    strata = (X[:, 1] > 0.5).astype(int)
    rows = restricted_mean_survival(
        grp, "time", "event", 2.0, group_col="g"
    ).collect()
    assert len(rows) == 2
    for r in rows:
        sel = strata == r.g
        assert r.rmst == pytest.approx(_rmst_numpy(t[sel], e[sel], 2.0), rel=1e-10)

    with pytest.raises(ValueError, match="tau"):
        restricted_mean_survival(df, "time", "event", 0.0)


def test_restricted_mean_survival_all_die(spark):
    """Death-to-zero rows (d = n_at_risk) must contribute the FULL
    remaining drop S_prev, exercising the NULL-log-term path."""
    from sparkglm_spark.operators.survival import restricted_mean_survival

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 1.0)], "time double, event double"
    )
    got = restricted_mean_survival(df, "time", "event", 10.0).collect()[0]
    # S: 1 on [0,1), 2/3 on [1,2), 1/3 on [2,3), 0 after
    assert got.rmst == pytest.approx(1.0 + 2.0 / 3.0 + 1.0 / 3.0, rel=1e-12)

def test_restricted_mean_survival_instant_group_death(spark):
    """A group whose FIRST (only) event time kills everyone: the previous
    product is 1 (the NULL __ls edge) -> rmst = t1 exactly."""
    from sparkglm_spark.operators.survival import restricted_mean_survival

    df = spark.createDataFrame(
        [("a", 2.0, 1.0), ("a", 2.0, 1.0), ("b", 1.0, 0.0), ("b", 4.0, 1.0)],
        "g string, time double, event double",
    )
    rows = {r.g: r for r in restricted_mean_survival(
        df, "time", "event", 10.0, group_col="g"
    ).collect()}
    assert rows["a"].rmst == pytest.approx(2.0, rel=1e-12)
    # b: censored at 1, event at 4 (n_at_risk 1) -> S=1 until 4 then 0
    assert rows["b"].rmst == pytest.approx(4.0, rel=1e-12)

def test_schoenfeld_residuals_match_numpy(surv_data):
    from sparkglm_spark.operators.survival import schoenfeld_residuals

    df, t, e, X = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"], exact_iterations=3)
    got = {r.time: r for r in schoenfeld_residuals(m, df).collect()}
    w = np.exp(X @ m.coefs)
    for ut in np.unique(t):
        d = e[t == ut].sum()
        if d > 0:
            at = t >= ut
            s0 = w[at].sum()
            s1 = (w[at, None] * X[at]).sum(axis=0)
            dx = (e[t == ut, None] * X[t == ut]).sum(axis=0)
            want = dx - d * s1 / s0
            r = got[float(ut)]
            assert r.resid_x1 == pytest.approx(want[0], abs=1e-9), ut
            assert r.resid_x2 == pytest.approx(want[1], abs=1e-9), ut
    # at the CONVERGED beta the residuals are the score: they sum to ~0
    mc = coxph(df, "time", "event", ["x1", "x2"])
    rows = schoenfeld_residuals(mc, df).collect()
    assert abs(sum(r.resid_x1 for r in rows)) < 1e-6
    assert abs(sum(r.resid_x2 for r in rows)) < 1e-6


def test_ph_assumption_test_detects_time_varying_effect(spark):
    """Planted PH violation: x's effect flips sign at t = 1 (piecewise
    exponential) -> small p for x; a genuinely proportional covariate in
    the same model stays insignificant."""
    from sparkglm_spark.operators.survival import ph_assumption_test

    rng = np.random.default_rng(7)
    n = 1500
    x = (rng.random(n) < 0.5).astype(float)   # effect flips over time
    z = rng.normal(0, 1, n)                   # proportional effect
    # piecewise hazard: rate exp(+1.2x + 0.3z) on [0,1), exp(-1.2x + 0.3z) after
    r1 = np.exp(1.2 * x + 0.3 * z)
    r2 = np.exp(-1.2 * x + 0.3 * z)
    t1 = rng.exponential(1.0 / r1)
    t = np.where(t1 < 1.0, t1, 1.0 + rng.exponential(1.0 / r2))
    cens = rng.exponential(4.0, n)
    e = (t <= cens).astype(float)
    tt = np.minimum(t, cens)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(dv))
         for a, b, c, dv in zip(tt, e, x, z)],
        "time double, event double, x double, z double",
    ).repartition(9)
    m = coxph(df, "time", "event", ["x", "z"])
    out = ph_assumption_test(m, df)
    assert out["per_covariate"]["x"]["p_value"] < 1e-4   # violation seen
    assert out["per_covariate"]["z"]["p_value"] > 0.01   # PH holds for z
    assert out["global"]["p_value"] < 1e-3
    assert out["n_events"] == int(e.sum())
    # log transform runs too
    out_log = ph_assumption_test(m, df, transform="log")
    assert out_log["per_covariate"]["x"]["p_value"] < 1e-3
    with pytest.raises(ValueError, match="transform"):
        ph_assumption_test(m, df, transform="rank")


def test_ph_assumption_test_level_on_proportional_data(surv_data):
    """On data generated UNDER PH the test must not reject wildly."""
    from sparkglm_spark.operators.survival import ph_assumption_test

    df, *_ = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"])
    out = ph_assumption_test(m, df)
    assert out["global"]["p_value"] > 0.01
    for v in out["per_covariate"].values():
        assert v["p_value"] > 0.005

def test_new_survival_plans_no_partitionless_window(surv_data):
    """schoenfeld_residuals and restricted_mean_survival (global paths)
    must ride the range-partitioned prefix plan — no PARTITION-LESS
    window stage (a windowspecdefinition whose first argument is the
    order column). RMST's final global agg legitimately ends in a
    SinglePartition exchange of partial-agg rows — that is every
    df.agg(), not the window trap."""
    import re

    from sparkglm_spark.operators.survival import (
        restricted_mean_survival,
        schoenfeld_residuals,
    )

    df, *_ = surv_data
    m = coxph(df, "time", "event", ["x1"], exact_iterations=1)
    partitionless = re.compile(r"windowspecdefinition\(\w+#\d+ (ASC|DESC)")
    res = schoenfeld_residuals(m, df)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan  # no global agg here at all
    assert not partitionless.search(plan)
    rmst = restricted_mean_survival(df, "time", "event", 2.0)
    plan = rmst._jdf.queryExecution().executedPlan().toString()
    assert not partitionless.search(plan)

def _cindex_numpy(t, e, r):
    """All-pairs Harrell twin (strict t_i < t_j convention)."""
    conc = ties = comp = 0
    n = len(t)
    for i in range(n):
        if e[i] != 1:
            continue
        for j in range(n):
            if t[j] > t[i]:
                comp += 1
                if r[i] > r[j]:
                    conc += 1
                elif r[i] == r[j]:
                    ties += 1
    return conc, ties, comp


def test_concordance_index_matches_all_pairs(surv_data):
    from sparkglm_spark.operators.survival import concordance_index

    df, t, e, X = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"], exact_iterations=3)
    scored = m.predict(df)
    out = concordance_index(scored, "time", "event", "risk_score")
    r = np.exp(X @ m.coefs)
    conc, ties, comp = _cindex_numpy(t, e, r)
    assert out["n_comparable"] == comp
    assert out["n_concordant"] == conc
    assert out["n_tied_risk"] == ties
    assert out["c_index"] == pytest.approx((conc + 0.5 * ties) / comp, rel=1e-12)
    # a real Cox fit discriminates: C well above 0.5
    assert out["c_index"] > 0.6
    # exactness is bucket-count invariant
    for nb in (1, 3, 1000):
        o2 = concordance_index(scored, "time", "event", "risk_score",
                               n_buckets=nb)
        assert o2["n_concordant"] == conc and o2["n_tied_risk"] == ties, nb


def test_concordance_index_edges(spark):
    from sparkglm_spark.operators.survival import concordance_index

    # perfect risk ordering (risk = -time): C = 1
    rows = [(float(i), 1.0, float(-i)) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "t double, ev double, r double")
    out = concordance_index(df, "t", "ev", "r", n_buckets=4)
    assert out["c_index"] == 1.0
    assert out["n_comparable"] == 38 * 39 // 2
    # constant risk: every comparable pair is a tie -> C = 0.5
    const = df.withColumn("r", F.lit(1.0))
    assert concordance_index(const, "t", "ev", "r")["c_index"] == 0.5
    # heavy TIED TIMES: equal times are not comparable (strict convention)
    tied = spark.createDataFrame(
        [(1.0, 1.0, 3.0), (1.0, 1.0, 2.0), (2.0, 0.0, 1.0)],
        "t double, ev double, r double",
    )
    o = concordance_index(tied, "t", "ev", "r")
    assert o["n_comparable"] == 2 and o["c_index"] == 1.0
    with pytest.raises(ValueError, match="no events"):
        concordance_index(df.withColumn("ev", F.lit(0.0)), "t", "ev", "r")
    with pytest.raises(ValueError, match="no comparable"):
        concordance_index(
            spark.createDataFrame([(1.0, 1.0, 1.0), (1.0, 1.0, 2.0)],
                                  "t double, ev double, r double"),
            "t", "ev", "r",
        )

def test_ph_test_log_transform_rejects_nonpositive_times(spark, surv_data):
    from sparkglm_spark.operators.survival import ph_assumption_test

    df, *_ = surv_data
    m = coxph(df, "time", "event", ["x1"], exact_iterations=2)
    shifted = df.withColumn("time", F.col("time") - F.lit(0.1))  # events at 0
    m0 = coxph(shifted, "time", "event", ["x1"], exact_iterations=2)
    with pytest.raises(ValueError, match="t <= 0"):
        ph_assumption_test(m0, shifted, transform="log")
    # identity transform unaffected
    out = ph_assumption_test(m0, shifted, transform="identity")
    assert 0.0 <= out["global"]["p_value"] <= 1.0

@pytest.fixture(scope="module")
def aft_data(spark):
    rng = np.random.default_rng(53)
    n = 600
    x1 = rng.normal(0, 1, n)
    x2 = (rng.random(n) < 0.5).astype(float)
    # log T = 1.0 + 0.5 x1 - 0.8 x2 + 0.7 W, W ~ Gumbel(min)
    w = np.log(-np.log(rng.random(n)))  # standard extreme value (min)
    t = np.exp(1.0 + 0.5 * x1 - 0.8 * x2 + 0.7 * w)
    cens = np.exp(1.5 + rng.normal(0, 1, n))
    e = (t <= cens).astype(float)
    tt = np.minimum(t, cens)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in zip(tt, e, x1, x2)],
        "time double, event double, x1 double, x2 double",
    ).repartition(7)
    return df, tt, e, np.column_stack([x1, x2])


def test_weibull_aft_matches_mllib(aft_data):
    """Golden cross-check against Spark MLlib's own AFTSurvivalRegression
    (both maximize the same Weibull AFT likelihood — Newton here, LBFGS
    there; the MLEs must agree to optimizer tolerance)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import AFTSurvivalRegression

    from sparkglm_spark.operators.survival import weibull_aft

    df, t, e, X = aft_data
    got = weibull_aft(df, "time", "event", ["x1", "x2"])
    assert got.converged

    va = VectorAssembler(inputCols=["x1", "x2"], outputCol="features")
    ml = AFTSurvivalRegression(
        labelCol="time", censorCol="event", featuresCol="features",
        maxIter=200, tol=1e-10,
    ).fit(va.transform(df))
    assert got.coefs[0] == pytest.approx(float(ml.intercept), rel=1e-4)
    assert got.coefs[1] == pytest.approx(float(ml.coefficients[0]), rel=1e-4)
    assert got.coefs[2] == pytest.approx(float(ml.coefficients[1]), rel=1e-4)
    assert got.scale == pytest.approx(float(ml.scale), rel=1e-4)
    # recovers the planted parameters
    assert got.coefs[0] == pytest.approx(1.0, abs=0.15)
    assert got.coefs[1] == pytest.approx(0.5, abs=0.12)
    assert got.coefs[2] == pytest.approx(-0.8, abs=0.15)
    assert got.scale == pytest.approx(0.7, abs=0.08)
    assert got.n == len(t) and got.n_events == int(e.sum())


def test_weibull_aft_predictions_and_summary(aft_data):
    from sparkglm_spark.operators.survival import weibull_aft

    df, *_ = aft_data
    m = weibull_aft(df, "time", "event", ["x1", "x2"])
    scored = m.predict(df)
    assert scored.columns == df.columns + ["median_survival_time"]
    r = scored.limit(1).collect()[0]
    eta = m.coefs[0] + m.coefs[1] * r.x1 + m.coefs[2] * r.x2
    assert r.median_survival_time == pytest.approx(
        float(np.exp(eta) * np.log(2.0) ** m.scale), rel=1e-10
    )
    # closed-form survival: S at the median is exactly 0.5
    sv = m.predict_survival(
        scored.limit(5), [1.0, 5.0, 25.0]
    ).collect()
    for row in sv:
        vals = [row.surv_1, row.surv_5, row.surv_25]
        assert all(0.0 <= v <= 1.0 for v in vals)
        assert vals[0] >= vals[1] >= vals[2]
        z = (np.log(5.0) - (m.coefs[0] + m.coefs[1] * row.x1
                            + m.coefs[2] * row.x2)) / m.scale
        assert row.surv_5 == pytest.approx(float(np.exp(-np.exp(z))), rel=1e-10)
    rows = m.summary_rows()
    assert [x[0] for x in rows] == ["intercept", "x1", "x2", "log_scale"]
    assert rows[1][4] < 1e-6 and rows[2][4] < 1e-6  # planted effects seen
    with pytest.raises(ValueError, match="> 0"):
        m.predict_survival(df, [0.0])


def test_weibull_aft_guards(spark, aft_data):
    from sparkglm_spark.operators.survival import weibull_aft

    df, *_ = aft_data
    with pytest.raises(ValueError, match="non-positive"):
        weibull_aft(df.withColumn("time", F.col("time") - 100.0),
                    "time", "event", ["x1"])
    # codes 2/3 are the r14 mixed-censoring feature; anything OUTSIDE
    # the R Surv vocabulary {0,1,2,3} still raises
    with pytest.raises(ValueError, match="Surv codes"):
        weibull_aft(df.withColumn("event", F.lit(5.0)), "time", "event", ["x1"])
    with pytest.raises(ValueError, match="no events"):
        weibull_aft(df.withColumn("event", F.lit(0.0)), "time", "event", ["x1"])

def test_weibull_aft_few_events_and_empty_guards(spark):
    from sparkglm_spark.operators.survival import weibull_aft

    few = spark.createDataFrame(
        [(1.0, 1.0, 0.5), (2.0, 0.0, 0.1), (3.0, 0.0, 0.9), (4.0, 1.0, 0.2)],
        "t double, ev double, x double",
    )
    with pytest.raises(ValueError, match="more events than coefficients"):
        weibull_aft(few, "t", "ev", ["x"])
    empty = spark.createDataFrame([], "t double, ev double, x double")
    with pytest.raises(ValueError, match="empty"):
        weibull_aft(empty, "t", "ev", ["x"])


def test_survival_nan_guards(spark):
    """ADVICE r8: NaN time/event/risk rows silently joined the
    concordance pair counts (NaN forms its own group and sorts last);
    and a NULL/NaN event inside coxph_grouped aborted the whole job via
    int(nan). cindex must raise; grouped cox must emit the degenerate
    NULL row with n_events over valid rows."""
    import math

    from sparkglm_spark.operators.survival import (
        concordance_index,
        coxph_grouped,
    )

    nan = float("nan")
    bad = spark.createDataFrame(
        [(5.0, 1.0, 0.3), (3.0, 0.0, nan), (2.0, 1.0, 0.9)],
        "t double, e double, r double",
    )
    with pytest.raises(ValueError, match="NaN"):
        concordance_index(bad, "t", "e", "r")

    rng = __import__("numpy").random.default_rng(7)
    rows = []
    for g, dirty in (("ok", False), ("dirty", True)):
        for i in range(40):
            x = float(rng.normal())
            t = float(rng.exponential(math.exp(-0.5 * x)) + 0.01)
            e = None if (dirty and i == 0) else float(i % 2)
            rows.append((g, t, e, x))
    df = spark.createDataFrame(rows, "g string, t double, e double, x double")
    out = {r.g: r for r in coxph_grouped(df, "t", "e", ["x"], ["g"]).collect()}
    assert out["ok"].estimate is not None and out["ok"].converged
    assert out["dirty"].estimate is None and not out["dirty"].converged
    assert out["dirty"].n_events == sum(
        1 for g, _, e, _ in rows if g == "dirty" and e == 1.0
    )


def test_concordance_index_auto_buckets(spark, monkeypatch):
    """VERDICT r8 #4: n_buckets=None sizes itself from the validation
    count (ceil(n / rows-per-bucket), clamped to [16, 4096]); any bucket
    count is exact, so the auto path must agree with explicit ones."""
    import sparkglm_spark.operators.survival as sv

    rows = [
        (float(1 + (i * 7) % 97), float(i % 2), float((i * 13) % 31))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "t double, ev double, r double")
    auto = sv.concordance_index(df, "t", "ev", "r")
    # n=200 with the default 50k target clamps to the 16-bucket floor
    assert auto == sv.concordance_index(df, "t", "ev", "r", n_buckets=16)
    # shrink the target so auto lands strictly between the clamps
    monkeypatch.setattr(sv, "_CINDEX_ROWS_PER_BUCKET", 9)
    mid = sv.concordance_index(df, "t", "ev", "r")  # ceil(200/9) = 23
    assert mid == sv.concordance_index(df, "t", "ev", "r", n_buckets=23)
    assert mid["c_index"] == auto["c_index"]
    with pytest.raises(ValueError, match="n_buckets"):
        sv.concordance_index(df, "t", "ev", "r", n_buckets=0)


def test_concordance_index_bucket_paths_agree(spark, monkeypatch):
    """r14 cross-bucket engine: the driver bucketing path (distinct
    risks under the limit-probe gate) and the distributed prefix-plan
    fallback must produce IDENTICAL results — bucket ids come from the
    same ceil(cum·B/n) double arithmetic, and the suffix engine's
    counts are integer-exact under reassociation."""
    import sparkglm_spark.operators.survival as sv

    rows = [
        (float(1 + (i * 7) % 97), float(i % 2), float((i * 13) % 31), 1.0 + i % 3)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "t double, ev double, r double, w double")
    via_driver = sv.concordance_index(df, "t", "ev", "r", n_buckets=5)
    wd = sv.concordance_index(df, "t", "ev", "r", n_buckets=5, weight_col="w")
    # force the distributed global_running_sum fallback
    monkeypatch.setattr(sv, "_CINDEX_RISK_DRIVER_MAX", 0)
    assert sv.concordance_index(df, "t", "ev", "r", n_buckets=5) == via_driver
    assert (
        sv.concordance_index(df, "t", "ev", "r", n_buckets=5, weight_col="w")
        == wd
    )


def test_weibull_aft_grouped_matches_per_group(spark):
    """weibull_aft_grouped (VERDICT r8 #7): each group's numpy twin must
    land on the same MLE as the distributed weibull_aft on that slice;
    degenerate groups (too few events / a null event) emit NULL rows."""
    from sparkglm_spark.operators.survival import weibull_aft, weibull_aft_grouped

    rng = np.random.default_rng(29)
    rows = []
    for g, (b0, b1, s) in (("a", (1.0, 0.5, 0.7)), ("b", (0.3, -0.6, 1.1))):
        for _ in range(300):
            x = float(rng.normal())
            w = float(np.log(-np.log(rng.random())))
            t = float(np.exp(b0 + b1 * x + s * w))
            c = float(np.exp(1.2 + rng.normal()))
            rows.append((g, min(t, c), float(t <= c), x))
    rows += [("few", 1.0, 1.0, 0.5), ("few", 2.0, 0.0, -0.5)]  # n_events <= k
    rows += [("dirty", 1.0, None, 0.1), ("dirty", 2.0, 1.0, 0.2),
             ("dirty", 3.0, 1.0, 0.4), ("dirty", 4.0, 1.0, -0.3)]
    df = spark.createDataFrame(rows, "g string, time double, event double, x double")
    out = {
        (r.g, r.term): r
        for r in weibull_aft_grouped(df, "time", "event", ["x"], ["g"]).collect()
    }
    for g in ("a", "b"):
        m = weibull_aft(df.where(F.col("g") == g), "time", "event", ["x"])
        for i, t in enumerate(m.xnames):
            assert out[(g, t)].estimate == pytest.approx(
                float(m.coefs[i]), rel=1e-5, abs=1e-7
            ), (g, t)
            assert out[(g, t)].se == pytest.approx(float(m.se[i]), rel=1e-4), (g, t)
        assert out[(g, "scale")].estimate == pytest.approx(m.scale, rel=1e-5)
        assert out[(g, "scale")].se == pytest.approx(float(m.se[-1]), rel=1e-4)
        assert out[(g, "x")].loglik == pytest.approx(m.loglik, rel=1e-8)
        assert out[(g, "x")].converged
        assert out[(g, "x")].n_events == m.n_events
    for g in ("few", "dirty"):
        assert out[(g, "x")].estimate is None, g
        assert not out[(g, "x")].converged, g
    assert out[("dirty", "x")].n_events == 3  # valid rows only
    with pytest.raises(ValueError, match="group_cols"):
        weibull_aft_grouped(df, "time", "event", ["x"], [])


def test_weibull_aft_gamma_start_contracts_undamped(spark):
    """The γσ-corrected OLS intercept start (r10) must put plain Newton
    inside the quadratic basin on planted Weibull data: the undamped
    exact_iterations trajectory lands within 1e-3 of the converged MLE
    after 4 steps (uncorrected, the same trajectory diverged — measured
    scale 15.8 vs converged 0.61 on the orders-planted input). This is
    the property the orders_distributions 'aft' oracle pin rides on."""
    from sparkglm_spark.operators.survival import weibull_aft

    rng = np.random.default_rng(17)
    rows = []
    for _ in range(800):
        x = float(rng.normal())
        w = float(np.log(-np.log(rng.random())))
        t = float(np.exp(2.0 + 0.8 * x + 0.6 * w))
        ev = 0.0 if rng.random() < 0.2 else 1.0  # censor at observed time
        rows.append((t, ev, x))
    df = spark.createDataFrame(rows, "time double, event double, x double")
    conv = weibull_aft(df, "time", "event", ["x"])
    assert conv.converged
    ex4 = weibull_aft(df, "time", "event", ["x"], exact_iterations=4)
    assert float(ex4.coefs[0]) == pytest.approx(float(conv.coefs[0]), abs=1e-3)
    assert float(ex4.coefs[1]) == pytest.approx(float(conv.coefs[1]), abs=1e-3)
    assert ex4.scale == pytest.approx(conv.scale, rel=1e-3)


def test_aft_residuals_and_fit_diagnostic(aft_data, spark):
    """aft_residuals: hand-checked z/cox_snell/martingale/deviance, one
    projection. aft_fit_diagnostic: on data truly generated from the
    fitted Weibull model the KM cumulative hazard of the Cox-Snell
    residuals tracks the 45-degree line; a deliberately mis-scaled model
    deviates hard (the power check, zph-style)."""
    import dataclasses

    from sparkglm_spark.operators.survival import (
        aft_fit_diagnostic,
        aft_residuals,
        weibull_aft,
    )

    df, *_ = aft_data
    m = weibull_aft(df, "time", "event", ["x1", "x2"])
    res = aft_residuals(df, m)
    assert res.columns == df.columns + [
        "z_resid", "cox_snell", "martingale", "deviance"
    ]
    r = res.limit(5).collect()
    for row in r:
        eta = m.coefs[0] + m.coefs[1] * row.x1 + m.coefs[2] * row.x2
        z = (np.log(row.time) - eta) / m.scale
        u = np.exp(z)
        assert row.z_resid == pytest.approx(z, rel=1e-10)
        assert row.cox_snell == pytest.approx(u, rel=1e-10)
        assert row.martingale == pytest.approx(row.event - u, rel=1e-10)
        inner = (row.event - u) + (z if row.event == 1.0 else 0.0)
        want_dev = np.sign(row.event - u) * np.sqrt(-2.0 * inner)
        assert row.deviance == pytest.approx(want_dev, rel=1e-8)

    gof = aft_fit_diagnostic(df, m).collect()
    assert len(gof) > 100
    # well-specified: Ĥ(u) ≈ u over the bulk (skip the sparse tail where
    # the KM estimate has ~no subjects at risk)
    bulk = [g for g in gof if g.n_at_risk >= 30 and g.km_cumhaz is not None]
    dev = max(abs(g.km_cumhaz - g.expected) for g in bulk)
    assert dev < 0.12, dev
    # power: halve the scale -> residuals exp(2z) are NOT unit-exponential
    bad = dataclasses.replace(m, scale=m.scale / 2.0)
    gof_bad = aft_fit_diagnostic(df, bad).collect()
    bulk_bad = [g for g in gof_bad if g.n_at_risk >= 30 and g.km_cumhaz is not None]
    dev_bad = max(abs(g.km_cumhaz - g.expected) for g in bulk_bad)
    assert dev_bad > 3 * dev, (dev, dev_bad)


def test_weibull_aft_indefinite_hessian_start(spark):
    """r9 real-data probe regression: on data whose OLS start sits at a
    SADDLE (Hessian indefinite, eigenvalues ~1e5 — price-like times with
    coin-flip censoring), the fixed λ ≤ 1e3 Levenberg ladder could not
    make H − λI negative definite, so the fit stalled at iteration 0 and
    reported converged=True with negative variances. The ladder now
    scales with |diag H| and a stall only claims convergence when the
    gradient is ~0."""
    from sparkglm_spark.operators.survival import weibull_aft

    rng = np.random.default_rng(41)
    n = 4000
    t = np.exp(rng.normal(5.2, 0.75, n))  # heavy lognormal times ~ e^5
    e = (np.arange(n) % 2).astype(float)  # censoring independent of time
    x = (np.arange(n) % 7).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(t, e, x)],
        "time double, event double, x double",
    )
    m = weibull_aft(df, "time", "event", ["x"])
    assert m.converged and m.iter >= 3  # not the iteration-0 stall
    assert np.all(np.isfinite(m.se))    # a real maximum: positive variances
    # at the MLE the scale must beat the saddle's: loglik is finite and
    # the fitted sigma is near the generating residual spread
    assert np.isfinite(m.loglik)
    assert 0.4 < m.scale < 1.2


def test_weibull_aft_overflowed_hessian_terminates(spark):
    """Review r9: an exact event-row OLS fit floors sigma at 1e-3, so
    censored residuals overflow exp(z) to inf and the Hessian diagonal
    goes non-finite — the Hessian-scaled Levenberg cap must clamp (a
    100*inf cap made `while lam <= cap` loop forever). The fit must
    TERMINATE and report its convergence state honestly."""
    from sparkglm_spark.operators.survival import weibull_aft

    rows = []
    for i in range(30):  # events: ln t == 2*x exactly -> OLS sse = 0
        x = float(i) / 10.0
        rows.append((float(np.exp(2.0 * x)), 1.0, x))
    for i in range(10):  # censored far off the event line
        x = float(i) / 10.0
        rows.append((float(np.exp(2.0 * x + 5.0)), 0.0, x))
    df = spark.createDataFrame(rows, "time double, event double, x double")
    m = weibull_aft(df, "time", "event", ["x"], max_iter=10)
    assert m.iter <= 10 and np.all(np.isfinite(m.coefs))


def test_aft_fit_diagnostic_rejects_dirty_rows(aft_data, spark):
    from sparkglm_spark.operators.survival import aft_fit_diagnostic, weibull_aft

    df, *_ = aft_data
    m = weibull_aft(df, "time", "event", ["x1", "x2"])
    dirty = df.unionByName(
        spark.createDataFrame([(0.0, 1.0, 0.1, 0.2)], df.schema)
    )
    with pytest.raises(ValueError, match="clean the frame"):
        aft_fit_diagnostic(dirty, m)


def test_coxph_grouped_nonbinary_event_metadata(spark):
    """Review r9: a dirty group with e = 2.0 degenerates to NULLs, and
    n_events must count e == 1 rows, not sum raw event values."""
    from sparkglm_spark.operators.survival import coxph_grouped

    rows = [("d", 1.0, 0.0, 0.1), ("d", 2.0, 1.0, 0.2),
            ("d", 3.0, 2.0, 0.4), ("d", 4.0, 1.0, -0.3)]
    df = spark.createDataFrame(rows, "g string, t double, e double, x double")
    r = coxph_grouped(df, "t", "e", ["x"], ["g"]).collect()[0]
    assert r.estimate is None and r.n_events == 2


def test_bucket_pair_stats_vectorized_parity():
    """The bit-plane within-bucket counter equals an O(n²) all-pairs
    count — exactly, unweighted and weighted (integer-valued ω keeps the
    float sums exact) — on adversarial tie structures: all-tied times,
    all-tied risks, mixed, singletons."""
    import sparkglm_spark.operators.survival as sv

    def all_pairs(t, e, r, w):
        # pair (i, j): i an event, t_i < t_j strictly
        comp = (e[:, None] == 1.0) & (t[:, None] < t[None, :])
        ww = w[:, None] * w[None, :]
        conc = (ww * (comp & (r[:, None] > r[None, :]))).sum()
        ties = (ww * (comp & (r[:, None] == r[None, :]))).sum()
        return conc, ties

    rng = np.random.default_rng(19)
    for trial in range(200):
        n = int(rng.integers(1, 300))
        nt = int(rng.integers(1, max(2, n)))
        nr = int(rng.integers(1, max(2, n)))
        t = rng.integers(0, nt, n).astype(float)
        e = (rng.random(n) < 0.5).astype(float)
        r = rng.integers(0, nr, n).astype(float)
        conc, ties = sv._bucket_pair_stats(t, e, r)
        assert (conc, ties) == all_pairs(t, e, r, np.ones(n)), (trial, n)
        assert isinstance(conc, int)
        w = rng.integers(0, 4, n).astype(float)
        assert sv._bucket_pair_stats(t, e, r, w) == all_pairs(t, e, r, w), (
            trial, n,
        )


def test_coxph_weighted_replication_identity(spark):
    """Case weights (r11, R coxph(weights=)): every Breslow term carries
    ω, so an INTEGER weight is exactly row replication — coefs, se,
    loglik and the weighted baseline hazard all match the replicated
    frame; composes with strata; guards raise; persists."""
    import tempfile

    from sparkglm_spark.ml import SparkCoxPH
    from sparkglm_spark.operators.survival import coxph

    rng = np.random.default_rng(43)
    n = 250
    x = rng.normal(0, 1, n)
    g = rng.integers(0, 2, n)
    t = rng.exponential(np.exp(-(0.7 * x + 0.3 * g)))
    c = rng.exponential(2.0, n)
    time = np.minimum(t, c)
    ev = (t <= c).astype(float)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(time[i]), float(ev[i]), float(x[i]), int(g[i]), int(w[i]))
         for i in range(n)],
        "t double, e double, x double, g int, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")

    mw = coxph(df, "t", "e", ["x"], weight_col="w", tol=1e-12)
    mr = coxph(rep, "t", "e", ["x"], tol=1e-12)
    assert np.abs(mw.coefs - mr.coefs).max() < 1e-9
    assert np.abs(mw.se - mr.se).max() < 1e-9
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-10)
    assert mw.n == n and mr.n == int(w.sum())  # raw row counts

    # weighted baseline == replicated baseline (event MASS as double)
    bw = {r.time: (r.n_events, r.cum_hazard)
          for r in mw.baseline_hazard(df).collect()}
    br = {r.time: (r.n_events, r.cum_hazard)
          for r in mr.baseline_hazard(rep).collect()}
    assert set(bw) == set(br)
    for tt in bw:
        assert float(bw[tt][0]) == pytest.approx(float(br[tt][0]), rel=1e-12)
        assert bw[tt][1] == pytest.approx(br[tt][1], rel=1e-9)

    # stratified + weighted compose (same identity under strata)
    sw = coxph(df, "t", "e", ["x"], strata_col="g", weight_col="w", tol=1e-12)
    sr = coxph(rep, "t", "e", ["x"], strata_col="g", tol=1e-12)
    assert np.abs(sw.coefs - sr.coefs).max() < 1e-9

    with pytest.raises(ValueError, match="negative"):
        coxph(
            df.withColumn("w", F.when(F.col("x") > 1, -1.0).otherwise(1.0)),
            "t", "e", ["x"], weight_col="w",
        )
    with pytest.raises(ValueError, match="null"):
        coxph(
            df.withColumn("w", F.when(F.col("x") > 1, None).otherwise(F.lit(1.0))),
            "t", "e", ["x"], weight_col="w",
        )

    # estimator forwards weightCol; persist round-trips the field
    est = SparkCoxPH(
        featureCols=["x"], timeCol="t", eventCol="e", weightCol="w"
    ).fit(df)
    assert np.abs(est.model.coefs - mw.coefs).max() < 1e-12
    assert est.model.weight_col == "w"
    with tempfile.TemporaryDirectory() as d:
        path = d + "/cxw"
        est.write().overwrite().save(path)
        from sparkglm_spark.ml import SparkCoxPHModel

        back = SparkCoxPHModel.read().load(path)
        assert back.model.weight_col == "w"
        assert np.abs(back.model.coefs - mw.coefs).max() < 1e-12


def test_km_rmst_weighted_replication_identity(spark):
    """Weighted KM/RMST (r11): integer ω ≡ row replication exactly —
    same event times, survival values, at-risk/event masses (as
    doubles) and RMST; grouped arm included."""
    from sparkglm_spark.operators.survival import (
        kaplan_meier,
        restricted_mean_survival,
    )

    rng = np.random.default_rng(47)
    n = 200
    t = rng.exponential(1.0, n)
    ev = (rng.uniform(0, 1, n) < 0.7).astype(float)
    g = rng.integers(0, 2, n)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(t[i]), float(ev[i]), int(g[i]), int(w[i])) for i in range(n)],
        "t double, e double, g int, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")

    kw = {r.time: r for r in kaplan_meier(df, "t", "e", weight_col="w").collect()}
    kr = {r.time: r for r in kaplan_meier(rep, "t", "e").collect()}
    assert set(kw) == set(kr) and len(kw) > 50
    for tt in kw:
        assert float(kw[tt].n_at_risk) == pytest.approx(
            float(kr[tt].n_at_risk), rel=1e-12
        )
        assert float(kw[tt].n_events) == pytest.approx(
            float(kr[tt].n_events), rel=1e-12
        )
        assert kw[tt].survival == pytest.approx(kr[tt].survival, rel=1e-10)

    rw = {r.g: r for r in restricted_mean_survival(
        df, "t", "e", tau=1.5, group_col="g", weight_col="w"
    ).collect()}
    rr = {r.g: r for r in restricted_mean_survival(
        rep, "t", "e", tau=1.5, group_col="g"
    ).collect()}
    for gg in (0, 1):
        assert rw[gg].rmst == pytest.approx(rr[gg].rmst, rel=1e-10), gg
        assert float(rw[gg].n_events) == pytest.approx(
            float(rr[gg].n_events), rel=1e-12
        )


def test_km_weight_guards(spark):
    """Code-review r11: KM/RMST validate weights via the shared guard —
    a null weight would silently drop its subject from the masses."""
    from sparkglm_spark.operators.survival import (
        kaplan_meier,
        restricted_mean_survival,
    )

    df = spark.createDataFrame(
        [(1.0, 1.0, 1.0), (2.0, 0.0, 2.0), (3.0, 1.0, 1.0)],
        "t double, e double, w double",
    )
    with pytest.raises(ValueError, match="null"):
        kaplan_meier(
            df.withColumn("w", F.when(F.col("t") > 2, None).otherwise(F.col("w"))),
            "t", "e", weight_col="w",
        )
    with pytest.raises(ValueError, match="negative"):
        restricted_mean_survival(
            df.withColumn("w", F.when(F.col("t") > 2, -1.0).otherwise(F.col("w"))),
            "t", "e", tau=2.0, weight_col="w",
        )


def test_logrank_weighted_replication_identity(spark):
    """r12 weighted log-rank: integer frequency weights must equal
    physical row replication for EVERY reported number (O−E, variance,
    chi2, p) — the identity that makes the weighted-count substitution
    (including the (n−d)/(n−1) tie term) the correct frequency-weight
    formula; and the weight-domain guard raises on negative weights."""
    from sparkglm_spark.operators.survival import logrank_test

    rng = np.random.default_rng(23)
    rows = []
    for i in range(120):
        g = "a" if i % 2 == 0 else "b"
        t = float(rng.exponential(10.0 if g == "a" else 14.0)) + 0.1
        e = float(rng.uniform() < 0.8)
        w = float(1 + (i % 3))
        rows.append((round(t, 1), e, g, w))
    df = spark.createDataFrame(rows, "t double, ev double, g string, w double")
    wres = logrank_test(df, "t", "ev", "g", weight_col="w")
    rep_rows = [r for row in rows for r in [row[:3]] * int(row[3])]
    rep = spark.createDataFrame(rep_rows, "t double, ev double, g string")
    rres = logrank_test(rep, "t", "ev", "g")
    for k in ("observed_minus_expected_a", "variance", "chi2", "p_value"):
        assert wres[k] == pytest.approx(rres[k], rel=1e-9), k
    # n_events reports RAW rows on the weighted frame (coxph convention)
    assert wres["n_events"] == sum(1 for r in rows if r[1] == 1.0)
    # unit weights == unweighted exactly
    ures = logrank_test(df.withColumn("w", F.lit(1.0)), "t", "ev", "g",
                        weight_col="w")
    nres = logrank_test(df, "t", "ev", "g")
    assert ures["chi2"] == pytest.approx(nres["chi2"], rel=1e-12)
    with pytest.raises(ValueError, match="weight"):
        logrank_test(
            df.withColumn("w", F.when(F.col("ev") > 0, -1.0).otherwise(1.0)),
            "t", "ev", "g", weight_col="w",
        )


def test_logrank_weighted_zero_weight_raw_count(spark):
    """r12 review: n_events reports ALL raw event rows — including an
    ω = 0 event at a time whose entire event mass is zero-weighted
    (the coxph raw-count convention; the statistic itself ignores the
    zero-mass row, replication-consistently)."""
    from sparkglm_spark.operators.survival import logrank_test

    rows = [
        (1.0, 1.0, "a", 1.0), (2.0, 1.0, "b", 1.0), (3.0, 0.0, "a", 1.0),
        (4.0, 1.0, "b", 2.0), (5.0, 1.0, "a", 1.0),
        (2.5, 1.0, "a", 0.0),  # zero-weight event at its own unique time
    ]
    df = spark.createDataFrame(rows, "t double, ev double, g string, w double")
    r = logrank_test(df, "t", "ev", "g", weight_col="w")
    assert r["n_events"] == 5  # all raw event rows, incl. the omega=0 one
    # the omega=0 row contributes nothing to the statistic: removing it
    # leaves O-E and the variance unchanged
    r2 = logrank_test(
        df.where(F.col("w") > 0), "t", "ev", "g", weight_col="w"
    )
    assert r["observed_minus_expected_a"] == pytest.approx(
        r2["observed_minus_expected_a"], rel=1e-12
    )
    assert r["variance"] == pytest.approx(r2["variance"], rel=1e-12)


def test_weibull_aft_weighted_replication_identity(spark):
    """r13 weight_col on weibull_aft (VERDICT r12 #1): ω multiplies every
    per-subject likelihood term, so integer case weights equal row
    replication for the converged β/se/scale/loglik (the coxph identity;
    the Newton START differs only in the σ denominator — raw n vs Σω —
    which the contraction forgets). Unit weights == unweighted; guards
    raise; n/n_events report RAW rows; the estimator forwards weightCol."""
    import tempfile

    from sparkglm_spark.ml import SparkWeibullAFT, SparkWeibullAFTModel
    from sparkglm_spark.operators.survival import weibull_aft

    rng = np.random.default_rng(131)
    n = 300
    x = rng.normal(0, 1, n)
    t = np.exp(1.0 + 0.5 * x + 0.7 * np.log(-np.log(rng.random(n))))
    c = np.exp(1.2 + rng.normal(0, 1, n))
    time = np.minimum(t, c)
    ev = (t <= c).astype(float)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(time[i]), float(ev[i]), float(x[i]), int(w[i]))
         for i in range(n)],
        "t double, e double, x double, w int",
    )
    rep = df.withColumn("r", F.explode(F.expr("sequence(1, w)"))).drop("r", "w")

    mw = weibull_aft(df, "t", "e", ["x"], weight_col="w", tol=1e-12)
    mr = weibull_aft(rep, "t", "e", ["x"], tol=1e-12)
    assert np.abs(mw.coefs - mr.coefs).max() < 1e-7
    assert np.abs(mw.se - mr.se).max() < 1e-7
    assert mw.scale == pytest.approx(mr.scale, rel=1e-8)
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-10)
    assert mw.n == n and mr.n == int(w.sum())          # raw row counts
    assert mw.n_events == int(ev.sum())                 # raw, not ω-mass
    assert mw.weight_col == "w"

    # unit weights == unweighted (same likelihood, same start)
    m1 = weibull_aft(df.withColumn("w1", F.lit(1.0)), "t", "e", ["x"],
                     weight_col="w1", tol=1e-12)
    m0 = weibull_aft(df, "t", "e", ["x"], tol=1e-12)
    assert np.abs(m1.coefs - m0.coefs).max() < 1e-10
    assert m1.scale == pytest.approx(m0.scale, rel=1e-10)

    with pytest.raises(ValueError, match="negative"):
        weibull_aft(
            df.withColumn("w", F.when(F.col("x") > 1, -1.0).otherwise(1.0)),
            "t", "e", ["x"], weight_col="w",
        )
    with pytest.raises(ValueError, match="null"):
        weibull_aft(
            df.withColumn("w", F.when(F.col("x") > 1, None).otherwise(F.lit(1.0))),
            "t", "e", ["x"], weight_col="w",
        )
    with pytest.raises(ValueError, match="unidentified"):
        weibull_aft(
            df.withColumn("w", F.lit(1.0) - F.col("e")),  # ω = 0 on events
            "t", "e", ["x"], weight_col="w",
        )

    # estimator forwards weightCol; persist round-trips the field
    est = SparkWeibullAFT(
        featureCols=["x"], timeCol="t", eventCol="e", weightCol="w",
        tol=1e-12,
    ).fit(df)
    assert np.abs(est.model.coefs - mw.coefs).max() < 1e-12
    assert est.model.weight_col == "w"
    with tempfile.TemporaryDirectory() as d:
        path = d + "/aftw"
        est.write().overwrite().save(path)
        back = SparkWeibullAFTModel.read().load(path)
        assert back.model.weight_col == "w"
        assert np.abs(back.model.coefs - mw.coefs).max() < 1e-12


def test_weibull_aft_grouped_weighted(spark):
    """r13 weight_col on weibull_aft_grouped: each group's weighted
    numpy twin lands on the same MLE as the distributed weighted fit on
    that slice; weight degeneracies (negative/null ω, zero event mass)
    NULL-degrade per the grouped policy instead of raising."""
    from sparkglm_spark.operators.survival import weibull_aft, weibull_aft_grouped

    rng = np.random.default_rng(132)
    rows = []
    for g, (b0, b1, s) in (("a", (1.0, 0.5, 0.7)), ("b", (0.3, -0.6, 1.1))):
        for _ in range(250):
            x = float(rng.normal())
            ww = float(rng.integers(1, 4))
            t = float(np.exp(b0 + b1 * x + s * np.log(-np.log(rng.random()))))
            c = float(np.exp(1.2 + rng.normal()))
            rows.append((g, min(t, c), float(t <= c), x, ww))
    # negative-weight group and zero-event-mass group -> NULL rows
    rows += [("negw", float(i + 1.0), 1.0, float(i) / 4.0, -1.0 if i == 0 else 1.0)
             for i in range(5)]
    rows += [("zev", float(i + 1.0), float(i < 3), float(i) / 4.0,
              0.0 if i < 3 else 2.0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "g string, time double, event double, x double, w double"
    )
    out = {
        (r.g, r.term): r
        for r in weibull_aft_grouped(
            df, "time", "event", ["x"], ["g"], weight_col="w", tol=1e-12
        ).collect()
    }
    for g in ("a", "b"):
        m = weibull_aft(df.where(F.col("g") == g), "time", "event", ["x"],
                        weight_col="w", tol=1e-12)
        for i, term in enumerate(m.xnames):
            assert out[(g, term)].estimate == pytest.approx(
                float(m.coefs[i]), rel=1e-5, abs=1e-7
            ), (g, term)
            assert out[(g, term)].se == pytest.approx(
                float(m.se[i]), rel=1e-4
            ), (g, term)
        assert out[(g, "scale")].estimate == pytest.approx(m.scale, rel=1e-5)
        assert out[(g, "x")].loglik == pytest.approx(m.loglik, rel=1e-8)
        assert out[(g, "x")].converged
        assert out[(g, "x")].n_events == m.n_events  # raw event rows
    for g in ("negw", "zev"):
        assert out[(g, "x")].estimate is None, g
        assert not out[(g, "x")].converged, g


def test_concordance_index_weighted_replication_identity(spark):
    """r13 weight_col on concordance_index: a pair counts ω_i·ω_j, so
    integer case weights equal row replication EXACTLY (integer-valued
    float64 masses are exact sums — equality, not approx) for c_index
    and every pair mass; unit weights == unweighted exactly; both
    within-bucket kernels agree under weights (forced via n_buckets);
    zero-weight rows == filtered rows; guards raise."""
    from sparkglm_spark.operators.survival import concordance_index

    rng = np.random.default_rng(139)
    n = 400
    risk = np.round(rng.normal(0, 1, n), 1)      # heavy risk ties
    t = np.round(rng.exponential(np.exp(-0.6 * risk)), 2)  # time ties too
    c = rng.exponential(1.5, n)
    time = np.minimum(t, c)
    ev = (t <= c).astype(float)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(time[i]), float(ev[i]), float(risk[i]), int(w[i]))
         for i in range(n)],
        "t double, e double, r double, w int",
    )
    rep = df.withColumn("q", F.explode(F.expr("sequence(1, w)"))).drop("q", "w")

    ow = concordance_index(df, "t", "e", "r", weight_col="w")
    orp = concordance_index(rep, "t", "e", "r")
    assert ow["c_index"] == orp["c_index"]                     # exact
    assert float(ow["n_comparable"]) == float(orp["n_comparable"])
    assert float(ow["n_concordant"]) == float(orp["n_concordant"])
    assert float(ow["n_tied_risk"]) == float(orp["n_tied_risk"])
    assert ow["n"] == n and ow["n_events"] == int(ev.sum())   # raw rows
    assert isinstance(ow["n_comparable"], float)               # omega mass

    # unit weights == unweighted exactly; kernel choice irrelevant
    o1 = concordance_index(
        df.withColumn("w1", F.lit(1.0)), "t", "e", "r", weight_col="w1"
    )
    o0 = concordance_index(df, "t", "e", "r")
    assert o1["c_index"] == o0["c_index"]
    assert float(o1["n_concordant"]) == float(o0["n_concordant"])
    # bucketing is irrelevant under weights: many tiny buckets vs one
    om = concordance_index(df, "t", "e", "r", n_buckets=64, weight_col="w")
    o1b = concordance_index(df, "t", "e", "r", n_buckets=1, weight_col="w")
    assert om["c_index"] == pytest.approx(o1b["c_index"], rel=1e-14)
    assert float(om["n_concordant"]) == float(o1b["n_concordant"])

    # zero-weight rows are exactly absent
    dfz = df.withColumn(
        "w", F.when(F.col("r") > 1.0, 0.0).otherwise(F.col("w").cast("double"))
    )
    oz = concordance_index(dfz, "t", "e", "r", weight_col="w")
    of = concordance_index(
        dfz.where(F.col("w") > 0), "t", "e", "r", weight_col="w"
    )
    assert oz["c_index"] == of["c_index"]
    assert float(oz["n_comparable"]) == float(of["n_comparable"])

    with pytest.raises(ValueError, match="negative"):
        concordance_index(
            df.withColumn("w", F.when(F.col("r") > 1, -1.0).otherwise(1.0)),
            "t", "e", "r", weight_col="w",
        )
    with pytest.raises(ValueError, match="null"):
        concordance_index(
            df.withColumn("w", F.when(F.col("r") > 1, None)
                          .otherwise(F.lit(1.0))),
            "t", "e", "r", weight_col="w",
        )
    with pytest.raises(ValueError, match="comparable mass"):
        concordance_index(
            df.withColumn("w", F.lit(1.0) - F.col("e")),
            "t", "e", "r", weight_col="w",
        )


def test_schoenfeld_ph_weighted_replication_identity(spark):
    """r13: a weight_col CoxPH model's Schoenfeld residuals and
    cox.zph-style PH test carry omega through every count — integer
    case weights equal row replication for each residual row, the
    per-covariate chi2 and the global test; n_events reports the omega
    event MASS (double) on the weighted frame."""
    from sparkglm_spark.operators.survival import (
        coxph,
        ph_assumption_test,
        schoenfeld_residuals,
    )

    rng = np.random.default_rng(140)
    n = 250
    x = rng.normal(0, 1, n)
    t = np.round(rng.exponential(np.exp(-0.6 * x)), 2) + 0.01
    c = rng.exponential(1.5, n)
    time = np.minimum(t, c)
    ev = (t <= c).astype(float)
    w = rng.integers(1, 4, n)
    df = spark.createDataFrame(
        [(float(time[i]), float(ev[i]), float(x[i]), int(w[i]))
         for i in range(n)],
        "t double, e double, x double, w int",
    )
    rep = df.withColumn("q", F.explode(F.expr("sequence(1, w)"))).drop("q", "w")
    mw = coxph(df, "t", "e", ["x"], weight_col="w", tol=1e-12)
    mr = coxph(rep, "t", "e", ["x"], tol=1e-12)

    rw = {r.time: r for r in schoenfeld_residuals(mw, df).collect()}
    rr = {r.time: r for r in schoenfeld_residuals(mr, rep).collect()}
    assert set(rw) == set(rr) and len(rw) > 10
    for tt in rw:
        assert float(rw[tt].n_events) == pytest.approx(
            float(rr[tt].n_events), rel=1e-12
        )
        assert rw[tt].resid_x == pytest.approx(rr[tt].resid_x, abs=1e-8)
    # weighted frame reports the omega mass as double
    assert isinstance(rw[max(rw)].n_events, float)

    pw = ph_assumption_test(mw, df)
    pr = ph_assumption_test(mr, rep)
    assert pw["per_covariate"]["x"]["chi2"] == pytest.approx(
        pr["per_covariate"]["x"]["chi2"], rel=1e-7
    )
    assert pw["global"]["chi2"] == pytest.approx(
        pr["global"]["chi2"], rel=1e-7
    )
    assert float(pw["n_events"]) == pytest.approx(
        float(pr["n_events"]), rel=1e-12
    )
    # residuals still sum to ~0 at the weighted MLE (they ARE the score)
    tot = sum(r.resid_x for r in rw.values())
    assert abs(tot) < 1e-6


def test_logrank_stratified(spark):
    """r13 strata_col on logrank_test (R survdiff + strata()): the
    stratified statistic sums O−E and V over per-stratum risk sets —
    identical to summing each stratum's own unstratified test (the
    additivity identity); composes with integer case weights
    (replication); null-strata rows drop; a single-group stratum
    contributes exactly zero."""
    from sparkglm_spark.functions.special import chisq_sf
    from sparkglm_spark.operators.survival import logrank_test

    rng = np.random.default_rng(141)
    rows = []
    for s_id, hr in (("s1", 0.5), ("s2", 1.5), ("s3", 1.0)):
        for _ in range(160):
            g = int(rng.random() < 0.5)
            t = float(rng.exponential(1.0 / (hr if g else 1.0)))
            c = float(rng.exponential(2.0))
            w = int(rng.integers(1, 4))
            rows.append((s_id, "a" if g == 0 else "b",
                         round(min(t, c), 3) + 0.001, float(t <= c), w))
    df = spark.createDataFrame(
        rows, "s string, g string, t double, e double, w int"
    )
    res = logrank_test(df, "t", "e", "g", strata_col="s")
    # additivity: sum of per-stratum unstratified O-E and V
    oe = v = 0.0
    for s_id in ("s1", "s2", "s3"):
        r = logrank_test(df.where(F.col("s") == s_id), "t", "e", "g")
        oe += r["observed_minus_expected_a"]
        v += r["variance"]
    assert res["observed_minus_expected_a"] == pytest.approx(oe, rel=1e-10)
    assert res["variance"] == pytest.approx(v, rel=1e-10)
    assert res["chi2"] == pytest.approx(oe * oe / v, rel=1e-10)
    assert res["p_value"] == pytest.approx(
        float(chisq_sf(oe * oe / v, 1.0)), rel=1e-10
    )
    # stratified + weighted == replicated stratified
    rw = logrank_test(df, "t", "e", "g", strata_col="s", weight_col="w")
    rep = df.withColumn("q", F.explode(F.expr("sequence(1, w)"))).drop("q", "w")
    rr = logrank_test(rep, "t", "e", "g", strata_col="s")
    assert rw["chi2"] == pytest.approx(rr["chi2"], rel=1e-10)
    assert rw["variance"] == pytest.approx(rr["variance"], rel=1e-10)
    # null strata drop (== the filtered frame)
    dfn = df.withColumn(
        "s", F.when(F.col("t") > 2.0, None).otherwise(F.col("s"))
    )
    rn = logrank_test(dfn, "t", "e", "g", strata_col="s")
    rf = logrank_test(dfn.where(F.col("s").isNotNull()), "t", "e", "g",
                      strata_col="s")
    assert rn["chi2"] == pytest.approx(rf["chi2"], rel=1e-12)
    assert rn["n_events"] == rf["n_events"]
    # a stratum holding only group 'a' adds zero to both sums
    extra = spark.createDataFrame(
        [("only_a", "a", float(i + 1), 1.0, 1) for i in range(6)],
        df.schema,
    )
    rx = logrank_test(df.unionByName(extra), "t", "e", "g", strata_col="s")
    assert rx["observed_minus_expected_a"] == pytest.approx(
        res["observed_minus_expected_a"], rel=1e-10
    )
    assert rx["variance"] == pytest.approx(res["variance"], rel=1e-10)
    # review r13 pass 2: a group confined to NULL-strata rows must not
    # fail the two-group census — R drops NA strata FIRST
    ghost = spark.createDataFrame(
        [(None, "c", float(i + 1), 1.0, 1) for i in range(4)], df.schema
    )
    rg = logrank_test(df.unionByName(ghost), "t", "e", "g", strata_col="s")
    assert rg["chi2"] == pytest.approx(res["chi2"], rel=1e-12)


# ---------------------------------------------------------------------------
# r14: counting-process Cox — coxph(entry_col=), R Surv(start, stop, event)


def _brute_cox_cp(start, stop, ev, X, w=None, strata=None):
    """Independent brute-force (start, stop] Breslow partial likelihood:
    explicit O(n·#events) risk-set masks (start < t <= stop), NOT the
    engine's signed suffix-sum plan — a genuinely different derivation.
    Returns (beta, se, loglik) from the same Newton-from-0 stop rule."""
    n, k = X.shape
    w = np.ones(n) if w is None else w
    strata = np.zeros(n) if strata is None else np.asarray(strata)

    def stats(beta):
        eta = X @ beta
        r = w * np.exp(eta)
        ll = 0.0
        grad = np.zeros(k)
        info = np.zeros((k, k))
        for s in np.unique(strata):
            ms = strata == s
            for t in np.unique(stop[ms & (ev == 1.0)]):
                at = ms & (start < t) & (stop >= t)
                evt = ms & (stop == t) & (ev == 1.0)
                d = w[evt].sum()
                S0 = r[at].sum()
                S1 = (r[at, None] * X[at]).sum(axis=0)
                S2 = (
                    r[at, None, None] * X[at][:, :, None] * X[at][:, None, :]
                ).sum(axis=0)
                ll += (w[evt] * eta[evt]).sum() - d * np.log(S0)
                grad += (w[evt, None] * X[evt]).sum(axis=0) - d * S1 / S0
                m = S1 / S0
                info += d * (S2 / S0 - np.outer(m, m))
        return ll, grad, info

    beta = np.zeros(k)
    llp = None
    for _ in range(50):
        ll, g, info = stats(beta)
        beta = beta + np.linalg.solve(info, g)
        if llp is not None and abs(ll - llp) <= 1e-9 * (abs(ll) + 1e-9):
            break
        llp = ll
    ll, _, info = stats(beta)
    return beta, np.sqrt(np.diag(np.linalg.inv(info))), ll


@pytest.fixture(scope="module")
def cp_data(spark):
    """Delayed-entry frame WITH TIES (rounded axes) + weights + strata."""
    rng = np.random.default_rng(47)
    n = 300
    x1 = rng.normal(0, 1, n)
    x2 = (rng.random(n) < 0.4).astype(float)
    start = np.round(rng.uniform(0, 2, n), 1)
    dur = np.round(
        rng.exponential(1.0 / np.exp(0.6 * x1 - 0.4 * x2)), 1
    ) + 0.2
    stop = start + dur
    ev = (rng.random(n) < 0.75).astype(float)
    wq = (1.0 + np.arange(n) % 3).astype(float)
    strat = np.arange(n) % 2
    df = spark.createDataFrame(
        [
            (float(a), float(b), float(c), float(d), float(e_), float(f),
             int(g))
            for a, b, c, d, e_, f, g in zip(
                start, stop, ev, x1, x2, wq, strat
            )
        ],
        "start double, stop double, event double, x1 double, x2 double,"
        " wq double, s int",
    ).repartition(5)
    return df, start, stop, ev, np.column_stack([x1, x2]), wq, strat


def test_coxph_entry_matches_bruteforce(cp_data):
    df, start, stop, ev, X, _, _ = cp_data
    m = coxph(df, "stop", "event", ["x1", "x2"], entry_col="start")
    beta, se, ll = _brute_cox_cp(start, stop, ev, X)
    np.testing.assert_allclose(m.coefs, beta, rtol=1e-8)
    np.testing.assert_allclose(m.se, se, rtol=1e-8)
    assert m.loglik == pytest.approx(ll, rel=1e-10)
    assert m.entry_col == "start"


def test_coxph_entry_episode_split_invariance(cp_data):
    """The Andersen-Gill property the two-arm plan must honor: splitting
    any (start, stop] row at an interior point into (start, mid](ev=0) +
    (mid, stop](ev) changes NOTHING — same risk sets, same fit."""
    df, *_ = cp_data
    base = coxph(df, "stop", "event", ["x1", "x2"], entry_col="start")
    mid = (F.col("start") + F.col("stop")) / 2.0
    first = df.select(
        F.col("start"), mid.alias("stop"), F.lit(0.0).alias("event"),
        "x1", "x2", "wq", "s",
    )
    second = df.select(
        mid.alias("start"), F.col("stop"), F.col("event"),
        "x1", "x2", "wq", "s",
    )
    split = coxph(
        first.unionByName(second), "stop", "event", ["x1", "x2"],
        entry_col="start",
    )
    np.testing.assert_allclose(split.coefs, base.coefs, rtol=1e-9)
    np.testing.assert_allclose(split.se, base.se, rtol=1e-9)
    assert split.loglik == pytest.approx(base.loglik, rel=1e-10)


def test_coxph_entry_before_origin_equals_plain(cp_data):
    """entry strictly before every exit time == everyone at risk from the
    start == the plain right-censored fit."""
    df, *_ = cp_data
    plain = coxph(df, "stop", "event", ["x1", "x2"])
    early = coxph(
        df.withColumn("start0", F.lit(-1.0)),
        "stop", "event", ["x1", "x2"], entry_col="start0",
    )
    np.testing.assert_allclose(early.coefs, plain.coefs, rtol=1e-9)
    np.testing.assert_allclose(early.se, plain.se, rtol=1e-9)
    assert early.loglik == pytest.approx(plain.loglik, rel=1e-10)


def test_coxph_entry_weighted_replication_identity(cp_data):
    """Integer case weights == row replication, with delayed entry."""
    df, start, stop, ev, X, wq, _ = cp_data
    mw = coxph(
        df, "stop", "event", ["x1", "x2"], entry_col="start",
        weight_col="wq",
    )
    rep = df.withColumn(
        "q", F.explode(F.expr("sequence(1, CAST(wq AS INT))"))
    ).drop("q", "wq")
    mr = coxph(rep, "stop", "event", ["x1", "x2"], entry_col="start")
    np.testing.assert_allclose(mw.coefs, mr.coefs, rtol=1e-9)
    np.testing.assert_allclose(mw.se, mr.se, rtol=1e-9)
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-10)
    # and the weighted fit matches the weighted brute force
    beta, se, ll = _brute_cox_cp(start, stop, ev, X, w=wq)
    np.testing.assert_allclose(mw.coefs, beta, rtol=1e-8)
    assert mw.loglik == pytest.approx(ll, rel=1e-10)


def test_coxph_entry_stratified_matches_bruteforce(cp_data):
    df, start, stop, ev, X, _, strat = cp_data
    m = coxph(
        df, "stop", "event", ["x1", "x2"], entry_col="start",
        strata_col="s",
    )
    beta, se, ll = _brute_cox_cp(start, stop, ev, X, strata=strat)
    np.testing.assert_allclose(m.coefs, beta, rtol=1e-8)
    np.testing.assert_allclose(m.se, se, rtol=1e-8)
    assert m.loglik == pytest.approx(ll, rel=1e-10)


def test_coxph_entry_baseline_and_schoenfeld(cp_data):
    from sparkglm_spark.operators.survival import (
        ph_assumption_test,
        schoenfeld_residuals,
    )

    df, start, stop, ev, X, _, _ = cp_data
    m = coxph(df, "stop", "event", ["x1", "x2"], entry_col="start")
    bh = m.baseline_hazard(df).toPandas()
    # brute Breslow H0 over (start, stop] risk sets at the fitted beta
    r = np.exp(X @ m.coefs)
    et = np.unique(stop[ev == 1.0])
    h0 = np.cumsum(
        [
            ((stop == t) & (ev == 1.0)).sum()
            / r[(start < t) & (stop >= t)].sum()
            for t in et
        ]
    )
    np.testing.assert_allclose(
        bh.sort_values("time")["cum_hazard"].to_numpy(), h0, rtol=1e-10
    )
    # Schoenfeld residuals of the counting-process score sum to ~0 at
    # the fitted beta (they ARE the score contributions)
    res = schoenfeld_residuals(m, df).toPandas()
    assert abs(res["resid_x1"].sum()) < 1e-6
    assert abs(res["resid_x2"].sum()) < 1e-6
    zph = ph_assumption_test(m, df)
    assert 0.0 <= zph["global"]["p_value"] <= 1.0
    # survival prediction composes (bounded probabilities)
    sv = m.predict_survival(
        df.limit(5), times=[float(np.median(stop))], train_df=df
    ).toPandas()
    col = [c for c in sv.columns if c.startswith("surv_")][0]
    assert ((sv[col] > 0.0) & (sv[col] <= 1.0)).all()


def test_coxph_entry_time_bucket(cp_data):
    """Bucketing inside the plan == pre-bucketing both axes by hand
    (restricted to intervals the flooring does not collapse — collapsed
    ones are the guard's job, tested in test_coxph_entry_guards)."""
    df, *_ = cp_data
    keep = df.where(
        F.floor(F.col("start") / 0.5) < F.floor(F.col("stop") / 0.5)
    )
    m = coxph(
        keep, "stop", "event", ["x1", "x2"], entry_col="start",
        time_bucket=0.5,
    )
    pre = keep.select(
        (F.floor(F.col("start") / 0.5).cast("double") * 0.5).alias("start"),
        (F.floor(F.col("stop") / 0.5).cast("double") * 0.5).alias("stop"),
        "event", "x1", "x2",
    )
    mp = coxph(pre, "stop", "event", ["x1", "x2"], entry_col="start")
    np.testing.assert_allclose(m.coefs, mp.coefs, rtol=1e-10)
    assert m.loglik == pytest.approx(mp.loglik, rel=1e-12)


def test_coxph_entry_guards(spark, cp_data):
    df, *_ = cp_data
    with pytest.raises(ValueError, match="entry_col must differ"):
        coxph(df, "stop", "event", ["x1"], entry_col="stop")
    with pytest.raises(ValueError, match="null time/event/entry"):
        coxph(
            df.withColumn(
                "start",
                F.when(F.col("x2") > 0, None).otherwise(F.col("start")),
            ),
            "stop", "event", ["x1"], entry_col="start",
        )
    with pytest.raises(ValueError, match="entry >= time"):
        coxph(
            df.withColumn("bad", F.col("stop") + 1.0),
            "stop", "event", ["x1"], entry_col="bad",
        )
    # a bucket wide enough to collapse intervals must refuse, and say why
    with pytest.raises(ValueError, match="time_bucket"):
        coxph(
            df, "stop", "event", ["x1"], entry_col="start",
            time_bucket=1000.0,
        )


def test_coxph_grouped_entry_matches_per_group(cp_data):
    from sparkglm_spark.operators.survival import coxph_grouped

    df, *_ = cp_data
    out = (
        coxph_grouped(
            df, "stop", "event", ["x1", "x2"], ["s"], entry_col="start"
        )
        .toPandas()
        .sort_values(["s", "term"])
    )
    for gv in (0, 1):
        mg = coxph(
            df.where(F.col("s") == gv), "stop", "event", ["x1", "x2"],
            entry_col="start",
        )
        sl = out[out.s == gv].set_index("term")
        for i, name in enumerate(["x1", "x2"]):
            assert sl.loc[name, "estimate"] == pytest.approx(
                float(mg.coefs[i]), rel=1e-9
            )
            assert sl.loc[name, "se"] == pytest.approx(
                float(mg.se[i]), rel=1e-9
            )


def test_coxph_grouped_entry_dirty_group_nulls(spark):
    """Grouped dirty-interval policy: a group with entry >= time
    degenerates to the NULL row (the distributed fitter raises)."""
    from sparkglm_spark.operators.survival import coxph_grouped

    rows = [
        # clean group
        ("a", 0.0, 2.0, 1.0, 0.3), ("a", 0.5, 3.0, 1.0, -0.2),
        ("a", 1.0, 4.0, 0.0, 0.8), ("a", 0.2, 5.0, 1.0, 0.1),
        # dirty: one inverted interval
        ("b", 3.0, 2.0, 1.0, 0.4), ("b", 0.0, 1.0, 1.0, -0.5),
    ]
    df = spark.createDataFrame(
        rows, "g string, start double, stop double, event double, x double"
    )
    out = coxph_grouped(
        df, "stop", "event", ["x"], ["g"], entry_col="start"
    ).toPandas()
    assert out[out.g == "a"]["estimate"].notna().all()
    assert out[out.g == "b"]["estimate"].isna().all()


# ---------------------------------------------------------------------------
# r14: cox.zph R-parity — transform="km" + scaled per-covariate statistic


def test_ph_assumption_km_scaled_match_r_algorithm(surv_data):
    """Independent numpy replication of R survival::cox.zph's (pre-3.0)
    algorithm — per-event Schoenfeld residuals, the left-continuous
    pooled-KM axis g = 1 − KM(t₋), scaled residuals r·V·d — must match
    the engine's one-aggregation + prefix-plan computation at 1e-10."""
    from sparkglm_spark.operators.survival import ph_assumption_test

    df, t, e, X = surv_data
    m = coxph(df, "time", "event", ["x1", "x2"])

    # --- numpy R replication (explicit per-event loops, no suffix plans)
    et = np.unique(t[e == 1.0])
    # pooled KM over ALL rows at each distinct event time
    surv, s_run = [], 1.0
    for tk in et:
        n_at = (t >= tk).sum()
        d_k = ((t == tk) & (e == 1.0)).sum()
        s_run *= 1.0 - d_k / n_at
        surv.append(s_run)
    km_prev = {tk: (1.0 if i == 0 else surv[i - 1]) for i, tk in enumerate(et)}
    # per-event schoenfeld residual + g
    r = np.exp(X @ m.coefs)
    s_list, g_list = [], []
    for i in np.where(e == 1.0)[0]:
        at = t >= t[i]
        S0 = r[at].sum()
        S1 = (r[at, None] * X[at]).sum(axis=0)
        s_list.append(X[i] - S1 / S0)
        g_list.append(1.0 - km_prev[t[i]])
    S = np.array(s_list)
    gv = np.array(g_list)
    xx = gv - gv.mean()
    u = (xx[:, None] * S).sum(axis=0)
    V = np.asarray(m.cov_params)
    d_tot = float(e.sum())
    ssg = float((xx ** 2).sum())
    vu = V @ u
    want_scaled = d_tot * vu ** 2 / (np.diag(V) * ssg)
    info = np.linalg.inv(V)
    want_marginal = u ** 2 / ((np.diag(info) / d_tot) * ssg)
    want_glob = float(d_tot * u @ V @ u / ssg)

    zs = ph_assumption_test(m, df, transform="km", scaled=True)
    zm = ph_assumption_test(m, df, transform="km")
    for i, name in enumerate(["x1", "x2"]):
        assert zs["per_covariate"][name]["chi2"] == pytest.approx(
            float(want_scaled[i]), rel=1e-10
        ), name
        assert zm["per_covariate"][name]["chi2"] == pytest.approx(
            float(want_marginal[i]), rel=1e-10
        ), name
    assert zs["global"]["chi2"] == pytest.approx(want_glob, rel=1e-10)
    assert zm["global"]["chi2"] == pytest.approx(want_glob, rel=1e-10)
    assert zs["scaled"] is True and zm["scaled"] is False
    # scaled also applies to the identity axis (R transform='identity')
    zi = ph_assumption_test(m, df, transform="identity", scaled=True)
    xx_t = t[e == 1.0] - t[e == 1.0].mean()
    u_t = (xx_t[:, None] * S).sum(axis=0)
    vu_t = V @ u_t
    want_t = d_tot * vu_t ** 2 / (np.diag(V) * (xx_t ** 2).sum())
    for i, name in enumerate(["x1", "x2"]):
        assert zi["per_covariate"][name]["chi2"] == pytest.approx(
            float(want_t[i]), rel=1e-10
        ), name


def test_ph_assumption_km_weighted_replication_and_entry(cp_data):
    """The km axis composes with the engine's other Cox features:
    integer case weights == row replication (the pooled KM is the
    ω-weighted product-limit), and a counting-process model's km axis
    uses the (start, stop] at-risk masses."""
    from sparkglm_spark.operators.survival import ph_assumption_test

    df, start, stop, ev, X, wq, _ = cp_data
    mw = coxph(df, "stop", "event", ["x1", "x2"], weight_col="wq")
    rep = df.withColumn(
        "q", F.explode(F.expr("sequence(1, CAST(wq AS INT))"))
    ).drop("q", "wq")
    mr = coxph(rep, "stop", "event", ["x1", "x2"])
    zw = ph_assumption_test(mw, df, transform="km", scaled=True)
    zr = ph_assumption_test(mr, rep, transform="km", scaled=True)
    for name in ["x1", "x2"]:
        assert zw["per_covariate"][name]["chi2"] == pytest.approx(
            zr["per_covariate"][name]["chi2"], rel=1e-9
        ), name
    assert zw["global"]["chi2"] == pytest.approx(
        zr["global"]["chi2"], rel=1e-9
    )
    # counting-process: km axis from the (start, stop] risk sets — the
    # at-risk mass at t is suffix(exits) − suffix(entries); verify
    # against an explicit numpy KM with delayed entry
    mcp = coxph(df, "stop", "event", ["x1", "x2"], entry_col="start")
    z = ph_assumption_test(mcp, df, transform="km")
    et = np.unique(stop[ev == 1.0])
    surv, s_run = [], 1.0
    for tk in et:
        n_at = ((start < tk) & (stop >= tk)).sum()
        d_k = ((stop == tk) & (ev == 1.0)).sum()
        s_run *= 1.0 - d_k / n_at
        surv.append(s_run)
    km_prev = {tk: (1.0 if i == 0 else surv[i - 1])
               for i, tk in enumerate(et)}
    r = np.exp(X @ mcp.coefs)
    s_list, g_list = [], []
    for i in np.where(ev == 1.0)[0]:
        at = (start < stop[i]) & (stop >= stop[i])
        S0 = r[at].sum()
        S1 = (r[at, None] * X[at]).sum(axis=0)
        s_list.append(X[i] - S1 / S0)
        g_list.append(1.0 - km_prev[stop[i]])
    S = np.array(s_list)
    gv = np.array(g_list)
    xx = gv - gv.mean()
    u = (xx[:, None] * S).sum(axis=0)
    d_tot = float(ev.sum())
    ssg = float((xx ** 2).sum())
    info = np.linalg.inv(np.asarray(mcp.cov_params))
    want = u ** 2 / ((np.diag(info) / d_tot) * ssg)
    for i, name in enumerate(["x1", "x2"]):
        assert z["per_covariate"][name]["chi2"] == pytest.approx(
            float(want[i]), rel=1e-9
        ), name


def test_ph_assumption_km_guards(surv_data):
    from sparkglm_spark.operators.survival import ph_assumption_test

    df, *_ = surv_data
    ms = coxph(df, "time", "event", ["x1"], strata_col="x2")
    with pytest.raises(ValueError, match="stratified"):
        ph_assumption_test(ms, df, transform="km")
    m = coxph(df, "time", "event", ["x1"])
    with pytest.raises(ValueError, match="transform"):
        ph_assumption_test(m, df, transform="rank")


# ---------------------------------------------------------------------------
# r14: stratified Weibull AFT — weibull_aft(strata_col=), per-stratum scale


@pytest.fixture(scope="module")
def aft_strat_data(spark):
    """Planted per-stratum-scale Weibull AFT data with censoring: shared
    β, σ ∈ {0.5, 1.0, 1.6} by stratum; ln E ~ standard minimum extreme
    value for E ~ Exp(1)."""
    rng = np.random.default_rng(59)
    n = 600
    x = rng.normal(size=n)
    s = np.array(["a", "b", "c"])[np.arange(n) % 3]
    sig = {"a": 0.5, "b": 1.0, "c": 1.6}
    W = np.log(rng.exponential(size=n))
    t = np.exp(1.0 + 0.8 * x + np.array([sig[v] for v in s]) * W)
    c = rng.exponential(scale=np.exp(2.2), size=n)
    ev = (t <= c).astype(float)
    tt = np.minimum(t, c)
    wq = (1.0 + np.arange(n) % 2).astype(float)
    df = spark.createDataFrame(
        [(float(tt[i]), float(ev[i]), float(x[i]), str(s[i]), float(wq[i]))
         for i in range(n)],
        "t double, e double, x double, s string, wq double",
    ).repartition(5)
    return df, tt, ev, x, s, wq


def test_weibull_aft_stratified_matches_numpy_mle(aft_strat_data):
    """The stratified fit maximizes the joint likelihood: verify against
    an independent dense numpy Newton on (β, ln σ_a, ln σ_b, ln σ_c)
    with explicit per-row loops — the per-stratum groupBy assembly must
    land on the same MLE at 1e-7."""
    from sparkglm_spark.operators.survival import weibull_aft

    df, tt, ev, x, s, _ = aft_strat_data
    m = weibull_aft(df, "t", "e", ["x"], strata_col="s")
    assert m.converged
    assert np.isnan(m.scale) and set(m.scales) == {"a", "b", "c"}

    X = np.column_stack([np.ones_like(x), x])
    lt = np.log(tt)
    svals = ["a", "b", "c"]
    si = np.array([svals.index(v) for v in s])

    def nll(p):
        b, ls = p[:2], p[2:]
        z = (lt - X @ b) / np.exp(ls[si])
        return -(ev * (z - ls[si]) - np.exp(z)).sum()

    # independent optimizer: coarse Nelder-Mead-free — plain gradient
    # check via numeric differentiation at the ENGINE's optimum (the
    # MLE test: gradient ~ 0 and nll is locally minimal)
    p0 = np.concatenate(
        [m.coefs, [np.log(m.scales[v]) for v in svals]]
    )
    f0 = nll(p0)
    eps = 1e-5
    for i in range(len(p0)):
        dp = np.zeros_like(p0)
        dp[i] = eps
        gnum = (nll(p0 + dp) - nll(p0 - dp)) / (2 * eps)
        assert abs(gnum) < 1e-3 * (1.0 + abs(f0)), i
        assert nll(p0 + dp) > f0 - 1e-6 and nll(p0 - dp) > f0 - 1e-6, i
    assert m.loglik == pytest.approx(-f0, rel=1e-10)


def test_weibull_aft_stratified_single_stratum_equals_plain(aft_strat_data):
    from sparkglm_spark.operators.survival import weibull_aft

    df, *_ = aft_strat_data
    da = df.where(F.col("s") == "a")
    m1 = weibull_aft(da, "t", "e", ["x"], strata_col="s")
    m0 = weibull_aft(da, "t", "e", ["x"])
    np.testing.assert_allclose(m1.coefs, m0.coefs, rtol=1e-9)
    assert m1.scales["a"] == pytest.approx(m0.scale, rel=1e-9)
    assert m1.loglik == pytest.approx(m0.loglik, rel=1e-12)


def test_weibull_aft_stratified_weighted_replication(aft_strat_data):
    from sparkglm_spark.operators.survival import weibull_aft

    df, *_ = aft_strat_data
    mw = weibull_aft(df, "t", "e", ["x"], strata_col="s", weight_col="wq")
    rep = df.withColumn(
        "q", F.explode(F.expr("sequence(1, CAST(wq AS INT))"))
    ).drop("q", "wq")
    mr = weibull_aft(rep, "t", "e", ["x"], strata_col="s")
    np.testing.assert_allclose(mw.coefs, mr.coefs, rtol=1e-7)
    for v in mw.scales:
        assert mw.scales[v] == pytest.approx(mr.scales[v], rel=1e-7)
    assert mw.loglik == pytest.approx(mr.loglik, rel=1e-9)


def test_weibull_aft_stratified_predict_and_guards(spark, aft_strat_data):
    from sparkglm_spark.operators.survival import weibull_aft

    df, tt, ev, x, s, _ = aft_strat_data
    m = weibull_aft(df, "t", "e", ["x"], strata_col="s")
    # per-row sigma drives scoring; unseen stratum -> NULL
    score = spark.createDataFrame(
        [(0.0, "a"), (0.0, "c"), (0.0, "zz")], "x double, s string"
    )
    out = m.predict(score).collect()
    med = {r.s: r.median_survival_time for r in out}
    assert med["zz"] is None
    assert med["a"] == pytest.approx(
        float(np.exp(m.coefs[0]) * np.log(2.0) ** m.scales["a"]), rel=1e-12
    )
    sv = {r.s: r.surv_2 for r in m.predict_survival(score, [2.0]).collect()}
    assert sv["zz"] is None and 0.0 < sv["a"] <= 1.0
    za = (np.log(2.0) - float(m.coefs[0])) / m.scales["a"]
    assert sv["a"] == pytest.approx(float(np.exp(-np.exp(za))), rel=1e-12)
    # summary: one log_scale row per stratum, finite se
    rows = {r[0]: r for r in m.summary_rows()}
    for v in ("a", "b", "c"):
        assert np.isfinite(rows[f"log_scale[{v}]"][2])
    # guards: strata in x_cols; null strata; eventless stratum
    with pytest.raises(ValueError, match="covariate"):
        weibull_aft(df, "t", "e", ["x", "s"], strata_col="s")
    with pytest.raises(ValueError, match="null stratum"):
        weibull_aft(
            df.withColumn(
                "s", F.when(F.col("x") > 0, None).otherwise(F.col("s"))
            ),
            "t", "e", ["x"], strata_col="s",
        )
    with pytest.raises(ValueError, match="no events"):
        weibull_aft(
            df.withColumn(
                "e", F.when(F.col("s") == "b", 0.0).otherwise(F.col("e"))
            ),
            "t", "e", ["x"], strata_col="s",
        )


def test_r14_persist_round_trips(cp_data, aft_strat_data, tmp_path):
    """entry_col (Cox) and strata_col/scales (AFT) survive save/load;
    reloaded models score identically."""
    from sparkglm_spark.operators.survival import weibull_aft
    from sparkglm_spark.persist import load_model, save_model

    df, *_ = cp_data
    m = coxph(df, "stop", "event", ["x1"], entry_col="start")
    pth = str(tmp_path / "cp_cox.json")
    save_model(m, pth)
    m2 = load_model(pth)
    assert m2.entry_col == "start"
    np.testing.assert_allclose(m2.coefs, m.coefs)
    a = m.baseline_hazard(df).toPandas()
    b = m2.baseline_hazard(df).toPandas()
    np.testing.assert_allclose(
        a["cum_hazard"].to_numpy(), b["cum_hazard"].to_numpy()
    )

    adf, *_ = aft_strat_data
    am = weibull_aft(adf, "t", "e", ["x"], strata_col="s")
    apth = str(tmp_path / "saft.json")
    save_model(am, apth)
    am2 = load_model(apth)
    assert am2.strata_col == "s" and am2.scales == am.scales
    assert np.isnan(am2.scale)
    got = am2.predict(adf.limit(5)).toPandas()["median_survival_time"]
    want = am.predict(adf.limit(5)).toPandas()["median_survival_time"]
    np.testing.assert_allclose(got.to_numpy(), want.to_numpy())


class TestAFTMixedCensoring:
    """r14: left/interval censoring (R Surv codes 2/3) through the
    (P, Q) chain-rule frame. Oracles: the `_aft_newton_dense` twin
    (identical kernels run in-memory), simulation truth recovery, and
    the exact-event limit of a shrinking interval."""

    @pytest.fixture(scope="class")
    def mixed_data(self, spark):
        rng = np.random.default_rng(10)
        n = 2500
        x = rng.uniform(0, 1, n)
        W = np.log(-np.log(1 - rng.uniform(size=n)))
        T = np.exp(10.0 + 0.5 * x + 0.7 * W)
        u = rng.uniform(size=n)
        code = np.select([u < 0.2, u < 0.4, u < 0.7], [0.0, 2.0, 3.0],
                         default=1.0)
        t = np.where(code == 0, T * 0.7,
                     np.where(code == 2, T * 1.5,
                              np.where(code == 3, T * 0.75, T)))
        t2 = np.where(code == 3, T * 1.6, np.nan)
        import pandas as pd

        pdf = pd.DataFrame({"t": t, "t2": t2, "c": code, "x": x})
        return spark.createDataFrame(pdf).repartition(5), pdf

    def test_matches_numpy_twin_and_recovers_truth(self, mixed_data):
        from sparkglm_spark.operators.survival import (
            _aft_newton_dense,
            weibull_aft,
        )

        df, pdf = mixed_data
        m = weibull_aft(df, "t", "c", ["x"], time2_col="t2")
        n = len(pdf)
        X = np.column_stack([np.ones(n), pdf["x"].to_numpy()])
        bb, ls, se, ll, _it, conv = _aft_newton_dense(
            pdf["t"].to_numpy(), pdf["c"].to_numpy(), X, None, 1e-9, 50,
            intercept_idx=0, t2=pdf["t2"].to_numpy(),
        )
        assert conv and m.converged
        np.testing.assert_allclose(m.coefs, bb, rtol=1e-9)
        assert abs(m.scale - float(np.exp(ls))) < 1e-9
        assert abs(m.loglik - ll) < 1e-6
        np.testing.assert_allclose(m.se, se, rtol=1e-7)
        # simulation truth: beta0=10, beta1=0.5, sigma=0.7 at n=2500
        assert abs(m.coefs[0] - 10.0) < 0.15
        assert abs(m.coefs[1] - 0.5) < 0.2
        assert abs(m.scale - 0.7) < 0.08
        # n_events counts EXACT events only
        assert m.n_events == int((pdf["c"] == 1.0).sum())

    def test_pinned_trajectory_matches_twin(self, mixed_data):
        from sparkglm_spark.operators.survival import (
            _aft_newton_dense,
            weibull_aft,
        )

        df, pdf = mixed_data
        m = weibull_aft(df, "t", "c", ["x"], time2_col="t2",
                        exact_iterations=3)
        n = len(pdf)
        X = np.column_stack([np.ones(n), pdf["x"].to_numpy()])
        bb, ls, *_ = _aft_newton_dense(
            pdf["t"].to_numpy(), pdf["c"].to_numpy(), X, 3, 1e-9, 50,
            intercept_idx=0, t2=pdf["t2"].to_numpy(),
        )
        np.testing.assert_allclose(m.coefs, bb, rtol=1e-10)
        assert abs(np.log(m.scale) - ls) < 1e-10

    def test_shrinking_interval_approaches_exact_fit(self, spark):
        # interval (t, t(1+eps)] -> the exact-event fit as eps -> 0
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft

        rng = np.random.default_rng(4)
        n = 1200
        x = rng.uniform(0, 1, n)
        W = np.log(-np.log(1 - rng.uniform(size=n)))
        T = np.exp(5.0 + 0.8 * x + 0.5 * W)
        exact = pd.DataFrame({"t": T, "c": np.ones(n), "t2": np.nan, "x": x})
        m_ex = weibull_aft(spark.createDataFrame(exact), "t", "c", ["x"])
        iv = pd.DataFrame({"t": T, "c": np.full(n, 3.0), "t2": T * 1.0001,
                           "x": x})
        m_iv = weibull_aft(spark.createDataFrame(iv), "t", "c", ["x"],
                           time2_col="t2")
        np.testing.assert_allclose(m_iv.coefs, m_ex.coefs, atol=2e-4)
        assert abs(m_iv.scale - m_ex.scale) < 2e-4

    def test_left_censored_only(self, spark):
        # pure left-censored data: identifiable, matches the twin
        import pandas as pd

        from sparkglm_spark.operators.survival import (
            _aft_newton_dense,
            weibull_aft,
        )

        rng = np.random.default_rng(9)
        n = 1500
        x = rng.uniform(0, 1, n)
        W = np.log(-np.log(1 - rng.uniform(size=n)))
        T = np.exp(3.0 + 0.6 * x + 0.4 * W)
        # observe an inspection time C; record T <= C as left-censored
        # at C, else exact (the standard current-status-ish mix)
        C = np.exp(3.3 + 0.6 * x)
        code = np.where(T <= C, 2.0, 1.0)
        t = np.where(code == 2.0, C, T)
        pdf = pd.DataFrame({"t": t, "c": code, "x": x})
        m = weibull_aft(spark.createDataFrame(pdf), "t", "c", ["x"])
        X = np.column_stack([np.ones(n), x])
        bb, ls, *_ = _aft_newton_dense(t, code, X, None, 1e-9, 50,
                                       intercept_idx=0)
        np.testing.assert_allclose(m.coefs, bb, rtol=1e-8)
        assert abs(m.scale - float(np.exp(ls))) < 1e-8

    def test_weighted_replication_identity(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft

        rng = np.random.default_rng(3)
        n = 500
        x = rng.uniform(0, 1, n)
        W = np.log(-np.log(1 - rng.uniform(size=n)))
        T = np.exp(4.0 + 0.5 * x + 0.6 * W)
        u = rng.uniform(size=n)
        code = np.select([u < 0.25, u < 0.5], [0.0, 3.0], default=1.0)
        t = np.where(code == 3.0, T * 0.8, T)
        t2 = np.where(code == 3.0, T * 1.5, np.nan)
        w = rng.integers(1, 4, size=n).astype(float)
        pdf = pd.DataFrame({"t": t, "t2": t2, "c": code, "x": x, "w": w})
        rep = pdf.loc[pdf.index.repeat(pdf["w"].astype(int))]
        mw = weibull_aft(spark.createDataFrame(pdf), "t", "c", ["x"],
                         time2_col="t2", weight_col="w")
        mr = weibull_aft(spark.createDataFrame(rep.drop(columns="w")),
                         "t", "c", ["x"], time2_col="t2")
        np.testing.assert_allclose(mw.coefs, mr.coefs, rtol=1e-7)
        assert abs(mw.scale - mr.scale) < 1e-7 * (1 + mr.scale)
        assert abs(mw.loglik - mr.loglik) < 1e-5
        np.testing.assert_allclose(mw.se, mr.se, rtol=1e-6)

    def test_guards(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft

        base = pd.DataFrame({
            "t": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "t2": [np.nan, 4.0, np.nan, np.nan, 7.0, np.nan],
            "c": [1.0, 3.0, 0.0, 1.0, 3.0, 1.0],
            "x": [0.1, 0.5, 0.9, 0.3, 0.7, 0.2],
            "g": ["a", "a", "b", "b", "a", "b"],
        })
        df = spark.createDataFrame(base)
        with pytest.raises(ValueError, match="need time2_col"):
            weibull_aft(df, "t", "c", ["x"])
        bad = spark.createDataFrame(base.assign(t2=[np.nan, 1.5, np.nan,
                                                    np.nan, 7.0, np.nan]))
        with pytest.raises(ValueError, match="time2 <= time"):
            weibull_aft(bad, "t", "c", ["x"], time2_col="t2")
        with pytest.raises(ValueError, match="not supported yet"):
            weibull_aft(df, "t", "c", ["x"], time2_col="t2",
                        strata_col="g")
        # all-right-censored with no 2/3 codes stays the classic path
        allr = spark.createDataFrame(base.assign(c=0.0))
        with pytest.raises(ValueError, match="no events"):
            weibull_aft(allr, "t", "c", ["x"], time2_col="t2")
        # mixed mode but too few location-informative rows for the start
        few = spark.createDataFrame(
            base.assign(c=[0.0, 3.0, 0.0, 0.0, 0.0, 0.0])
        )
        with pytest.raises(ValueError, match="location-informative"):
            weibull_aft(few, "t", "c", ["x"], time2_col="t2")

    def test_grouped_mixed_matches_per_slice(self, spark, mixed_data):
        from sparkglm_spark.operators.survival import (
            weibull_aft,
            weibull_aft_grouped,
        )

        df, pdf = mixed_data
        import pandas as pd

        pdf2 = pdf.copy()
        pdf2["seg"] = np.where(pdf2.index % 2 == 0, "a", "b")
        gdf = spark.createDataFrame(pdf2).repartition(4)
        out = (
            weibull_aft_grouped(
                gdf, "t", "c", ["x"], ["seg"], time2_col="t2",
                exact_iterations=3,
            )
            .toPandas()
            .set_index(["seg", "term"])
        )
        for seg in ("a", "b"):
            sl = gdf.where(F.col("seg") == seg)
            m = weibull_aft(sl, "t", "c", ["x"], time2_col="t2",
                            exact_iterations=3)
            np.testing.assert_allclose(
                [out.loc[(seg, "intercept"), "estimate"],
                 out.loc[(seg, "x"), "estimate"]],
                m.coefs, rtol=1e-9,
            )
            assert abs(out.loc[(seg, "scale"), "estimate"] - m.scale) < 1e-9
            assert abs(out.loc[(seg, "scale"), "loglik"] - m.loglik) < 1e-5
            assert out.loc[(seg, "x"), "n_events"] == m.n_events

    def test_grouped_mixed_degenerate_isolation(self, spark):
        # a group whose interval rows have t2 <= t NULL-degrades; the
        # healthy sibling is untouched
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft_grouped

        rng = np.random.default_rng(2)
        n = 300
        x = rng.uniform(0, 1, n)
        T = np.exp(4.0 + 0.5 * x + 0.6 * np.log(
            -np.log(1 - rng.uniform(size=n))))
        good = pd.DataFrame({
            "seg": "good", "t": T * 0.8, "t2": T * 1.5,
            "c": np.full(n, 3.0), "x": x,
        })
        bad = good.assign(seg="bad", t2=good["t"] * 0.5)  # t2 < t
        df = spark.createDataFrame(pd.concat([good, bad]))
        out = (
            weibull_aft_grouped(df, "t", "c", ["x"], ["seg"],
                                time2_col="t2")
            .toPandas().set_index(["seg", "term"])
        )
        assert np.isnan(out.loc[("bad", "x"), "estimate"])
        assert np.isfinite(out.loc[("good", "x"), "estimate"])
        # code-3 rows without time2_col also NULL-degrade (no bound)
        out2 = (
            weibull_aft_grouped(df, "t", "c", ["x"], ["seg"])
            .toPandas().set_index(["seg", "term"])
        )
        assert np.isnan(out2.loc[("good", "x"), "estimate"])


class TestSurvregDists:
    """r14: survreg(dist=) — loglogistic / lognormal AFT through the
    single-z (A, B) chain-rule frame. Oracles: the shared
    `_aft_newton_dense(dist=)` twin, simulation truth recovery under
    independent censoring, closed-form scoring identities."""

    def _sim(self, dist, seed=31, n=3000):
        rng = np.random.default_rng(seed)
        x = rng.uniform(0, 1, n)
        if dist == "loglogistic":
            u = rng.uniform(size=n)
            W = np.log(u / (1 - u))
        else:
            W = rng.normal(size=n)
        T = np.exp(3.0 + 0.8 * x + 0.5 * W)
        C = np.exp(rng.uniform(3.2, 5.0, size=n))  # independent censoring
        ev = (T <= C).astype(float)
        t = np.minimum(T, C)
        import pandas as pd

        return pd.DataFrame({"t": t, "ev": ev, "x": x})

    @pytest.mark.parametrize("dist", ["loglogistic", "lognormal"])
    def test_twin_identity_and_truth(self, spark, dist):
        from sparkglm_spark.operators.survival import (
            _aft_newton_dense,
            survreg,
        )

        pdf = self._sim(dist)
        n = len(pdf)
        df = spark.createDataFrame(pdf).repartition(4)
        m = survreg(df, "t", "ev", ["x"], dist=dist, exact_iterations=4)
        X = np.column_stack([np.ones(n), pdf["x"].to_numpy()])
        bb, ls, se, ll, _it, _cv = _aft_newton_dense(
            pdf["t"].to_numpy(), pdf["ev"].to_numpy(), X, 4, 1e-9, 50,
            intercept_idx=0, dist=dist,
        )
        np.testing.assert_allclose(m.coefs, bb, rtol=1e-9)
        assert abs(np.log(m.scale) - ls) < 1e-9
        assert abs(m.loglik - ll) < 1e-6
        np.testing.assert_allclose(m.se, se, rtol=1e-7)
        mc = survreg(df, "t", "ev", ["x"], dist=dist)
        assert mc.converged
        assert abs(mc.coefs[0] - 3.0) < 0.1
        assert abs(mc.coefs[1] - 0.8) < 0.15
        assert abs(mc.scale - 0.5) < 0.06
        assert mc.dist == dist

    def test_scoring_closed_forms(self, spark):
        from sparkglm_spark.operators.survival import survreg

        pdf = self._sim("loglogistic", seed=7, n=1200)
        df = spark.createDataFrame(pdf)
        m = survreg(df, "t", "ev", ["x"], dist="loglogistic")
        row = (
            m.predict(df.limit(1))
            .join(
                m.predict_survival(df.limit(1), [10.0]), on=["t", "ev", "x"]
            )
            .collect()[0]
        )
        eta = m.coefs[0] + m.coefs[1] * row["x"]
        assert row["median_survival_time"] == pytest.approx(np.exp(eta),
                                                            rel=1e-10)
        z = (np.log(10.0) - eta) / m.scale
        assert row["surv_10"] == pytest.approx(1.0 / (1.0 + np.exp(z)),
                                               rel=1e-10)
        # lognormal survival = Phi(-z)
        pdn = self._sim("lognormal", seed=8, n=1200)
        dfn = spark.createDataFrame(pdn)
        mn = survreg(dfn, "t", "ev", ["x"], dist="lognormal")
        rown = mn.predict_survival(dfn.limit(1), [15.0]).collect()[0]
        from sparkglm_spark.functions.special import norm_sf

        etan = mn.coefs[0] + mn.coefs[1] * rown["x"]
        zn = (np.log(15.0) - etan) / mn.scale
        assert rown["surv_15"] == pytest.approx(float(norm_sf(zn)), rel=1e-9)

    def test_weighted_replication(self, spark):
        from sparkglm_spark.operators.survival import survreg

        pdf = self._sim("lognormal", seed=13, n=500)
        rng = np.random.default_rng(1)
        pdf["w"] = rng.integers(1, 4, size=len(pdf)).astype(float)
        rep = pdf.loc[pdf.index.repeat(pdf["w"].astype(int))]
        mw = survreg(spark.createDataFrame(pdf), "t", "ev", ["x"],
                     dist="lognormal", weight_col="w")
        mr = survreg(spark.createDataFrame(rep.drop(columns="w")),
                     "t", "ev", ["x"], dist="lognormal")
        np.testing.assert_allclose(mw.coefs, mr.coefs, rtol=1e-7)
        assert abs(mw.scale - mr.scale) < 1e-7
        assert abs(mw.loglik - mr.loglik) < 1e-4

    def test_grouped_dist_matches_per_slice(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import (
            survreg,
            weibull_aft_grouped,
        )

        a = self._sim("loglogistic", seed=3, n=700).assign(seg="a")
        b = self._sim("loglogistic", seed=5, n=700).assign(seg="b")
        df = spark.createDataFrame(pd.concat([a, b])).repartition(3)
        out = (
            weibull_aft_grouped(
                df, "t", "ev", ["x"], ["seg"], dist="loglogistic",
                exact_iterations=4,
            )
            .toPandas().set_index(["seg", "term"])
        )
        for seg in ("a", "b"):
            m = survreg(df.where(F.col("seg") == seg), "t", "ev", ["x"],
                        dist="loglogistic", exact_iterations=4)
            np.testing.assert_allclose(
                [out.loc[(seg, "intercept"), "estimate"],
                 out.loc[(seg, "x"), "estimate"]],
                m.coefs, rtol=1e-9,
            )
            assert abs(out.loc[(seg, "scale"), "estimate"] - m.scale) < 1e-9

    def test_guards(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import (
            survreg,
            weibull_aft_grouped,
        )

        pdf = self._sim("lognormal", seed=2, n=50)
        df = spark.createDataFrame(pdf)
        with pytest.raises(ValueError, match="dist must"):
            survreg(df, "t", "ev", ["x"], dist="gamma")
        mixed = pdf.copy()
        mixed.loc[0, "ev"] = 2.0
        with pytest.raises(ValueError, match="right censoring only"):
            survreg(spark.createDataFrame(mixed), "t", "ev", ["x"],
                    dist="lognormal")
        pdf2 = pdf.assign(g=np.where(pdf.index % 2 == 0, "a", "b"))
        with pytest.raises(ValueError, match="right censoring only"):
            survreg(spark.createDataFrame(pdf2), "t", "ev", ["x"],
                    dist="loglogistic", strata_col="g")
        # grouped: a codes-2/3 group under a non-weibull dist NULLs,
        # sibling untouched
        g = pd.concat([
            pdf.assign(seg="ok"),
            mixed.assign(seg="bad"),
        ])
        out = (
            weibull_aft_grouped(
                spark.createDataFrame(g), "t", "ev", ["x"], ["seg"],
                dist="loglogistic",
            )
            .toPandas().set_index(["seg", "term"])
        )
        assert np.isnan(out.loc[("bad", "x"), "estimate"])
        assert np.isfinite(out.loc[("ok", "x"), "estimate"])

    # ---- review-pass r14 regressions (pass 3) -----------------------

    def test_residuals_dispatch_on_dist(self, spark):
        import pandas as pd

        from sparkglm_spark.functions.special import norm_sf
        from sparkglm_spark.operators.survival import aft_residuals, survreg

        pdf = self._sim("loglogistic", seed=23, n=600)
        df = spark.createDataFrame(pdf)
        m = survreg(df, "t", "ev", ["x"], dist="loglogistic")
        r = aft_residuals(df.limit(1), m).collect()[0]
        eta = m.coefs[0] + m.coefs[1] * r["x"]
        z = (np.log(r["t"]) - eta) / m.scale
        assert r["cox_snell"] == pytest.approx(np.log1p(np.exp(z)), rel=1e-10)
        assert r["martingale"] == pytest.approx(
            r["ev"] - np.log1p(np.exp(z)), rel=1e-9, abs=1e-12)
        pdn = self._sim("lognormal", seed=24, n=600)
        dfn = spark.createDataFrame(pdn)
        mn = survreg(dfn, "t", "ev", ["x"], dist="lognormal")
        rn = aft_residuals(dfn.limit(1), mn).collect()[0]
        etan = mn.coefs[0] + mn.coefs[1] * rn["x"]
        zn = (np.log(rn["t"]) - etan) / mn.scale
        assert rn["cox_snell"] == pytest.approx(
            -np.log(float(norm_sf(zn))), rel=1e-9)

    def test_residuals_null_on_mixed_codes(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import (
            aft_residuals,
            weibull_aft,
        )

        rng = np.random.default_rng(6)
        n = 400
        x = rng.uniform(0, 1, n)
        T = np.exp(4.0 + 0.5 * x + 0.6 * np.log(
            -np.log(1 - rng.uniform(size=n))))
        code = np.where(rng.uniform(size=n) < 0.3, 3.0, 1.0)
        t = np.where(code == 3.0, T * 0.8, T)
        t2 = np.where(code == 3.0, T * 1.5, np.nan)
        pdf = pd.DataFrame({"t": t, "t2": t2, "c": code, "x": x})
        df = spark.createDataFrame(pdf)
        m = weibull_aft(df, "t", "c", ["x"], time2_col="t2")
        out = aft_residuals(df, m).toPandas()
        c3 = out["c"] == 3.0
        assert out.loc[c3, "cox_snell"].isna().all()
        assert out.loc[c3, "martingale"].isna().all()
        assert out.loc[~c3, "cox_snell"].notna().all()

    def test_nan_inf_time2_rejected(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft

        base = pd.DataFrame({
            "t": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "t2": [np.nan, np.nan, np.nan, np.nan, 7.0, np.nan],
            "c": [1.0, 3.0, 0.0, 1.0, 3.0, 1.0],
            "x": [0.1, 0.5, 0.9, 0.3, 0.7, 0.2],
        })
        # code-3 row with NaN t2: previously passed validation (NaN
        # compares false) and poisoned the start silently
        with pytest.raises(ValueError, match="interval rows"):
            weibull_aft(spark.createDataFrame(base), "t", "c", ["x"],
                        time2_col="t2")
        inf = base.assign(t2=[np.nan, np.inf, np.nan, np.nan, 7.0, np.nan])
        with pytest.raises(ValueError, match="interval rows"):
            weibull_aft(spark.createDataFrame(inf), "t", "c", ["x"],
                        time2_col="t2")

    def test_all_left_censored_raises(self, spark):
        import pandas as pd

        from sparkglm_spark.operators.survival import weibull_aft

        rng = np.random.default_rng(3)
        pdf = pd.DataFrame({
            "t": np.exp(rng.normal(2.0, 0.5, 60)),
            "c": np.full(60, 2.0),
            "x": rng.uniform(0, 1, 60),
        })
        with pytest.raises(ValueError, match="left-censored"):
            weibull_aft(spark.createDataFrame(pdf), "t", "c", ["x"])


def _aft_frame_case(kind, n=200, seed=5):
    """A planted AFT frame for one kernel: (dist, codes, ln t, ln t2,
    X, ω, state). `lognormal` carries a censored row at z = 40, past
    the Mills asymptote (Φ̄ underflows near z ≈ 38)."""
    rng = np.random.default_rng(seed)
    x = rng.uniform(-1.0, 1.0, n)
    X = np.column_stack([np.ones(n), x])
    state = np.array([1.0, 0.5, np.log(0.7)])
    xb = X @ state[:2]
    lt = xb + 0.7 * rng.normal(size=n)
    e = (rng.random(n) < 0.7).astype(float)
    lt2 = lt.copy()
    dist = kind
    if kind == "weibull_interval":
        dist = "weibull"
        e = rng.integers(0, 4, n).astype(float)
        lt2 = np.where(e == 3.0, lt + rng.uniform(0.2, 1.0, n), lt)
    if kind == "lognormal":
        e[0], lt[0] = 0.0, xb[0] + 40.0 * 0.7
    w = rng.integers(1, 4, n).astype(float)
    return dist, e, lt, lt2, X, w, state


class TestAFTFrame:
    """The shared (P, Q) frame: `_aft_sums` is the exact chain rule of
    each kernel's ℓ, and the Spark and numpy kernels agree."""

    KINDS = ["weibull", "weibull_interval", "loglogistic", "lognormal"]

    @staticmethod
    def _np_stats(kind_case, st):
        from sparkglm_spark.operators.survival import (
            _aft_np_terms,
            _aft_sums,
            _aft_unpack,
        )

        dist, e, lt, lt2, X, w, _ = kind_case
        k = X.shape[1]
        ls = float(st[k])
        sigma = float(np.exp(ls))
        xb = X @ st[:k]
        zr = (lt2 - xb) / sigma if np.any(e >= 2.0) else None
        terms = _aft_np_terms(dist, e, (lt - xb) / sigma, ls, zr)
        sums = _aft_sums(terms, [X[:, i] for i in range(k)], w,
                         1.0 / sigma, 1.0 / sigma**2)
        return _aft_unpack([v.sum() for v in sums], k)

    def _check_chain_rule(self, case, hess_rtol):
        st0 = case[-1]
        ll, grad, hess = self._np_stats(case, st0)
        eye = np.eye(len(st0))
        h = 1e-6
        fd_g = np.array([
            (self._np_stats(case, st0 + h * d)[0]
             - self._np_stats(case, st0 - h * d)[0]) / (2 * h)
            for d in eye
        ])
        np.testing.assert_allclose(grad, fd_g, rtol=1e-6,
                                   atol=1e-6 * np.abs(fd_g).max())
        h = 1e-5
        fd_h = np.array([
            (self._np_stats(case, st0 + h * d)[1]
             - self._np_stats(case, st0 - h * d)[1]) / (2 * h)
            for d in eye
        ])
        np.testing.assert_allclose(hess, fd_h, rtol=hess_rtol,
                                   atol=hess_rtol * np.abs(fd_h).max())
        assert np.isfinite(ll)

    @pytest.mark.parametrize("kind", KINDS)
    def test_sums_are_the_chain_rule(self, kind):
        # lognormal's far-tail row (z = 40) runs on the Mills asymptote:
        # to O(1/z) alone, PLL = h(z − h) and ∂P/∂z differ by 2/z²,
        # which this tolerance catches
        self._check_chain_rule(_aft_frame_case(kind), 1e-6)

    @pytest.mark.parametrize("kind", KINDS)
    def test_spark_and_numpy_kernels_agree(self, spark, kind):
        import pandas as pd

        from sparkglm_spark.operators.survival import (
            _aft_col_terms,
            _aft_np_terms,
            _aft_sums,
            _mills_udf,
        )

        dist, e, lt, lt2, X, w, st = _aft_frame_case(kind)
        mixed = kind == "weibull_interval"
        ls = float(st[2])
        sigma = float(np.exp(ls))
        xb = X @ st[:2]
        zr = (lt2 - xb) / sigma if mixed else None
        np_sums = _aft_sums(
            _aft_np_terms(dist, e, (lt - xb) / sigma, ls, zr),
            [X[:, 0], X[:, 1]], w, 1.0 / sigma, 1.0 / sigma**2,
        )
        df = spark.createDataFrame(pd.DataFrame({
            "lt": lt, "lt2": lt2, "d": e, "one": X[:, 0], "x": X[:, 1],
            "w": w,
        }))
        xs = [F.col("one"), F.col("x")]
        eta = F.lit(0.0) + F.lit(float(st[0])) * xs[0] + F.lit(float(st[1])) * xs[1]
        zl = (F.col("lt") - eta) / F.lit(sigma)
        zrc = (
            F.when(F.col("d") == 3.0, (F.col("lt2") - eta) / F.lit(sigma))
            .otherwise(zl) if mixed else None
        )
        terms = _aft_col_terms(
            dist, F.col("d"), zl, ls, zrc,
            _mills_udf() if dist == "lognormal" else None,
        )
        col_sums = _aft_sums(terms, xs, F.col("w"), 1.0 / sigma,
                             1.0 / sigma**2)
        row = df.agg(*[F.sum(v) for v in col_sums]).collect()[0]
        np.testing.assert_allclose(
            np.array(list(row), dtype=np.float64),
            np.array([v.sum() for v in np_sums]),
            rtol=1e-12,
        )
