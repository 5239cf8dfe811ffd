"""Special-function accuracy vs math-module / known values."""

import math

import numpy as np
import pytest

from sparkglm_spark.functions import special


def test_norm_cdf_known_values():
    assert special.norm_cdf(0.0) == pytest.approx(0.5, abs=1e-15)
    assert float(special.norm_cdf(1.959963984540054)) == pytest.approx(0.975, abs=1e-12)
    assert float(special.norm_cdf(-1.959963984540054)) == pytest.approx(0.025, abs=1e-12)


def test_norm_ppf_roundtrip():
    p = np.linspace(1e-10, 1 - 1e-10, 10001)
    x = special.norm_ppf(p)
    back = special.norm_cdf(x)
    assert np.max(np.abs(back - p)) < 1e-12


def test_norm_ppf_known():
    assert float(special.norm_ppf(np.array(0.975))) == pytest.approx(
        1.959963984540054, abs=1e-12
    )
    assert float(special.norm_ppf(np.array(0.5))) == pytest.approx(0.0, abs=1e-15)


def test_t_sf_matches_normal_at_high_df():
    # T with huge df ≈ normal
    for t in [0.5, 1.0, 2.0, 3.0]:
        assert special.t_sf(t, 1e7) == pytest.approx(
            float(special.norm_sf(t)), rel=1e-4
        )


def test_t_sf_known_values():
    # classic table values: P(T_10 > 2.228139) = 0.025
    assert special.t_sf(2.2281388519649385, 10) == pytest.approx(0.025, abs=1e-8)
    # df=1 is Cauchy: P(T_1 > 1) = 0.25
    assert special.t_sf(1.0, 1) == pytest.approx(0.25, abs=1e-12)
    # symmetry
    assert special.t_sf(-1.3, 7) == pytest.approx(1 - special.t_sf(1.3, 7), abs=1e-12)


def test_binom_logpmf():
    # Binomial(10, 0.3).pmf(3) = C(10,3)·0.3³·0.7⁷
    expect = math.log(120 * 0.3**3 * 0.7**7)
    assert float(special.binom_logpmf(3, 10, 0.3)) == pytest.approx(expect, rel=1e-12)
    # Bernoulli edge: y=0 and y=1
    assert float(special.binom_logpmf(1, 1, 0.25)) == pytest.approx(math.log(0.25), rel=1e-12)
    assert float(special.binom_logpmf(0, 1, 0.25)) == pytest.approx(math.log(0.75), rel=1e-12)


def test_betainc_symmetry():
    assert special.betainc(2.0, 3.0, 0.4) == pytest.approx(
        1.0 - special.betainc(3.0, 2.0, 0.6), abs=1e-12
    )
    assert special.betainc(0.5, 0.5, 0.5) == pytest.approx(0.5, abs=1e-12)


def test_chisq_sf_closed_form_goldens():
    """Even-df χ² survival has exact closed forms (Poisson-sum identity);
    df=1 reduces to erfc — independent of the series/Lentz implementation."""
    import math

    from sparkglm_spark.functions.special import chisq_sf

    for x in (0.3, 1.0, 3.84, 10.0, 40.0):
        assert chisq_sf(x, 2) == pytest.approx(math.exp(-x / 2), rel=1e-13)
        assert chisq_sf(x, 1) == pytest.approx(
            math.erfc(math.sqrt(x / 2)), rel=1e-11
        )
        assert chisq_sf(x, 4) == pytest.approx(
            (1 + x / 2) * math.exp(-x / 2), rel=1e-13
        )
        assert chisq_sf(x, 6) == pytest.approx(
            (1 + x / 2 + x * x / 8) * math.exp(-x / 2), rel=1e-13
        )
    assert chisq_sf(0.0, 3) == 1.0
    assert chisq_sf(-1.0, 3) == 1.0


def test_f_sf_matches_t_squared_identity():
    """F(1, d) is T(d)² — ties f_sf to the betainc t_sf path exactly."""
    from sparkglm_spark.functions.special import f_sf, t_sf

    for t in (0.25, 1.0, 2.0, 3.5):
        for d2 in (3.0, 10.0, 120.0):
            assert f_sf(t * t, 1.0, d2) == pytest.approx(
                2.0 * t_sf(t, d2), rel=1e-11
            )
    assert f_sf(0.0, 2.0, 10.0) == 1.0


class TestDigammaTrigamma:
    """ψ/ψ′ (r14 — the glm_nb θ-score kernels): closed-form values,
    recurrence identities, the integer-shift series the DuckDB oracle
    replays, and the domain guard."""

    def test_known_values(self):
        import math

        from sparkglm_spark.functions.special import digamma, trigamma

        g = 0.5772156649015328606
        assert abs(float(digamma(1.0)) + g) < 1e-12
        assert abs(float(digamma(0.5)) + g + 2.0 * math.log(2.0)) < 1e-12
        assert abs(float(trigamma(1.0)) - math.pi**2 / 6.0) < 1e-12
        assert abs(float(trigamma(0.5)) - math.pi**2 / 2.0) < 1e-12

    def test_recurrences(self):
        import numpy as np

        from sparkglm_spark.functions.special import digamma, trigamma

        x = np.linspace(0.05, 60.0, 1777)
        assert np.max(np.abs(digamma(x + 1) - digamma(x) - 1.0 / x)) < 1e-12
        assert np.max(np.abs(trigamma(x + 1) - trigamma(x) + 1.0 / x**2)) < 1e-12

    def test_integer_shift_series(self):
        # ψ(θ+y) − ψ(θ) = Σ_{j<y} 1/(θ+j) — the exact-series form the
        # SQL oracle uses for integer counts
        from sparkglm_spark.functions.special import digamma, trigamma

        th, y = 3.7, 23
        assert abs(
            float(digamma(th + y) - digamma(th))
            - sum(1.0 / (th + j) for j in range(y))
        ) < 1e-12
        assert abs(
            float(trigamma(th) - trigamma(th + y))
            - sum(1.0 / (th + j) ** 2 for j in range(y))
        ) < 1e-12

    def test_domain(self):
        import pytest

        from sparkglm_spark.functions.special import digamma, trigamma

        with pytest.raises(ValueError):
            digamma(0.0)
        with pytest.raises(ValueError):
            trigamma(-1.0)
