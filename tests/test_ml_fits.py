"""Behavioral tests for the numpy model-fitting kernels (regime EM,
GARCH MLE, isolation forest, LOF) and their Spark operators.

These fits are deterministic under our seeds but intentionally not
numerically identical to statsmodels/arch/sklearn (different
optimizers/RNG streams) — so the assertions here are recovery
properties on synthetic data, not golden numbers.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataframeutils_spark import driver
from dataframeutils_spark.functions import ml
from dataframeutils_spark.operators import ml_fits
from dataframeutils_spark.schema import PanelSchema, melt_panel

from tests.conftest import SF_DIR
from tests.ref_fixture import reference_panel


def test_markov_switching_recovers_regimes():
    rng = np.random.default_rng(0)
    # persistent 2-state chain, means -2 / +2
    states = [0]
    for _ in range(399):
        s = states[-1]
        states.append(s if rng.random() < 0.97 else 1 - s)
    states = np.array(states)
    x = np.where(states == 0, -2.0, 2.0) + rng.normal(0, 0.7, 400)
    fit = ml.markov_switching_fit(x, 2)
    assert abs(fit["mu"][0] - (-2.0)) < 0.3 and abs(fit["mu"][1] - 2.0) < 0.3
    probs = fit["smoothed_probs"]
    assert probs.shape == (400, 2)
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, atol=1e-8)
    decoded = np.argmax(probs, axis=1)
    assert (decoded == states).mean() > 0.95
    # beats a single-regime gaussian fit
    single_llf = -0.5 * 400 * (np.log(2 * np.pi * x.var()) + 1)
    assert fit["llf"] > single_llf
    assert fit["transition"][0, 0] > 0.9 and fit["transition"][1, 1] > 0.9


def test_garch_recovers_volatility_clustering():
    rng = np.random.default_rng(1)
    n = 1000
    e = np.empty(n)
    s2 = np.empty(n)
    s2[0] = 1.0
    for t in range(n):
        if t > 0:
            s2[t] = 0.05 + 0.1 * e[t - 1] ** 2 + 0.85 * s2[t - 1]
        e[t] = rng.normal(0, np.sqrt(s2[t]))
    fit = ml.garch_fit(e + 0.5, model="GARCH")
    assert 0.7 < fit["persistence"] < 1.0
    assert np.isfinite(fit["llf"])
    assert (fit["cond_vol"] > 0).all()
    assert abs(fit["params"]["mu"] - 0.5) < 0.1


@pytest.mark.parametrize("model", ["EGARCH", "GJR-GARCH"])
def test_garch_variants_fit(model):
    rng = np.random.default_rng(2)
    x = rng.normal(0, 1, 300)
    fit = ml.garch_fit(x, model=model)
    assert np.isfinite(fit["llf"]) and np.isfinite(fit["aic"])
    assert (fit["cond_vol"] > 0).all()


def test_garch_survives_logistic_overflow():
    """Low-variance data drives the ARCH logit below -709, where
    exp(-x) overflows; the logistic map must take its 0.0 limit."""
    x = np.random.default_rng(0).standard_normal(150) * 0.01 + 0.05
    fit = ml.garch_fit(x)
    assert np.isfinite(fit["llf"])
    assert (fit["cond_vol"] > 0).all()


def test_gjr_detects_leverage_asymmetry():
    """Simulate a GJR process (negative shocks raise vol more) and a
    symmetric GARCH process: the fitted asymmetry term must be clearly
    positive on the former and larger than on the latter."""
    rng = np.random.default_rng(5)
    n = 1500

    def simulate(gamma):
        e = np.empty(n)
        s2 = np.empty(n)
        s2[0] = 1.0
        for t in range(n):
            if t > 0:
                s2[t] = 0.05 + 0.05 * e[t - 1] ** 2 + 0.80 * s2[t - 1]
                if e[t - 1] < 0:
                    s2[t] += gamma * e[t - 1] ** 2
            e[t] = rng.normal(0, np.sqrt(s2[t]))
        return e

    fit_lev = ml.garch_fit(simulate(0.25), model="GJR-GARCH")
    fit_sym = ml.garch_fit(simulate(0.0), model="GJR-GARCH")
    assert fit_lev["params"]["gamma"] > 0.08
    assert fit_lev["params"]["gamma"] > fit_sym["params"]["gamma"] + 0.05


def test_egarch_detects_leverage_sign():
    """EGARCH's gamma multiplies the *signed* shock: on leverage data
    (negative shocks → higher vol) it must come out negative."""
    rng = np.random.default_rng(6)
    n = 1500
    e = np.empty(n)
    s2 = np.empty(n)
    s2[0] = 1.0
    for t in range(n):
        if t > 0:
            s2[t] = 0.05 + 0.05 * e[t - 1] ** 2 + 0.80 * s2[t - 1]
            if e[t - 1] < 0:
                s2[t] += 0.25 * e[t - 1] ** 2
        e[t] = rng.normal(0, np.sqrt(s2[t]))
    fit = ml.garch_fit(e, model="EGARCH")
    assert fit["params"]["gamma"] < -0.02


def test_isolation_forest_flags_planted_outliers():
    rng = np.random.default_rng(3)
    x = np.concatenate([rng.normal(0, 1, 200), [15.0, -14.0, 18.0]])
    labels, decision = ml.isolation_forest_labels(x, contamination=0.1, seed=42)
    assert (labels[-3:] == -1).all()  # planted extremes flagged
    assert decision[-3:].mean() < np.median(decision)
    # contamination controls the flag rate
    assert abs((labels == -1).mean() - 0.1) < 0.03
    # determinism
    l2, d2 = ml.isolation_forest_labels(x, contamination=0.1, seed=42)
    np.testing.assert_array_equal(labels, l2)
    np.testing.assert_allclose(decision, d2)


def test_lof_flags_planted_outliers():
    rng = np.random.default_rng(4)
    x = np.concatenate([rng.normal(0, 1, 100), [25.0]])
    labels, nof = ml.local_outlier_factor(x, n_neighbors=20, contamination=0.1)
    assert labels[-1] == -1
    assert nof[-1] == nof.min()  # most anomalous


def test_regime_operator_on_reference_panel(spark):
    long_df = melt_panel(
        spark.createDataFrame(reference_panel()),
        PanelSchema(date_col="date", group_cols=["name"]),
    )
    got = ml_fits.regime_detection(long_df, "feature_1").toPandas()
    assert len(got) == 5
    assert ((got["regime_1_prob"] >= 0) & (got["regime_1_prob"] <= 1)).all()
    assert (got["regime_switches"] >= 0).all()


def test_volatility_operator_on_reference_panel(spark):
    long_df = melt_panel(
        spark.createDataFrame(reference_panel()),
        PanelSchema(date_col="date", group_cols=["name"]),
    )
    got = ml_fits.volatility_analysis(long_df, "feature_1", "GARCH").toPandas()
    assert len(got) == 5  # 60 >= min_len 50
    assert got["log_likelihood"].notna().all()
    assert (got["avg_volatility"] > 0).all()


@pytest.mark.parametrize(
    "qname",
    [
        "regime_detection",
        "volatility_garch",
        "volatility_egarch",
        "volatility_gjr",
        "outliers_iforest",
        "outliers_lof",
    ],
)
def test_rows_only_queries_run(spark, qname):
    got = driver.all_queries()[qname](spark, SF_DIR)
    pdf = got.toPandas()
    assert len(pdf) == 3  # one row per returnflag group
