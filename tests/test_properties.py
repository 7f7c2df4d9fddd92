"""Property-based tests (hypothesis) for the pure-python kernels."""

import math

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from health_monitor_cc_flink_spark.functions.timeseries import expanding_ar1

series = st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False),
    min_size=4,
    max_size=120,
)


@settings(max_examples=200, deadline=None)
@given(series)
def test_expanding_ar1_matches_naive_ols_everywhere(vals):
    y = np.array(vals, dtype=np.float64)
    fits, _ = expanding_ar1(y)
    m = len(y)
    x, z = y[: m - 1], y[1:m]
    denom = (m - 1) * float(np.sum(x * x)) - float(np.sum(x)) ** 2
    if abs(denom) < 1e-6 * max(1.0, float(np.sum(x * x))):
        return  # degenerate regression (constant/near-constant x): guarded path
    b = ((m - 1) * float(np.sum(x * z)) - float(np.sum(x)) * float(np.sum(z))) / denom
    a = (float(np.sum(z)) - b * float(np.sum(x))) / (m - 1)
    scale = max(1.0, abs(a), abs(b))
    assert abs(fits["b"][m - 1] - b) <= 1e-6 * scale
    assert abs(fits["a"][m - 1] - a) <= 1e-6 * scale


#: values ~1e15 with unit-scale deltas: catastrophic cancellation in the
#: sums, where any reordering of the accumulation shows in the last bits
_HOSTILE = (1e15 + np.random.default_rng(7).normal(0, 1, 200)).tolist()


@settings(max_examples=200, deadline=None)
@given(series, st.lists(st.integers(min_value=1, max_value=119), max_size=8))
@example(_HOSTILE, [1, 2, 3, 57, 150])
def test_expanding_ar1_carried_state_matches_one_shot(vals, cuts):
    """Feeding a history to expanding_ar1 in pieces, carrying the state
    from each call to the next, gives the same bits as one call on all
    five fit arrays — the property the streaming operators rely on."""
    y = np.array(vals, dtype=np.float64)
    whole, whole_state = expanding_ar1(y)
    bounds = sorted({min(c, len(y)) for c in cuts} | {0, len(y)})
    state, parts = None, []
    for lo, hi in zip(bounds, bounds[1:]):
        fits, state = expanding_ar1(y[lo:hi], state)
        parts.append(fits)
    for f in ("a", "b", "sigma", "rmse", "aic"):
        assert np.concatenate([p[f] for p in parts]).tobytes() == whole[f].tobytes(), f
    assert state == whole_state


@settings(max_examples=200, deadline=None)
@given(series)
def test_online_ar1_agrees_with_vectorized(vals):
    """The online update — one point per call, state carried, as the
    streaming operators see a key — gives the same bits as the
    vectorized pass over the whole history, on every prefix."""
    y = np.array(vals, dtype=np.float64)
    whole, _ = expanding_ar1(y)
    state = None
    for i, v in enumerate(y):
        fit, state = expanding_ar1(y[i : i + 1], state)
        for f in ("a", "b", "sigma", "rmse", "aic"):
            assert fit[f].tobytes() == whole[f][i : i + 1].tobytes(), (i, f)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=200, allow_nan=False), min_size=5, max_size=60))
def test_sigma_nonnegative_and_rmse_defined(vals):
    fits, _ = expanding_ar1(np.array(vals, dtype=np.float64))
    n = len(vals)
    assert all(s >= 0 or math.isinf(s) for s in fits["sigma"])
    for i in range(3, n):
        assert math.isnan(fits["rmse"][i]) or fits["rmse"][i] >= 0


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_forecast_beats_persistence_on_ar1_series(seed):
    """Model skill: on a true AR(1) process the one-step expanding-fit
    prediction must beat naive persistence (y_hat = y_prev) in MSE over
    the post-warm-up segment."""
    rng = np.random.default_rng(seed)
    n, phi, c = 120, 0.7, 20.0
    y = np.empty(n)
    y[0] = c / (1 - phi)
    for t in range(1, n):
        y[t] = c + phi * y[t - 1] + rng.normal(0, 1.0)
    fits, _ = expanding_ar1(y)
    prev = np.arange(1, n) - 1
    pred = fits["a"][prev] + fits["b"][prev] * y[:-1]
    seg = slice(30, n - 1)
    mse_model = float(np.mean((y[1:][seg] - pred[seg]) ** 2))
    mse_persist = float(np.mean((y[1:][seg] - y[:-1][seg]) ** 2))
    # per-draw: the 90-point scoring segment is noisy enough that persistence
    # can edge out the true model by a few % on unlucky draws (observed at
    # seed=7237: ratio 1.055) — allow 15% here; the on-average strict win is
    # asserted deterministically in test_forecast_average_skill below.
    assert mse_model < mse_persist * 1.15


def test_forecast_average_skill():
    """Across many AR(1) draws the expanding fit must beat persistence
    on average (strict), not just per-draw within tolerance."""
    ratios = []
    for seed in range(40):
        rng = np.random.default_rng(seed)
        n, phi, c = 120, 0.7, 20.0
        y = np.empty(n)
        y[0] = c / (1 - phi)
        for t in range(1, n):
            y[t] = c + phi * y[t - 1] + rng.normal(0, 1.0)
        fits, _ = expanding_ar1(y)
        prev = np.arange(1, n) - 1
        pred = fits["a"][prev] + fits["b"][prev] * y[:-1]
        seg = slice(30, n - 1)
        mse_model = float(np.mean((y[1:][seg] - pred[seg]) ** 2))
        mse_persist = float(np.mean((y[1:][seg] - y[:-1][seg]) ** 2))
        ratios.append(mse_model / mse_persist)
    # theory for phi=0.7, sigma=1: persistence MSE ≈ sigma² + (1-phi)²·Var(y)
    # ≈ 1.18, model MSE ≈ sigma² + estimation error → ratio ≈ 0.85-0.9
    assert float(np.mean(ratios)) < 0.95, np.mean(ratios)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from([1, 3]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_property(h, w, channels, seed):
    """decode(encode(x)) == x for arbitrary uint8 images, gray and RGB,
    under the filter-cycling encoder (all five PNG filter types)."""
    import numpy as np

    from health_monitor_cc_flink_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w) if channels == 1 else (h, w, channels)
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(a, "cycle")), a)


def test_readability_pins(spark):
    """Flesch/FK formula pins: known sentence/syllable counts."""
    from health_monitor_cc_flink_spark.operators.text import readability

    df = spark.createDataFrame(
        [(1, "the quick brown fox. it jumps high! crwth pfft")],
        "doc_id long, text string",
    )
    r = readability(df).first()
    # 9 words, 7 vowel-group words + 2 no-vowel words, 2 sentences
    assert (r.n_words, r.n_syllables, r.n_sentences) == (9, 9, 2)
    assert r.words_per_sentence == 4.5 and r.syllables_per_word == 1.0
    assert abs(r.flesch_reading_ease - (206.835 - 1.015 * 4.5 - 84.6)) < 1e-9
    assert abs(r.fk_grade - (0.39 * 4.5 + 11.8 - 15.59)) < 1e-9
