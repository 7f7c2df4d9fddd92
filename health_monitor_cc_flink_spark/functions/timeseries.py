"""Per-key time-series ML operators: anomaly detection + forecasting.

These re-implement the *public contract* of Confluent's closed-source
`ML_DETECT_ANOMALIES` / `ML_FORECAST` OVER-window aggregates (reference
flink_statements.tf:191-202 and :305-316): an ARIMA-family model fit per
key over the cumulative event-time frame
``PARTITION BY key ORDER BY ts RANGE UNBOUNDED PRECEDING``, with a
`minTrainingSize` warm-up and a `confidencePercentage` band.  Output
shapes follow the only ground truth available — the fields the pipeline
consumes: `report.is_anomaly` (flink_statements.tf:257) and the six
forecast fields destructured at flink_statements.tf:325-332.  Values are
engine-defined (SURVEY.md §7.3: shape-compatible, not bit-identical to
the closed vendor model).

Model: expanding-window AR(1) with drift, y_t = a + b·y_{t-1} + ε.
For every prefix of a key's ordered history the OLS coefficients,
residual variance, RMSE and AIC are all computable from running sums, so
the whole per-key pass is **O(n) and fully vectorized** — no per-row
refitting.

Two implementations, bit-identical (tests/test_timeseries.py):

- the native window path (`_ar1_fit_native`, the default for batch):
  the running sums as ``SUM ... OVER`` window aggregates, all codegen;
- `expanding_ar1`, the one Python kernel.  It continues from a carried
  `AR1State` (n, Σy, Σy², Σy·y_lag, y₀, y_last and the last fit), so a
  history fed in pieces gives the same bits as one pass.  Every Python
  path scores through it and its two row builders, `anomaly_report` and
  `forecast_steps`: ``implementation="pandas"`` here (the reference the
  tests compare against), the streaming operators in
  streaming/stateful.py (the state is an `AR1State` per key, O(1)
  whatever the history length) and the SQL table functions in
  functions/sql_udtf.py.
"""

from __future__ import annotations

import math
from statistics import NormalDist
from typing import NamedTuple, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

__all__ = [
    "MIN_TRAINING_SIZE",
    "CONFIDENCE_PERCENTAGE",
    "HORIZON",
    "ml_detect_anomalies",
    "ml_forecast",
    "expanding_ar1",
    "AR1State",
    "anomaly_report",
    "forecast_steps",
]

_INF = float("inf")
_NAN = float("nan")

#: number of estimated parameters (intercept, slope) for AIC/df purposes
_N_PARAMS = 2

#: ML_DETECT_ANOMALIES warm-up, `minTrainingSize` (flink_statements.tf:195)
MIN_TRAINING_SIZE = 30
#: band width of both ML functions, `confidencePercentage` (flink_statements.tf:196)
CONFIDENCE_PERCENTAGE = 95.0
#: ML_FORECAST steps ahead, `horizon` (flink_statements.tf:309)
HORIZON = 1


def _zcrit(confidence_percentage: float) -> float:
    p = 0.5 + confidence_percentage / 200.0
    return NormalDist().inv_cdf(p)


class AR1State(NamedTuple):
    """What `expanding_ar1` carries from one call to the next for a key:
    the running sums after the key's last point, and the fit on all of
    its points.  O(1) per key whatever the history length."""

    n: int          # points seen
    s1: float       # Σ y
    s2: float       # Σ y²
    c: float        # Σ y_{t-1}·y_t
    y0: float       # first point
    y_last: float   # last point
    a: float        # fit on all n points
    b: float
    sigma: float


def _fresh_state(y0: float) -> AR1State:
    """The state before a key's first point: no sums, and the fit that
    scores nothing (sigma = inf)."""
    return AR1State(0, 0.0, 0.0, 0.0, y0, y0, 0.0, 0.0, _INF)


def expanding_ar1(y: np.ndarray, state: AR1State | None = None):
    """Expanding-window AR(1)-with-drift fit over every prefix of a key's
    history, continuing from ``state`` (the key's earlier points; None
    when ``y`` starts the key).

    For each new point the model is fit on the pairs (y_1..y_{m-1} →
    y_2..y_m) of the whole prefix ending there.  Returns ``(fits,
    state)``: a dict of arrays (len(y)) a, b, sigma (residual std with df
    correction), rmse, aic — entry i describes the fit on the prefix
    ending at y[i] — and the state after the last point.  All O(len(y))
    via cumulative sums.  The sums continue sequentially from the carried
    ones, so any split of a history gives the same bits as one call.
    """
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n == 0:
        empty = np.zeros(0)
        return {f: empty for f in ("a", "b", "sigma", "rmse", "aic")}, state
    st = state or _fresh_state(float(y[0]))
    lag = y * np.concatenate([[st.y_last], y[:-1]])
    if st.n == 0:
        lag[0] = 0.0                        # the first point has no predecessor
    s1 = np.cumsum(np.concatenate([[st.s1], y]))        # Σ y   over t ≤ m
    s2 = np.cumsum(np.concatenate([[st.s2], y * y]))    # Σ y²
    c = np.cumsum(np.concatenate([[st.c], lag]))[1:]    # Σ y_{t-1}·y_t, t ≤ m
    y0 = st.y0

    m = np.arange(st.n + 1, st.n + n + 1, dtype=np.float64)
    k = m - 1.0                             # number of regression pairs
    with np.errstate(divide="ignore", invalid="ignore"):
        # Σx (regressors = all values before the current one) is the
        # running sum one step earlier, never `s1 - y`: float subtraction
        # does not undo addition, and the native path takes it the same way
        sum_x, s1 = s1[:-1], s1[1:]
        sum_x2, s2 = s2[:-1], s2[1:]
        sum_z = s1 - y0                                 # Σ z
        sum_z2 = s2 - y0 * y0
        denom = k * sum_x2 - sum_x * sum_x
        b_hat = np.where(np.abs(denom) > 1e-12, (k * c - sum_x * sum_z) / np.where(denom == 0, 1, denom), 0.0)
        a_hat = np.where(k > 0, (sum_z - b_hat * sum_x) / np.where(k == 0, 1, k), 0.0)
        sse = (
            sum_z2
            + k * a_hat * a_hat
            + b_hat * b_hat * sum_x2
            - 2.0 * a_hat * sum_z
            - 2.0 * b_hat * c
            + 2.0 * a_hat * b_hat * sum_x
        )
        sse = np.maximum(sse, 0.0)                      # fp guard
        df_resid = np.maximum(k - _N_PARAMS, 1.0)
        sig = np.sqrt(sse / df_resid)
        rm = np.sqrt(np.where(k > 0, sse / np.where(k == 0, 1, k), np.nan))
        # AIC for gaussian residuals: k·ln(SSE/k) + 2·(params+1)
        with np.errstate(divide="ignore"):
            ai = np.where(
                (k > 0) & (sse > 0),
                k * np.log(np.where((k > 0) & (sse > 0), sse / np.maximum(k, 1), 1.0))
                + 2.0 * (_N_PARAMS + 1),
                np.nan,
            )
    a = np.zeros(n)
    b = np.zeros(n)
    sigma = np.full(n, np.inf)
    rmse = np.full(n, np.nan)
    aic = np.full(n, np.nan)
    valid = k >= 2                                       # need ≥2 pairs for a line
    a[valid] = a_hat[valid]
    b[valid] = b_hat[valid]
    sigma[valid] = np.maximum(sig[valid], 1e-9)
    rmse[valid] = rm[valid]
    aic[valid] = ai[valid]
    # single-pair prefix: fall back to mean ("persistence") prediction
    a[k == 1] = y0
    fits = {"a": a, "b": b, "sigma": sigma, "rmse": rmse, "aic": aic}
    end = AR1State(
        st.n + n, float(s1[-1]), float(s2[-1]), float(c[-1]), y0, float(y[-1]),
        float(a[-1]), float(b[-1]), float(sigma[-1]),
    )
    return fits, end


def _finite_or_none(v: float):
    return v if math.isfinite(v) else None


def anomaly_report(y, z: float, min_training_size: int, state: AR1State | None = None):
    """ML_DETECT_ANOMALIES report fields for the next points ``y`` of one
    key, in event-time order: each point is scored by the fit on every
    earlier point of the key (``state`` holds those before ``y``).

    Returns ``((is_anomaly, expected_value, lower_bound, upper_bound),
    state)``.  ``is_anomaly`` is a bool array; the other three are lists
    with None where the report is NULL, i.e. while the scoring fit has no
    finite sigma.  The first ``min_training_size`` points of a key are
    never flagged.
    """
    y = np.asarray(y, dtype=np.float64)
    fits, end = expanding_ar1(y, state)
    n = len(y)
    prev = state or _fresh_state(float(y[0]) if n else 0.0)
    a = np.concatenate([[prev.a], fits["a"]])[:n]
    b = np.concatenate([[prev.b], fits["b"]])[:n]
    s = np.concatenate([[prev.sigma], fits["sigma"]])[:n]
    expected = a + b * np.concatenate([[prev.y_last], y])[:n]
    lower = expected - z * s
    upper = expected + z * s
    finite = np.isfinite(s)
    trained = np.arange(prev.n, prev.n + n) >= min_training_size
    is_anom = trained & finite & ((y < lower) | (y > upper))

    def masked(v):
        return [_finite_or_none(x) if f else None for x, f in zip(v.tolist(), finite.tolist())]

    return (is_anom, masked(expected), masked(lower), masked(upper)), end


def forecast_steps(y, z: float, horizon: int, min_training_size: int, state: AR1State | None = None):
    """ML_FORECAST values for the next points ``y`` of one key: for each
    point, from the fit on the key's history up to and including it,
    ``[(h, forecast_value, lower_bound, upper_bound, rmse, aic)]`` for h in
    1..horizon — or ``[]`` while the key has fewer than
    ``min_training_size`` points or the fit no finite sigma.  rmse/aic are
    None where not finite.  Returns ``(steps per point, state)``.

    Multi-step intervals widen with the AR(1) variance recursion
    Var_h = σ²·Σ_{j<h} b^{2j}, b^{2j} by a product chain rather than pow
    (multiplication rounds the same on the JVM and in C, pow may not).
    """
    y = np.asarray(y, dtype=np.float64)
    fits, end = expanding_ar1(y, state)
    n0 = state.n if state else 0
    cols = (fits[f].tolist() for f in ("a", "b", "sigma", "rmse", "aic"))
    out = []
    for i, (yhat, a, b, s, rm, ai) in enumerate(zip(y.tolist(), *cols)):
        if n0 + i + 1 < min_training_size or not math.isfinite(s):
            out.append([])
            continue
        rm, ai = _finite_or_none(rm), _finite_or_none(ai)
        var_acc, b2, pw = 0.0, b * b, 1.0
        steps = []
        for h in range(1, horizon + 1):
            yhat = a + b * yhat
            var_acc += pw
            pw = pw * b2
            band = z * s * math.sqrt(var_acc)
            steps.append((h, yhat, yhat - band, yhat + band, rm, ai))
        out.append(steps)
    return out, end


def _sorted_group(pdf, ts_col: str, value_col: str):
    pdf = pdf.sort_values([ts_col, value_col], kind="mergesort").reset_index(drop=True)
    y = pdf[value_col].to_numpy(dtype=np.float64)
    return pdf, y


def _ar1_fit_native(df: DataFrame, value_col: str, ts_col: str, key_cols: Sequence[str]):
    """Expanding AR(1) fit as NATIVE window aggregates — the same running
    sums `expanding_ar1` keeps in NumPy (Σy, Σy², Σy·y_lag), expressed as
    ``SUM ... OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED
    PRECEDING)`` so the whole fit stays in whole-stage codegen: one
    shuffle on the key (the minimum the OVER frame implies), streaming
    frame evaluation, and — unlike the applyInPandas form — **no
    whole-history-per-key pandas materialization**, so a single hot key's
    years of history never have to fit one executor's memory.

    Every arithmetic expression mirrors the NumPy kernel op-for-op (same
    association order), so results are bit-identical to `expanding_ar1`
    (asserted in tests/test_timeseries.py).

    Returns (df + fit columns ``_y _rn _k _a_fit _b_fit _sigma_fit
    _rmse_fit _aic_fit``, row window spec).
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(ts_col, value_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    y = F.col(value_col).cast("double")
    df = df.withColumns(
        {
            "_y": y,
            "_rn": F.row_number().over(w),
            "_lagprod": y * F.lag(y).over(w),
        }
    )
    # Σx (regressors = all values BEFORE the current row) must be the
    # PRECEDING-frame running sum, not `Σy_cum - y`: float subtraction is
    # not the inverse of addition (fl((s+y)-y) != s in general), and the
    # NumPy kernel takes the prefix cumsum directly.  The same sequential
    # accumulation order keeps the two implementations bit-identical.
    # Σz = Σy_cum - y₀ IS the kernel's own expression (it subtracts the
    # first element), so that one mirrors exactly as written.
    df = df.withColumns(
        {
            "_s1": F.sum("_y").over(wcum),
            "_s2": F.sum(F.col("_y") * F.col("_y")).over(wcum),
            "_sum_x": F.coalesce(F.sum("_y").over(wprev), F.lit(0.0)),
            "_sum_x2": F.coalesce(
                F.sum(F.col("_y") * F.col("_y")).over(wprev), F.lit(0.0)
            ),
            "_c": F.coalesce(F.sum("_lagprod").over(wcum), F.lit(0.0)),
            "_y0": F.first("_y").over(wcum),
        }
    )
    k = F.col("_rn").cast("double") - 1.0
    sum_z = F.col("_s1") - F.col("_y0")
    sum_z2 = F.col("_s2") - F.col("_y0") * F.col("_y0")
    df = df.withColumns(
        {
            "_k": k,
            "_sum_z": sum_z,
            "_sum_z2": sum_z2,
            "_denom": k * F.col("_sum_x2") - F.col("_sum_x") * F.col("_sum_x"),
        }
    )
    b = F.when(
        F.abs(F.col("_denom")) > 1e-12,
        (F.col("_k") * F.col("_c") - F.col("_sum_x") * F.col("_sum_z")) / F.col("_denom"),
    ).otherwise(0.0)
    df = df.withColumn("_b", b)
    a = F.when(
        F.col("_k") > 0,
        (F.col("_sum_z") - F.col("_b") * F.col("_sum_x")) / F.col("_k"),
    ).otherwise(0.0)
    df = df.withColumn("_a", a)
    # SSE in the same association order as the NumPy kernel
    sse = (
        F.col("_sum_z2")
        + F.col("_k") * F.col("_a") * F.col("_a")
        + F.col("_b") * F.col("_b") * F.col("_sum_x2")
        - 2.0 * F.col("_a") * F.col("_sum_z")
        - 2.0 * F.col("_b") * F.col("_c")
        + 2.0 * F.col("_a") * F.col("_b") * F.col("_sum_x")
    )
    df = df.withColumn("_sse", F.greatest(sse, F.lit(0.0)))
    valid = F.col("_k") >= 2
    sig = F.sqrt(F.col("_sse") / F.greatest(F.col("_k") - _N_PARAMS, F.lit(1.0)))
    df = df.withColumns(
        {
            "_a_fit": F.when(valid, F.col("_a"))
            .when(F.col("_k") == 1, F.col("_y0"))
            .otherwise(0.0),
            "_b_fit": F.when(valid, F.col("_b")).otherwise(0.0),
            "_sigma_fit": F.when(valid, F.greatest(sig, F.lit(1e-9))).otherwise(
                F.lit(_INF)
            ),
            "_rmse_fit": F.when(valid, F.sqrt(F.col("_sse") / F.col("_k"))).otherwise(
                F.lit(_NAN)
            ),
            "_aic_fit": F.when(
                valid & (F.col("_sse") > 0),
                F.col("_k") * F.log(F.col("_sse") / F.col("_k")) + 2.0 * (_N_PARAMS + 1),
            ).otherwise(F.lit(_NAN)),
        }
    )
    return df, w


def ml_detect_anomalies(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_cols: Sequence[str],
    min_training_size: int = MIN_TRAINING_SIZE,
    confidence_percentage: float = CONFIDENCE_PERCENTAGE,
    output_col: str = "report",
    implementation: str = "native",
) -> DataFrame:
    """ML_DETECT_ANOMALIES over the cumulative per-key frame.

    Adds ``output_col`` as STRUCT<is_anomaly BOOLEAN, expected_value
    DOUBLE, lower_bound DOUBLE, upper_bound DOUBLE>.  Row i is scored by
    the model fit on rows 1..i-1 of its key (ordered by ``ts_col``); the
    first ``min_training_size`` rows of a key are never flagged
    (warm-up, reference `minTrainingSize` at flink_statements.tf:195).

    ``implementation="native"`` (default) runs the fit as pure window
    aggregates — no Python, no per-key history materialization (the
    applyInPandas form needs a key's FULL history in one pandas frame —
    a straggler/memory trap for long-lived keys at 100 TB).
    ``implementation="pandas"`` keeps the NumPy kernel; both paths are
    bit-identical (tests/test_timeseries.py).
    """
    from ..schemas import ANOMALY_REPORT_SCHEMA

    z = _zcrit(confidence_percentage)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(output_col, ANOMALY_REPORT_SCHEMA)]
    )
    if implementation == "native":
        fitted, w = _ar1_fit_native(df, value_col, ts_col, key_cols)
        fitted = fitted.withColumns(
            {
                "_p_a": F.coalesce(F.lag("_a_fit").over(w), F.col("_a_fit")),
                "_p_b": F.coalesce(F.lag("_b_fit").over(w), F.col("_b_fit")),
                "_p_s": F.coalesce(F.lag("_sigma_fit").over(w), F.col("_sigma_fit")),
                "_y_prev": F.coalesce(F.lag("_y").over(w), F.col("_y")),
            }
        )
        expected = F.col("_p_a") + F.col("_p_b") * F.col("_y_prev")
        fitted = fitted.withColumns(
            {
                "_expected": expected,
                "_lower": expected - z * F.col("_p_s"),
                "_upper": expected + z * F.col("_p_s"),
                "_finite": F.col("_p_s") < F.lit(_INF),
                "_trained": (F.col("_rn") - 1) >= min_training_size,
            }
        )
        is_anom = F.coalesce(
            F.col("_trained")
            & F.col("_finite")
            & ((F.col("_y") < F.col("_lower")) | (F.col("_y") > F.col("_upper"))),
            F.lit(False),
        )
        report = F.struct(
            is_anom.alias("is_anomaly"),
            F.when(F.col("_finite"), F.col("_expected")).alias("expected_value"),
            F.when(F.col("_finite"), F.col("_lower")).alias("lower_bound"),
            F.when(F.col("_finite"), F.col("_upper")).alias("upper_bound"),
        )
        # nullability is tighter than the pandas path (the struct is provably
        # non-null here); names/types are identical and every consumer
        # projects scalar fields, so the visible schema is unchanged
        return fitted.select(*df.columns, report.alias(output_col))

    def score(pdf):
        pdf, y = _sorted_group(pdf, ts_col, value_col)
        (is_anom, expected, lower, upper), _ = anomaly_report(y, z, min_training_size)
        pdf[output_col] = [
            {
                "is_anomaly": bool(f),
                "expected_value": e,
                "lower_bound": lo,
                "upper_bound": hi,
            }
            for f, e, lo, hi in zip(is_anom, expected, lower, upper)
        ]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(score, schema=out_schema)


def ml_forecast(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_cols: Sequence[str],
    horizon: int = HORIZON,
    confidence_percentage: float = CONFIDENCE_PERCENTAGE,
    min_training_size: int = 2,
    output_col: str = "forecast_values",
    implementation: str = "native",
) -> DataFrame:
    """ML_FORECAST over the cumulative per-key frame.

    For every input row, fits on the key's history *up to and including*
    that row and forecasts the next ``horizon`` steps.  Adds
    ``output_col`` as ARRAY<STRUCT<forecast_timestamp TIMESTAMP,
    forecast_value DOUBLE, lower_bound DOUBLE, upper_bound DOUBLE,
    rmse DOUBLE, aic DOUBLE>> (field shape per
    flink_statements.tf:325-332).  Rows with fewer than
    ``min_training_size`` history points get an empty array.

    Multi-step intervals widen with the AR(1) variance recursion
    Var_h = σ²·Σ_{j<h} b^{2j} (no parameter-uncertainty inflation;
    engine-defined, SURVEY.md §7.4.3).

    ``implementation="native"`` (default) unrolls the constant ``horizon``
    into codegen'd column expressions over the window-aggregate AR(1)
    fit — no Python, no per-key pandas materialization; ``"pandas"``
    keeps the NumPy kernel.  Bit-identical (tests/test_timeseries.py).
    """
    from ..schemas import FORECAST_ROW_SCHEMA

    z = _zcrit(confidence_percentage)
    elem = FORECAST_ROW_SCHEMA
    out_schema = T.StructType(df.schema.fields + [T.StructField(output_col, T.ArrayType(elem))])
    if implementation == "native":
        fitted, w = _ar1_fit_native(df, value_col, ts_col, key_cols)
        wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        # per-key forecast step = the key's LAST observed inter-arrival gap
        # (the pandas kernel's steps.iloc[-1]); ≤0 or missing → 1 s
        step_raw = F.last(
            F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w),
            ignorenulls=True,
        ).over(wall)
        fitted = fitted.withColumn(
            "_step_us",
            F.when(step_raw.isNull() | (step_raw <= 0), F.lit(1_000_000)).otherwise(
                step_raw
            ),
        )
        a, b, s = F.col("_a_fit"), F.col("_b_fit"), F.col("_sigma_fit")
        # isfinite, not just not-NaN: the pandas kernel nulls rmse/aic via
        # math.isfinite, so ±Inf (SSE overflow on enormous values) must
        # null out here too.  abs(x) < inf is false for NaN as well
        # (Spark orders NaN above all doubles), so one predicate covers both.
        rmse_out = F.when(F.abs(F.col("_rmse_fit")) < F.lit(_INF), F.col("_rmse_fit"))
        aic_out = F.when(F.abs(F.col("_aic_fit")) < F.lit(_INF), F.col("_aic_fit"))
        elems = []
        yhat = F.col("_y")
        var_acc = F.lit(0.0)
        # b^{2(h-1)} by explicit product chain, NOT pow(): multiplication is
        # IEEE-exact on both JVM and C, while Math.pow may be off by 1 ulp
        # vs libm pow — the product chain keeps both paths bit-identical
        b2 = b * b
        pw = F.lit(1.0)
        for h in range(1, horizon + 1):
            yhat = a + b * yhat
            var_acc = var_acc + pw
            pw = pw * b2
            band = z * s * F.sqrt(var_acc)
            elems.append(
                F.struct(
                    F.timestamp_micros(
                        F.unix_micros(F.col(ts_col)) + h * F.col("_step_us")
                    ).alias("forecast_timestamp"),
                    yhat.alias("forecast_value"),
                    (yhat - band).alias("lower_bound"),
                    (yhat + band).alias("upper_bound"),
                    rmse_out.alias("rmse"),
                    aic_out.alias("aic"),
                )
            )
        arr = F.array(*elems)
        ok = (F.col("_rn") >= min_training_size) & (s < F.lit(_INF))
        out = F.when(ok, arr).otherwise(F.slice(arr, 1, 0))
        # nullability is tighter than the pandas path; names/types identical
        return fitted.select(*df.columns, out.alias(output_col))

    def forecast(pdf):
        import pandas as pd

        pdf, y = _sorted_group(pdf, ts_col, value_col)
        ts = pd.to_datetime(pdf[ts_col])
        steps = ts.diff().dropna()
        step = steps.iloc[-1] if len(steps) else pd.Timedelta(seconds=1)
        if step <= pd.Timedelta(0):
            step = pd.Timedelta(seconds=1)
        rows, _ = forecast_steps(y, z, horizon, min_training_size)
        pdf[output_col] = [
            [
                {
                    "forecast_timestamp": (t + h * step).to_pydatetime(),
                    "forecast_value": v,
                    "lower_bound": lo,
                    "upper_bound": hi,
                    "rmse": rm,
                    "aic": ai,
                }
                for h, v, lo, hi, rm, ai in per_point
            ]
            for t, per_point in zip(ts, rows)
        ]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(forecast, schema=out_schema)
