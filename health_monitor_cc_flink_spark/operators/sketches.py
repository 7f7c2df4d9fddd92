"""Sketch aggregates: the pre-aggregation pattern for 100 TB analytics.

At scale you don't recompute `COUNT(DISTINCT ...)` over raw data per
query — you materialize mergeable sketches per partition/day/key and
union them at read time.  Spark ships Apache DataSketches HLL natively
(`hll_sketch_agg` / `hll_sketch_estimate`), which this
module wraps together with the lighter `approx_count_distinct` (HLL++)
and `approx_percentile` paths.

Sketch estimates are algorithm-defined (no cross-engine oracle);
accuracy is pinned by tests/test_sketches.py against exact answers
(rel. error bounds per the published HLL error ~1.04/√2^lgK).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def distinct_sketches(
    df: DataFrame, key_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Materialize one mergeable HLL sketch per key group —
    the write-side of the pre-aggregation pattern."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("dv_sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def estimate(sketches: DataFrame) -> DataFrame:
    return sketches.withColumn(
        "distinct_estimate", F.hll_sketch_estimate("dv_sketch").cast("long")
    ).drop("dv_sketch")


def approx_profile(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """One-pass approximate profile per key: distinct count (HLL++),
    p50/p95/p99 (GK quantile sketch)."""
    return df.groupBy(key_col).agg(
        F.approx_count_distinct(value_col).alias("approx_distinct"),
        F.percentile_approx(value_col, [0.5, 0.95, 0.99], 10_000).alias("quantiles"),
    )
