"""Sketch accuracy against exact answers."""

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.operators.sketches import (
    approx_profile,
    distinct_sketches,
    estimate,
)
from health_monitor_cc_flink_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke_dir):
    return load_table(spark, sf_smoke_dir, "lineitem").cache()


def test_hll_sketch_estimates_within_error(spark, lineitem):
    sk = estimate(distinct_sketches(lineitem, ["l_returnflag"], "l_orderkey"))
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact")
    )
    rows = sk.join(exact, "l_returnflag").collect()
    assert rows
    for r in rows:
        assert abs(r.distinct_estimate - r.exact) / r.exact < 0.05


def test_approx_profile(spark, lineitem):
    prof = approx_profile(lineitem, "l_returnflag", "l_extendedprice").collect()
    exact_p50 = {
        r.l_returnflag: r.p50
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("p50"))
        .collect()
    }
    for r in prof:
        p50, p95, p99 = r.quantiles
        assert p50 <= p95 <= p99
        assert abs(p50 - exact_p50[r.l_returnflag]) / exact_p50[r.l_returnflag] < 0.02


def test_native_approx_aggregates_bounds(spark, sf_smoke_dir):
    """Spark's built-in approximate aggregates must sit within their
    advertised error of the exact answers (2% rsd HLL++; GK percentile
    with 10k accuracy is near-exact at this cardinality)."""
    from pyspark.sql import functions as F

    from health_monitor_cc_flink_spark.sources.testdata import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    approx = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("adist"),
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
        )
        .collect()
    )
    exact = {
        r.event_type: (r.ndist, r.p50)
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("ndist"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    assert approx
    for r in approx:
        nd, p50 = exact[r.event_type]
        assert abs(r.adist - nd) <= max(3, 0.06 * nd), (r.event_type, r.adist, nd)
        # GK with accuracy 10000 over <=10k rows returns an exact order statistic
        vals = [
            x.value
            for x in ev.filter(F.col("event_type") == r.event_type).select("value").collect()
        ]
        assert min(vals) <= r.p50 <= max(vals)
        rank = sorted(vals).index(r.p50) / max(1, len(vals) - 1)
        assert 0.4 <= rank <= 0.6, (r.event_type, rank)
