"""Scale-path capability tests: bucketed co-located joins (no shuffle),
RocksDB state store for streaming state, and a real JDBC dimension read
(embedded Derby — the S2 path with an actual database behind it)."""

import os

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_has_no_shuffle(spark, sf_smoke_dir, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange
    entirely — the co-located join strategy for repeated big-big joins
    at scale (SURVEY.md 'Partitioning & shuffle')."""
    warehouse = str(tmp_path / "wh")  # explicit per-table paths; metastore entries dropped below
    orders = spark.read.parquet(f"{sf_smoke_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_smoke_dir}/lineitem.parquet")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(warehouse, "orders_b"))
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(warehouse, "lineitem_b"))
        .saveAsTable("lineitem_b")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        # and it still computes the right thing
        n = joined.count()
        plain = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_streaming_with_rocksdb_state_store(spark, tmp_path):
    """The 100 TB streaming config: RocksDB state store provider keeps
    per-key state off-heap/on-disk instead of in executor memory."""
    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.schemas import HEALTH_EVENT_SCHEMA
    from health_monitor_cc_flink_spark.plans.health_pipeline import windowed_vitals
    from health_monitor_cc_flink_spark.streaming import with_default_watermark

    events_path = str(tmp_path / "ev")
    health_events_df(spark, n_ticks=120, interval_s=0.5, seed=7).write.parquet(events_path)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(HEALTH_EVENT_SCHEMA).parquet(events_path)
        out = str(tmp_path / "out")
        (
            windowed_vitals(with_default_watermark(stream))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        got = spark.read.parquet(out)
        assert got.count() > 0
        assert set(got.columns) == {"patient_id", "event_timestamp", "observed_value"}
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_jdbc_dimension_roundtrip(spark, tmp_path):
    """S2 with a real database: write the canonical patients dimension
    into embedded Derby over JDBC, read it back through the engine
    catalog's connection registry, and run the enrichment join."""
    from health_monitor_cc_flink_spark.catalog import EngineCatalog
    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.plans.health_pipeline import enriched_events
    from health_monitor_cc_flink_spark.schemas import PATIENTS_ROWS, PATIENTS_SCHEMA

    url = f"jdbc:derby:{tmp_path}/patients_db;create=true"
    dim = spark.createDataFrame(PATIENTS_ROWS, PATIENTS_SCHEMA)
    (
        dim.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "patients")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode("overwrite")
        .save()
    )

    cat = EngineCatalog(spark)
    cat.create_connection(
        "pg_like", "jdbc", url=url, driver="org.apache.derby.jdbc.EmbeddedDriver"
    )
    patients = cat.create_external_table("patients_jdbc", "pg_like", "patients")
    assert patients.count() == 10

    events = health_events_df(spark, n_ticks=20, interval_s=0.5, seed=9)
    out = enriched_events(events, patients)
    assert out.count() == 200
    assert out.filter(F.col("patient_id") == 1).select("name").first().name == "John Doe"


def test_partitioned_write_prunes_partitions(spark, sf_smoke_dir, tmp_path):
    """Hive-partitioned layout + predicate on the partition column must
    show up as PartitionFilters in the scan (files for other partitions
    never read) — the layout strategy for 100 TB event tables."""
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    out = str(tmp_path / "ev_part")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "purchase" in plan
    n_purchase = ev.filter(F.col("event_type") == "purchase").count()
    assert df.count() == n_purchase


def test_dynamic_partition_pruning(spark, sf_smoke_dir, tmp_path):
    """Runtime partition pruning: a partitioned fact joined to a
    FILTERED dim must prune fact partitions via the dim's runtime
    values (Spark DPP), not scan them all — the mechanism that makes
    star-schema joins affordable on date-partitioned 100 TB facts.
    The plan must carry a dynamicpruning subquery on the fact scan."""
    from pyspark.sql import functions as F

    from health_monitor_cc_flink_spark.sources.testdata import load_table

    fact_path = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_smoke_dir, "events").withColumn(
        "day", F.to_date(F.timestamp_micros(F.expr("ts_ns div 1000")))
    )
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    n_days = ev.select("day").distinct().count()
    assert n_days > 3

    fact = spark.read.parquet(fact_path)
    # a real dim table with a selective predicate — DPP's trigger condition
    dim_path = str(tmp_path / "day_dim")
    ev.select("day").distinct().withColumn(
        "tag",
        F.when(F.dayofmonth("day") <= 2, F.lit("keep")).otherwise(F.lit("drop")),
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "keep")
    n_keep = dim.count()
    assert 0 < n_keep < n_days
    # disable broadcast so DPP (not broadcast-reuse) must do the pruning
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = fact.join(dim, "day").groupBy("day").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert joined.count() == n_keep
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_observation_metrics_batch_and_stream(spark, sf_smoke_dir, tmp_path):
    """Pipeline observability without extra passes: df.observe() attaches
    named aggregate metrics that are computed DURING the action — the
    production monitoring primitive (row counts, null rates, value
    bounds per stage) that otherwise costs a second scan per metric."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from health_monitor_cc_flink_spark.sources.testdata import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    obs = Observation("ingest")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_null_value"),
        F.max("value").alias("max_value"),
    )
    out = observed.filter(F.col("event_type") == "click").count()
    m = obs.get
    assert m["n_rows"] == ev.count()        # metric covers pre-filter rows
    assert m["n_null_value"] == 0
    assert m["max_value"] >= 0
    assert out > 0

    # streaming: the same metrics surface per micro-batch via progress
    stream = (
        spark.readStream.schema(
            spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_smoke_dir).schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_smoke_dir)
        .observe("src", F.count(F.lit(1)).alias("n_rows"))
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["observedMetrics"].get("src")]
    assert progress, "no observed metrics in streaming progress"
    total = sum(p["observedMetrics"]["src"]["n_rows"] for p in progress)
    assert total == m["n_rows"]


def test_join_strategy_hints(spark, sf_smoke_dir):
    """Join hints must actually switch the physical strategy: BROADCAST
    forces BroadcastHashJoin, MERGE forces SortMergeJoin, SHUFFLE_HASH
    forces ShuffledHashJoin on the same query — the manual override
    when the optimizer's size estimates are wrong at 100 TB."""
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    orders = load_table(spark, sf_smoke_dir, "orders")
    lineitem = load_table(spark, sf_smoke_dir, "lineitem")

    def plan_with(hint):
        j = lineitem.join(
            orders.hint(hint), lineitem.l_orderkey == orders.o_orderkey
        )
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan_with("broadcast")
    assert "SortMergeJoin" in plan_with("merge")
    assert "ShuffledHashJoin" in plan_with("shuffle_hash")


def test_cbo_statistics_inform_planning(spark, sf_smoke_dir, tmp_path):
    """Cost-based optimization: after ANALYZE TABLE COMPUTE STATISTICS,
    the catalog carries row counts and sizes the planner can use —
    table-level stats are the inputs to join reordering and broadcast
    decisions on warehouses where file listing alone misestimates."""
    spark.sql(f"CREATE TABLE IF NOT EXISTS cbo_orders USING parquet LOCATION '{sf_smoke_dir}/orders.parquet'")
    try:
        spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
        desc = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE TABLE EXTENDED cbo_orders").select(
                F.col("col_name").alias("info_name"), F.col("data_type").alias("info_value")
            ).collect()
        }
        stats = desc.get("Statistics", "")
        assert "rows" in stats, f"no row stats recorded: {stats!r}"
        col = spark.sql("DESCRIBE EXTENDED cbo_orders o_orderkey").collect()
        got = {r.info_name: r.info_value for r in col}
        assert got.get("distinct_count") not in (None, "NULL"), got
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_orders")


def test_exchange_reuse_for_repeated_subplans(spark, sf_smoke_dir):
    """The same aggregate consumed twice (self-join of a grouped
    relation) must execute ONE shuffle and reuse it (ReusedExchange),
    not recompute — the plan property that makes diamond-shaped DAGs
    (totals joined back to details) affordable."""
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    ev = load_table(spark, sf_smoke_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    big = agg.filter(F.col("n") > 0)
    small = agg.filter(F.col("n") > 10).withColumnRenamed("n", "n2")
    j = big.join(small, "event_type")
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:1500]
