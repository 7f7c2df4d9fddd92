"""Registry-level semantic pins for every rows-only query whose OPERATOR is
tested elsewhere but whose registry wrapper was only smoke-checked (count>=0).
A wrapper can silently drift from its tested operator (wrong parameters, wrong
column mapping) without these — each test here asserts an invariant of the
wrapper's actual output, so the driver's rows-only rows are backed by meaning,
not just a row count.  (agg_approx_battery is covered by tests/test_sketches.py,
the ann_*_persisted pair by tests/test_ann.py, source_kafka_avro_roundtrip by
tests/test_kafka_wire.py, bpe_* by tests/test_bpe.py.)"""

import pytest
from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return {s.name: s for s in all_queries()}


def test_agg_sketch_profile_bounds(spark, specs):
    """Sketch estimates must track the exact answers: HLL distinct within a
    generous 15% band, quantiles inside the value range and monotone."""
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    from health_monitor_cc_flink_spark.operators.sketches import (
        approx_profile,
        distinct_sketches,
        estimate,
    )

    got = {r.event_type: r for r in specs["agg_sketch_profile"].fn(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    # raw sketch estimates, recomputed from the operators (the gated
    # output carries certificate booleans since the r7 oracle promotion)
    raw = {
        r.event_type: r
        for r in estimate(distinct_sketches(ev, ["event_type"], "user_id"))
        .join(approx_profile(ev, "event_type", "value"), "event_type")
        .select(
            "event_type",
            "n_rows",
            "distinct_estimate",
            "approx_distinct",
            F.element_at("quantiles", 1).alias("p50"),
            F.element_at("quantiles", 2).alias("p95"),
            F.element_at("quantiles", 3).alias("p99"),
        )
        .collect()
    }
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("d_users"),
            F.countDistinct("value").alias("d_values"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    assert set(got) == set(exact) == set(raw)
    for et, g in raw.items():
        e = exact[et]
        q = got[et]
        assert q.n_rows == e.n and q.exact_users == e.d_users
        assert (
            q.hll_users_within_band
            and q.approx_values_within_band
            and q.quantiles_within_rank_band
        )
        assert g.n_rows == e.n
        assert abs(g.distinct_estimate - e.d_users) <= max(2, 0.15 * e.d_users)
        assert abs(g.approx_distinct - e.d_values) <= max(2, 0.15 * e.d_values)
        assert e.lo <= g.p50 <= g.p95 <= g.p99 <= e.hi


def test_ann_wrapper_recall_vs_brute(spark, specs):
    """Each ANN variant's registry wrapper must return k=10 rows, sorted by
    similarity, with recall vs the brute-force top-10 at the level its
    operator tests pin (pq exact-ish; kmeans-IVF high; label-cell IVF is the
    documented weak-quantizer demo — geometric recall only via kmeans)."""
    brute = [r.vec_id for r in specs["ann_brute_topk"].fn(spark, SF).collect()]
    floors = {"ann_pq_topk": 8, "ann_ivf_kmeans": 5, "ann_ivf_topk": 1}
    self_must_hit = {"ann_pq_topk", "ann_ivf_kmeans"}
    for name, floor in floors.items():
        rows = specs[name].fn(spark, SF).collect()
        assert len(rows) == 10, name
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True), name
        got = [r.vec_id for r in rows]
        assert len(set(brute) & set(got)) >= floor, (name, got)
        if name in self_must_hit:  # query vector is vec_id 0 itself
            assert 0 in got, name


def test_health_enriched_events_drops_unknown_patients(spark, specs):
    """S3 wrapper: 240 ticks x 10 patients survive; the 5 planted
    unknown-patient rows drop on the lookup miss; enrichment is total."""
    df = specs["health_enriched_events"].fn(spark, SF)
    rows = df.collect()
    assert len(rows) == 2400
    assert sorted({r.patient_id for r in rows}) == list(range(1, 11))
    assert all(r.name is not None and r.age is not None for r in rows)


def test_health_alert_wrappers_agree(spark, specs):
    """The DataFrame-path and SQL-surface (UDTF) wrappers run the same seeded
    fixture — their alert sets must be identical, and bradycardia fires for
    patient 1 only (the reference's designed acceptance signal)."""
    hb = sorted(map(tuple, specs["health_heartbeat_alerts"].fn(spark, SF).collect()))
    sq = sorted(map(tuple, specs["health_pipeline_sql_alerts"].fn(spark, SF).collect()))
    assert hb == sq
    assert len(hb) == 110
    assert {t[0] for t in hb} == {1}
    assert all(t[3] < 40 for t in hb)  # forecast_value under the S6 threshold


def test_simulator_source_batch_shape_and_determinism(spark, specs):
    """Native DataSource wrapper: one partition per patient, 240 ticks each,
    deterministic per seed (two reads produce identical rows)."""
    a = specs["simulator_source_batch"].fn(spark, SF).collect()
    b = specs["simulator_source_batch"].fn(spark, SF).collect()
    assert len(a) == 2400
    assert sorted({r.patient_id for r in a}) == list(range(1, 11))
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_streaming_stateful_anomalies_matches_batch(spark, specs):
    """O31 wrapper: the applyInPandasWithState streaming drain must reproduce
    the batch ml_detect_anomalies verdicts row-for-row (the state carries
    the AR(1) running sums, so batch == streaming exactly)."""
    from health_monitor_cc_flink_spark.functions.timeseries import ml_detect_anomalies
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    got = {
        (r.user_id, r.ts_us, round(r.observed_value, 9), r.is_anomaly)
        for r in specs["streaming_stateful_anomalies"].fn(spark, SF).collect()
    }
    bat = ml_detect_anomalies(
        load_table(spark, SF, "events"), "value", "ts", ["user_id"], min_training_size=30
    )
    want = {
        (r.user_id, r.ts_us, round(r.observed_value, 9), r.is_anomaly)
        for r in bat.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("value").alias("observed_value"),
            F.col("report.is_anomaly").alias("is_anomaly"),
        ).collect()
    }
    assert got == want


def test_agg_hll_mergeable_rollup_consistency(spark, specs):
    """The merged day-sketch estimate must (a) sit within the HllSketch
    lgK=12 error band of the exact distinct count and (b) equal the
    estimate of a DIRECT (un-rolled-up) sketch over the same rows —
    the mergeability property the operator exists to demonstrate."""
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    rows = {r.event_type: r for r in specs["agg_hll_mergeable_rollup"].fn(spark, SF).collect()}
    # raw estimates, recomputed independently of the query (the gated
    # output carries only the certificate booleans since the r7 oracle
    # promotion — the estimates themselves stay pinned here)
    ev = load_table(spark, SF, "events").withColumn(
        "day", F.expr("(unix_micros(ts) DIV 86400000000)")
    )
    merged = {
        r.event_type: r.m
        for r in ev.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m"))
        .collect()
    }
    # a DIFFERENT regrouping of the same rows (weekly sketches) must
    # union to a near-identical estimate — HLL_4 curMin clipping makes
    # unions only approximately grouping-independent (~0.7% spread
    # measured at sf0.1), so the mergeability contract is a 2% band,
    # not bit-equality (and merged != direct is likewise allowed: HIP
    # vs composite estimator)
    weekly = {
        r.event_type: r.m
        for r in ev.withColumn("week", F.expr("day DIV 7"))
        .groupBy("event_type", "week")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m"))
        .collect()
    }
    assert rows
    for et, r in rows.items():
        assert r.exact_users > 0
        assert r.merge_consistent and r.within_error_band
        # lgK=12 → relative error ~1.6%; allow 5%
        assert abs(merged[et] - r.exact_users) <= max(2, 0.05 * r.exact_users)
        assert abs(merged[et] - weekly[et]) <= max(2, 0.02 * r.exact_users), (
            f"{et}: daily-merge {merged[et]} vs weekly-merge {weekly[et]}"
        )
        assert r.n_day_sketches > 1  # it actually rolled up multiple sketches


def test_embedding_pca_matches_numpy(spark, specs):
    """Distributed covariance-partial PCA must agree with numpy PCA on
    the collected corpus, and each projected-coordinate variance must
    equal its eigenvalue (the defining PCA invariant)."""
    import numpy as np

    from health_monitor_cc_flink_spark.sources.testdata import load_table

    from pyspark.sql import functions as F

    from health_monitor_cc_flink_spark.operators.decomposition import (
        pca_fit,
        pca_project,
    )

    emb = load_table(spark, SF, "embeddings")
    vals, comp, mean, n, total_var = pca_fit(emb, "embedding", 64, 4)
    proj = pca_project(emb, "embedding", "vec_id", comp, mean)
    stats = proj.agg(
        *[F.avg(F.col(f"pc{i+1}") * F.col(f"pc{i+1}")).alias(f"var{i+1}")
          for i in range(4)]
    ).collect()[0]
    m = np.stack(
        [np.array(r.embedding, dtype=np.float64) for r in emb.collect()]
    )
    cov = np.cov(m, rowvar=False, bias=True)
    ref = np.sort(np.linalg.eigvalsh(cov))[::-1][:4]
    ref_total = float(np.trace(cov))
    assert n == m.shape[0]
    for i, expected in enumerate(ref):
        assert abs(float(vals[i]) - expected) < 1e-9
        assert abs(float(stats[f"var{i+1}"]) - float(vals[i])) < 1e-9
        assert abs(float(vals[i]) / total_var
                   - expected / ref_total) < 1e-9
    # the promoted certificate gate (r15) must be all-green too
    rows = sorted(
        specs["embedding_pca_topk_variance"].fn(spark, SF).collect(),
        key=lambda r: r.component,
    )
    assert [r.component for r in rows] == [1, 2, 3, 4]
    for r in rows:
        assert r.n == m.shape[0]
        assert r.var_matches_eigenvalue and r.eigs_descending
        assert r.evr_in_unit and r.variance_sum_conserved


def test_text_compression_ratio_semantics(spark, specs):
    """Compression ratio must (a) match stdlib zlib exactly per doc,
    (b) be invariant under repartitioning, and (c) rank planted
    repetitive text strictly below natural-looking text."""
    import zlib

    from health_monitor_cc_flink_spark.operators.text import compression_ratio
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    got = {
        r.doc_id: r
        for r in compression_ratio(
            load_table(spark, SF, "documents"), "doc_id", "text"
        ).collect()
    }
    docs = {r.doc_id: r.text for r in load_table(spark, SF, "documents").collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        raw = text.encode("utf-8")
        assert got[doc_id].raw_bytes == len(raw)
        assert got[doc_id].compressed_bytes == len(zlib.compress(raw, 6))
    # the promoted certificate gate (r15) must be all-green too
    cert = {r.doc_id: r for r in
            specs["text_compression_ratio"].fn(spark, SF).collect()}
    assert set(cert) == set(docs)
    for doc_id, text in docs.items():
        c = cert[doc_id]
        assert c.raw_bytes == len(text.encode("utf-8"))
        assert c.ratio_positive and c.overhead_bounded
        assert c.redundancy_improves

    # partition invariance
    re8 = {
        r.doc_id: r.compressed_bytes
        for r in compression_ratio(
            load_table(spark, SF, "documents").repartition(8), "doc_id", "text"
        ).collect()
    }
    assert re8 == {k: v.compressed_bytes for k, v in got.items()}

    # discrimination: repetitive junk compresses harder than varied text
    probe = spark.createDataFrame(
        [(0, "spam " * 200), (1, " ".join(f"w{i}x{i * 7 % 113}" for i in range(200)))],
        "doc_id long, text string",
    )
    pr = {r.doc_id: r.compression_ratio for r in compression_ratio(probe, "doc_id", "text").collect()}
    assert pr[0] < pr[1] / 2

    # NULL text must not abort the job: treated as empty, ratio 1.0
    nulls = spark.createDataFrame(
        [(0, None), (1, "some real text here")], "doc_id long, text string"
    )
    nr = {r.doc_id: r for r in compression_ratio(nulls, "doc_id", "text").collect()}
    assert nr[0].raw_bytes == 0 and nr[0].compression_ratio == 1.0
    assert nr[1].raw_bytes == len(b"some real text here")
