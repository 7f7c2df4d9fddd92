#!/usr/bin/env python
"""Scale-linearity probe: replicate the sf0.1 tables N× (fresh keys per
replica so join/group cardinalities scale too) and measure headline
queries at 1× and N×.  A plan that holds at 100 TB should show ≈linear
wall-clock growth here (same shuffle structure, no driver-side
bottleneck, no quadratic blow-up).

Usage: python scripts/scale_probe.py [N]      (default 8)
Writes replicated parquet under /tmp/scale_probe_sfX and prints one JSON
line per scale with per-query seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from health_monitor_cc_flink_spark.registry import all_queries
from health_monitor_cc_flink_spark.session import build_session

BASE = "/root/testdata/sf0.1"
PROBE_QUERIES = (
    "q1_pricing_summary",
    "q5_nation_revenue",
    "o16_tumble_minute_avg",
    "o13_broadcast_enrich",
    "dedup_minhash_bands",
    "q9_product_profit_shape",
    "q13_customer_distribution",
    "join_range_binned",
    # flagged superlinearity risks: interval-join bin fan-out and
    # label-propagation iteration count must both stay ~linear
    "join_interval_pairs",
    "dedup_clusters",
    # graph ops: wedge fan-out (triangles) and the per-iteration
    # join+agg (pagerank) must stay linear when replicas add disjoint
    # subgraphs (keys offset per replica → N independent components)
    "graph_triangle_count",
    "graph_pagerank_intscaled",
    "text_commonness_score",
    # round-5 additions: the shingle inverted-index join (decontaminate)
    # and the gram-multiplicity double-agg (repetition) are the linear-
    # but-heavy token-volume paths; packing is a pure window prefix-sum
    "text_decontaminate_eval_overlap",
    "text_repetition_ratio",
    "pack_sequences_per_lang",
    "embedding_int8_quantize",
    # bigram LM training+scoring: the (w1,w2) count shuffle and the
    # doc-bigram-vs-LM join are both token-volume bound; BPE's per-round
    # pair count must stay vocab-bound (replicas reuse the same vocab, so
    # superlinear growth here would mean the corpus leaked into a round)
    "text_bigram_lm_rarity",
    "bpe_train_merges",
    # contingency marginals are tiny-broadcast joins; the leakage-safe
    # split adds one broadcast-size join on top of the (already probed)
    # LSH clustering — both must stay corpus-linear
    "stats_chi2_contingency",
    "split_leakage_safe_clusters",
    # round-5 continuation: quality rules are token-volume explode+agg;
    # PSI/KS are count shuffles (KS's global window runs on the distinct-
    # value relation, which replicas barely grow — expect flat); OHLC and
    # the as-of/EWMA windows shuffle on (type,hour)/user_id, with user_id
    # cardinality FIXED across replicas so these double as long-key probes
    "text_gopher_quality_flags",
    "stats_psi_drift",
    "stats_ks_two_sample",
    "events_ohlc_bars",
    "join_asof_nearest",
    "ts_ewma_trailing",
    # rank/variance statistics share KS's distinct-value or per-group
    # integer-sum shape; the skew report is one count shuffle + top-20
    "stats_mann_whitney_u",
    "stats_welch_ttest_components",
    "stats_autocorr_components",
    "dq_key_skew_report",
    # SCD2 enrich and rate limit are one-window-shuffle plans; Gini
    # sorts only the per-key relation; heavy hitters' pass 1 is the
    # bounded-memory Misra-Gries map (shuffle = candidates, not vocab)
    "enrich_scd2_point_in_time",
    "events_rate_limit_per_key",
    "stats_gini_concentration",
    "topk_heavy_hitters_twopass",
    # path extraction shares the sessionize shuffle; decompose windows
    # run on the 3000:1-reduced hourly relation
    "sessions_event_path",
    "ts_seasonal_decompose",
    # transitions: lag window + |types|^2 count; funnel: two stacked
    # windows on one user_id shuffle (user cardinality fixed across
    # replicas → these double as long-key probes)
    "events_markov_transitions",
    "funnel_window_3step",
    # continuation II: keep-best rides the (probed) LSH clustering plus
    # one row_number window; containment shares the shingle inverted
    # index; sorted-neighborhood is one block-key window (no join);
    # JL projection is pure map; entropy is two hash-agg shuffles
    "dedup_keep_best_quality",
    "dedup_containment_pairs",
    "fuzzy_sorted_neighborhood_pairs",
    "embedding_random_projection",
    "stats_entropy_event_mix",
    # incremental dedup joins batch bands to corpus bands (batch-bound);
    # curriculum's only global object is the distinct-value cumsum;
    # dup-rate rides the probed clustering + one source agg
    "dedup_incremental_against_corpus",
    "corpus_curriculum_shards",
    "dq_dup_rate_per_source",
    # container decode is pure map (codegen); MAD is two keyed aggs +
    # 5-row broadcast joins; temperature weights one count shuffle;
    # compression ratio is Arrow-batched CPU-bound map work
    "mm_wav_header_parse",
    "mm_png_header_parse",
    "stats_mad_outliers",
    "corpus_mix_temperature_weights",
    "text_compression_ratio",
    # mode rides the reduced per-bin relation; cadence/downtime share
    # one lag-window shuffle; spatial join is cell equi-join + broadcast
    "agg_mode_deterministic",
    "events_cadence_histogram",
    "events_downtime_gaps",
    "join_spatial_grid",
    # basket pairs are order-key equi-joins (fan-out = basket size^2);
    # degree distribution rides the memoized knn edge list
    "basket_part_affinity",
    "graph_degree_distribution",
    # bootstrap is a 16x explode + one count shuffle; benford/reconcile
    # are single-agg or key-join shapes
    "stats_poisson_bootstrap_mean",
    "dq_benford_first_digit",
    "dq_order_total_reconciliation",
    # purity is the bucket expression + one (bucket,label) count;
    # k-anonymity is one QI-key aggregation
    "embedding_lsh_bucket_purity",
    "dq_k_anonymity_audit",
    # calibration is one bin-key agg; KM runs on the distinct-duration
    # relation after a user_id agg; XML roundtrip is a format IO path
    "stats_calibration_bins",
    "stats_kaplan_meier",
    # estimate-quality shares the signature/shingle equi-joins; RFM and
    # attribution are one-key aggs/windows; backlog runs on the
    # distinct-day relation; confusion is a scan + 2-key count
    "dedup_minhash_estimate_quality",
    "customer_rfm_segments",
    "events_attribution_touchpoints",
    "orders_backlog_timeline",
    "text_lang_id_confusion",
    # cohort LTV is two keyed aggs; sniffer is pure map over synthesized
    # payloads; the prep e2e composes four probed stages in one DAG
    "orders_cohort_ltv",
    "mm_magic_byte_sniffer",
    "corpus_prep_pipeline_e2e",
    # pareto runs on the distinct-count relation; AB readout is two
    # keyed aggs over codegen JSON extraction
    "events_pareto_concentration",
    "events_ab_test_components",
    # fan-out prediction runs on two grouped-count relations; except-all
    # is one counted anti-semi shuffle
    "dq_join_fanout_estimate",
    "setop_except_all",
    # covariance is a dim-bounded self-join with map-side partial sums
    "embedding_covariance_4x4",
    # recursion: 3 bounded frontier joins on the memoized knn edges
    "sql_recursive_bfs",
    # keyword extraction: token explode + two count shuffles + per-doc window
    "text_keyword_extraction_topk",
    # BI rollups: month/day/key-grain aggregations of the fact table
    "orders_yoy_growth",
    "events_new_vs_returning",
    "market_concentration_hhi",
    # stickiness: 30x explode on the reduced user-day relation
    "events_dau_mau_stickiness",
    # pricing bands are one key agg; ABC windows run on the per-part relation
    "pricing_discount_response",
    "inventory_abc_classification",
    # aging/SLI/realization: key-grain rollups + scalar broadcasts
    "pricing_realization_by_brand",
    "orders_aging_buckets",
    "events_error_budget_sli",
    "returns_rate_by_brand",
    "events_traffic_profile",
    "sessions_bounce_rate",
    "orders_fulfillment_lag",
    "graph_assortativity_components",
    # round-6 additions: semdedup's pairwise step is equi-join-bounded per
    # hyperplane cell (cells ~ n/avg_cluster at fixed n_bits, so the x4
    # probe stresses growing cells — the knob a real run turns is n_bits);
    # the contamination report is the decontaminate inverted-index join
    # plus two countDistincts on one shuffle
    "semdedup_cluster_prune",
    "dq_contamination_report",
    # LSH ANN retrieval: one corpus scan for signatures (1 or 4 codegen'd
    # expressions) + candidate-only rerank — both must track the scan,
    # i.e. stay ~linear with no candidate blow-up
    "ann_lsh_multiprobe_topk",
    "ann_lsh_multitable_topk",
    # round-7 additions: JPEG decode is Arrow-batched CPU-bound map work
    # (like the PNG path — must scale with the scan); the sketch
    # certificates are hash-agg shuffles over the fact table
    "mm_jpeg_decode_features",
    "mm_avi_mjpeg_frame_sample",
    "mm_jpeg_color_decode_features",
    "agg_hll_mergeable_rollup",
    "agg_approx_battery",
    "agg_sketch_profile",
    # round-8 additions: more Arrow-batched CPU-map codecs —
    # progressive JPEG, WebP-lossless, GIF — all must track the scan
    # like their round-6/7 siblings
    "mm_jpeg_progressive_decode_features",
    "mm_webp_decode_features",
    "mm_gif_decode_features",
    # ingestion explodes (rows multiply, bytes bounded) + WARC walk
    "mm_archive_members_extract",
    "mm_warc_html_extract",
    # round-9 additions: the ExactSubstr span-dedup family is the first
    # probe entry whose core is a token-position equi-join — the gram
    # join fan-out must stay bounded by the stop-gram cap as replicas
    # multiply docs (replica-suffixed text keeps spans from exploding
    # cross-replica); the codecs are the usual Arrow CPU-map shape
    "dedup_span_exactsubstr",
    "dedup_span_exactsubstr_strip",
    "dedup_span_intra_doc",
    "dedup_span_incremental",
    "mm_png_matrix_decode_features",
    "mm_jpeg_subsampling_decode_features",
    "mm_jpeg12_decode_features",
    "mm_tiff_decode_features",
    # round-9 continuation: BMP/EXIF/charset are the usual CPU-map
    # shapes; the URL family is pure codegen string work (the quota
    # sampler adds one window shuffle on the domain key)
    "mm_bmp_decode_features",
    "mm_ico_decode_features",
    "mm_jpeg_exif_metadata",
    "mm_warc_charset_extract",
    "text_url_canonicalize",
    "corpus_domain_quota_sample",
    "corpus_robots_screen",
    "mm_tiff_pages_extract",
)

# key columns to offset per replica so cardinalities scale with data size.
# Foreign keys shift in lockstep with the referenced primary keys so join
# fan-outs stay constant per key — otherwise every customer/supplier gains
# N× the rows and the probe measures induced skew instead of scale.
# (nation/region stay 1×: true fixed-cardinality dimensions.)
KEY_OFFSETS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def replicate(spark, n: int, out_dir: str) -> None:
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    from health_monitor_cc_flink_spark.schemas import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        if t in KEY_OFFSETS:
            parts = []
            for i in range(n):
                rep = df
                for kc in KEY_OFFSETS[t]:
                    rep = rep.withColumn(kc, F.col(kc) + F.lit(i * 100_000_000))
                # shift event time per replica so time-window/range-join
                # cardinalities scale linearly instead of quadratically
                # (ts has shipped as both int64-nanos and timestamp[us];
                # shift in the column's own unit)
                if t == "events":
                    if dict(df.dtypes)["ts"] in ("bigint", "long"):
                        shift = F.col("ts") + F.lit(i * 31 * 86_400 * 10**9)
                    else:
                        shift = F.timestamp_add("DAY", F.lit(i * 31), F.col("ts"))
                    rep = rep.withColumn("ts", shift)
                # shift event text slightly so dedup structures scale too
                if t == "documents":
                    rep = rep.withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" replica{i}"))
                    )
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def run(spark, sf_dir: str, label: str) -> None:
    specs = {s.name: s for s in all_queries()}
    timings = {}
    # drop caches left by operators that materialize build artifacts
    # (k-NN edge lists) so every scale point measures a cold build; the
    # memo dict must go too, or builders hand back uncached frames and
    # every downstream graph query re-derives the edge list
    from health_monitor_cc_flink_spark.registry_pipeline_ops import clear_knn_graph_cache

    clear_knn_graph_cache(spark)
    spark.catalog.clearCache()
    only = os.environ.get("PROBE_ONLY")
    # PROBE_ONLY may name ANY registry query, not just the default list;
    # unknown names are a hard error — silently dropping a typo (or a
    # token with a stray space) would burn a full replicate() run while
    # measuring nothing
    if only:
        queries = [q.strip() for q in only.split(",") if q.strip()]
        unknown = [q for q in queries if q not in specs]
        if unknown:
            raise SystemExit(f"PROBE_ONLY names unknown queries: {unknown}")
    else:
        queries = PROBE_QUERIES
    for name in queries:
        # time fn() too: iterative operators (dedup_clusters) do their work
        # eagerly inside the builder via localCheckpoint
        t0 = time.perf_counter()
        df = specs[name].fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 2)
    print(json.dumps({"scale": label, "queries": timings}), flush=True)


def longkey(spark, mult: int, implementation: str) -> float:
    """Long-key probe: CONSTANT key cardinality (the reference's 10
    patients, health_simulator.py:17) with ``mult``× the history per key.
    The replica sweep grows data with FRESH keys, so it never exercises
    the per-key ML shuffle's long-tail behavior — this does: every extra
    row lands on one of the same 10 keys, so per-key state growth is the
    whole signal.  The native window-aggregate AR(1) path should stay
    ~linear with flat memory (constant-size aggregation buffers); the
    applyInPandas path materializes each key's FULL history in one pandas
    frame and is the straggler/memory trap this probe exists to watch."""
    from functools import partial

    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.functions import timeseries as tsm
    from health_monitor_cc_flink_spark.plans import health_pipeline as hp
    from health_monitor_cc_flink_spark.sources.memory import patients_df

    events = health_events_df(spark, n_ticks=2400 * mult, interval_s=0.5, seed=42).cache()
    events.count()
    orig_d, orig_f = hp.ml_detect_anomalies, hp.ml_forecast
    hp.ml_detect_anomalies = partial(tsm.ml_detect_anomalies, implementation=implementation)
    hp.ml_forecast = partial(tsm.ml_forecast, implementation=implementation)
    try:
        best = float("inf")
        for _ in range(2):  # second rep = steady state
            t0 = time.perf_counter()
            stages = hp.run_pipeline(events, patients_df(spark))
            stages["heartbeat_alerts"].write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
    finally:
        hp.ml_detect_anomalies, hp.ml_forecast = orig_d, orig_f
        events.unpersist()
    return round(best, 2)


def longkey_stream(spark, mult: int) -> dict:
    """Streaming counterpart of the long-key probe: the same constant-key
    (10 patients) × ``mult``-history shape, drained through
    streaming_detect_anomalies (applyInPandasWithState, default
    HDFS-backed store) in 4 time-sliced micro-batches.

    The per-key state is the AR(1) running sums, so state rows AND bytes
    must stay flat as history grows — that is the claim this probe pins;
    drain time may grow ~linearly (every row is scored once).
    Returns {seconds, state_rows, state_bytes, out_rows}."""
    import shutil
    import tempfile

    from health_monitor_cc_flink_spark.fixtures import health_events_df

    flat = (
        health_events_df(spark, n_ticks=2400 * mult, interval_s=0.5, seed=42)
        .select(
            F.col("patient_id").cast("long").alias("patient_id"),
            "event_time",
            F.col("vitals.heart_rate").cast("double").alias("observed_value"),
        )
    )
    tmp = tempfile.mkdtemp(prefix=f"lkstream_{mult}x_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    # 4 event-time slices, one file each with increasing mtimes so
    # maxFilesPerTrigger=1 yields 4 in-order micro-batches per key
    cuts = list(
        flat.selectExpr(
            "CAST(percentile(unix_micros(event_time), 0.25) AS BIGINT) AS q1",
            "CAST(percentile(unix_micros(event_time), 0.50) AS BIGINT) AS q2",
            "CAST(percentile(unix_micros(event_time), 0.75) AS BIGINT) AS q3",
        ).first()
    )
    bounds = [None, *cuts, None]
    now = time.time()
    for i in range(4):
        part = flat
        if bounds[i] is not None:
            part = part.filter(F.unix_micros("event_time") > bounds[i])
        if bounds[i + 1] is not None:
            part = part.filter(F.unix_micros("event_time") <= bounds[i + 1])
        pdir = os.path.join(tmp, f"p{i}")
        part.coalesce(1).write.parquet(pdir)
        pf = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{i}.parquet")
        shutil.copyfile(os.path.join(pdir, pf), dst)
        os.utime(dst, (now - 400 + i * 100, now - 400 + i * 100))

    try:
        from health_monitor_cc_flink_spark.streaming.stateful import (
            streaming_detect_anomalies,
        )

        stream = (
            spark.readStream.schema(flat.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("event_time", "10 minutes")
        )
        flagged = streaming_detect_anomalies(
            stream, value_col="observed_value", ts_col="event_time",
            key_col="patient_id", min_training_size=30,
        )
        t0 = time.perf_counter()
        q = (
            flagged.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        secs = time.perf_counter() - t0
        state = {"rows": None, "bytes": None, "out_rows": 0}
        for p in q.recentProgress:
            # some sinks report -1 when counts are unknown; don't let that
            # subtract from the total
            state["out_rows"] += max(0, p["sink"].get("numOutputRows", 0))
            if p.get("stateOperators"):
                state["rows"] = p["stateOperators"][0]["numRowsTotal"]
                state["bytes"] = p["stateOperators"][0]["memoryUsedBytes"]
        return {
            "seconds": round(secs, 2),
            "state_rows": state["rows"],
            "state_bytes": state["bytes"],
            "out_rows": state["out_rows"],
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--longkey-stream":
        mult = int(sys.argv[2]) if len(sys.argv) > 2 else 16
        spark = build_session(
            app_name="scale-probe-longkey-stream",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS','32')}]",
            shuffle_partitions=8,
        )
        spark.sparkContext.setLogLevel("ERROR")
        out = {"1x": longkey_stream(spark, 1), f"{mult}x": longkey_stream(spark, mult)}
        print(
            json.dumps({"probe": "longkey_stream_10_patients", "mult": mult, "runs": out}),
            flush=True,
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "--longkey":
        mult = int(sys.argv[2]) if len(sys.argv) > 2 else 16
        spark = build_session(
            app_name="scale-probe-longkey",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS','32')}]",
        )
        spark.sparkContext.setLogLevel("ERROR")
        out = {}
        for impl in ("native", "pandas"):
            out[impl] = {"1x": longkey(spark, 1, impl), f"{mult}x": longkey(spark, mult, impl)}
        print(json.dumps({"probe": "longkey_10_patients", "mult": mult, "seconds": out}), flush=True)
        spark.stop()
        return

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = build_session(app_name="scale-probe", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS','32')}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup
    run(spark, BASE, "warmup-1x")
    run(spark, BASE, "1x")
    out_dir = f"/tmp/scale_probe_{n}x"
    replicate(spark, n, out_dir)
    run(spark, out_dir, f"{n}x")
    spark.stop()


if __name__ == "__main__":
    main()
