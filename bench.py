#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}

Execution is forced with the noop sink (full computation, no write cost).
A tiny warmup query amortizes JVM/codegen startup out of the numbers.
Set BENCH_ALL=1 to time every registry query instead of the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from health_monitor_cc_flink_spark.registry import all_queries  # noqa: E402
from health_monitor_cc_flink_spark.session import build_session  # noqa: E402


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


#: quiet-host convention: timings above this 1-min loadavg are
#: contaminated by co-tenants (observed 2-5x swings at loadavg ~19)
LOADAVG_QUIET = 2.0


def _loadavg1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # loadavg guard (VERDICT r12 #2): a loaded host produces numbers
    # that are provably noise (two same-code r12 runs disagreed 3x on
    # q1).  Refuse to record them unless explicitly overridden; the
    # start/finish loadavg is stored in the payload either way so a
    # round artifact can never silently be a loaded run.
    load_start = _loadavg1()
    allow_loaded = os.environ.get("BENCH_ALLOW_LOADED", "").lower() \
        in ("1", "true", "yes")
    loaded_fallback = False
    if load_start is not None and load_start > LOADAVG_QUIET \
            and not allow_loaded:
        # bounded retry-until-quiet (VERDICT r13 #3): the r13 driver
        # window closed with an rc=3 refusal and NO artifact at all —
        # worse than annotated numbers.  Wait for the host to quiet
        # down (up to ~5 min), then fall back to an annotated loaded
        # run rather than refusing.
        retries = int(os.environ.get("BENCH_QUIET_RETRIES", "10"))
        wait_s = float(os.environ.get("BENCH_QUIET_WAIT_S", "30"))
        for attempt in range(retries):
            print(json.dumps({
                "waiting_for_quiet_host": attempt + 1,
                "loadavg_1min": load_start,
                "quiet_threshold": LOADAVG_QUIET,
            }))
            time.sleep(wait_s)
            load_start = _loadavg1()
            if load_start is None or load_start <= LOADAVG_QUIET:
                break
        else:
            loaded_fallback = True  # annotated numbers beat none
    spark = build_session(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    bench_all = os.environ.get("BENCH_ALL", "").lower() in ("1", "true", "yes")
    specs = [s for s in all_queries() if (s.bench or bench_all)]

    # warmup: touch every table + codegen paths + Python/Arrow workers
    # once so timings reflect steady state, not first-touch costs
    from health_monitor_cc_flink_spark.schemas import TESTDATA_TABLES
    from health_monitor_cc_flink_spark.sources.testdata import load_table

    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).count()
    # full warmup pass: run EVERY timed query once untimed so the measured
    # pass is uniform steady state (codegen compiled, Arrow workers up,
    # model-artifact caches built).  Timing one arbitrary query cold and
    # the rest warm — the old behavior, where the registry's rotation
    # order picked the lucky one — made round-over-round numbers
    # incomparable.
    for spec in specs:
        force(spec.fn(spark, sf_dir))
    warm = spark.range(1000).selectExpr("id % 8 AS k", "rand(42) AS v")
    warm.groupBy("k").applyInPandas(
        lambda pdf: pdf.head(1), schema="k long, v double"
    ).write.mode("overwrite").format("noop").save()

    # best-of-2 per query: single-shot timings on this host swing
    # 2-5x run-to-run from invisible co-tenant contention (same code,
    # loadavg ~1); the min is the steady-state cost of the plan — the
    # same rule the e2e/streaming sections already use
    timings: dict[str, float] = {}
    query_load: dict[str, float] = {}
    for spec in specs:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            force(spec.fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[spec.name] = round(best, 3)
        # per-query loadavg stamp (VERDICT r13 #2): the r13 artifact
        # shipped a false 37x outlier because only start/finish load
        # was recorded — a mid-run co-tenant spike was invisible.
        la = _loadavg1()
        if la is not None:
            query_load[spec.name] = la

    # outlier adjudication (VERDICT r13 #2, hardened per VERDICT r16
    # #4): re-measured (fresh best-of-2) before the artifact is
    # committed are (a) any query > 2x its trailing-3-round median,
    # and (b) any query whose per-query loadavg stamp exceeded the
    # quiet threshold — rule (a) alone left queries with no history
    # (new this round) blind, and the r17 driver artifact shipped
    # contaminated first-window numbers because of exactly that.
    # Surviving outliers are listed in the payload with their load
    # stamps instead of sitting unremarked.
    medians = _trailing_medians(_round_number())
    flagged: dict[str, str] = {}
    for spec in specs:
        med = medians.get(spec.name)
        first = timings[spec.name]
        if med is not None and med >= 0.15 and first > 2.0 * med:
            # tiny-median queries exempt: 2x of noise is noise
            flagged[spec.name] = "gt2x_trailing_median"
    for spec in specs:
        la = query_load.get(spec.name)
        if la is not None and la > LOADAVG_QUIET \
                and spec.name not in flagged \
                and timings[spec.name] >= 0.15:
            flagged[spec.name] = "loaded_window"
    adjudications: list[dict] = []
    adjudication_capped = False
    if flagged:
        # a rerun under the same load proves nothing (the r17 driver
        # artifact's reruns at loadavg ~6 were still contaminated):
        # wait for the host to quiet down, bounded like the start gate
        for _ in range(int(os.environ.get("BENCH_QUIET_RETRIES", "10"))):
            la = _loadavg1()
            if la is None or la <= LOADAVG_QUIET:
                break
            time.sleep(float(os.environ.get("BENCH_QUIET_WAIT_S", "30")))
        # bound total adjudication work: a fully-loaded run flags
        # everything, and rerunning the whole bench doubles the run —
        # that case is already annotated via loaded_run_* flags
        order = sorted(
            flagged,
            key=lambda n: (flagged[n] != "gt2x_trailing_median",
                           -timings[n]))
        if len(order) > 45:
            order = order[:45]
            adjudication_capped = True
        by_name = {s.name: s for s in specs}
        for name in order:
            spec = by_name[name]
            med = medians.get(name)
            first = timings[name]
            best = first
            for _ in range(2):
                t0 = time.perf_counter()
                force(spec.fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            la = _loadavg1()
            if la is not None:
                query_load[name] = la
            # same tiny-median noise exemption as the first pass
            still = (best > 2.0 * med) if med is not None and med >= 0.15 \
                else (la is not None and la > LOADAVG_QUIET)
            adjudications.append({
                "query": name,
                "reason": flagged[name],
                "first_sec": first,
                "rerun_sec": round(best, 3),
                "trailing_median_sec": med,
                "loadavg_at_rerun": la,
                "still_outlier": still,
            })

    # the reference workload itself: 4-stage health pipeline incl. both
    # ML operators on a 20-minute simulated stream (2400 ticks at 0.5 s
    # = 1200 one-second windows per patient)
    from health_monitor_cc_flink_spark.fixtures import health_events_df
    from health_monitor_cc_flink_spark.plans.health_pipeline import run_pipeline
    from health_monitor_cc_flink_spark.sources.memory import patients_df

    n_ticks, n_patients = 2400, 10
    events = health_events_df(spark, n_ticks=n_ticks, interval_s=0.5, seed=42).cache()
    events.count()  # materialize fixture outside the timed window
    # warmup: the native AR(1) path is one large codegen'd window stage and
    # needs a few executions before the JVM's C2 JIT compiles the generated
    # evaluators (measured: 8.4 / 3.3 / 2.3 / 2.0 s over consecutive runs);
    # the old single-warmup was tuned for the pandas kernel, which has no
    # JIT ramp.  Three warmups reach the steady state the bench documents.
    for _ in range(3):
        w = run_pipeline(events, patients_df(spark))
        force(w["enriched_events"])
        force(w["heartbeat_alerts"])
    # best-of-2 timed runs: a single sample occasionally lands on a GC /
    # late-JIT pause (observed 1.9 s steady state vs a stray 4.3 s sample);
    # min-of-2 reports the steady-state cost the plan actually has.
    e2e_samples = []
    for _ in range(2):
        t0 = time.perf_counter()
        stages = run_pipeline(events, patients_df(spark))
        force(stages["enriched_events"])
        force(stages["heartbeat_alerts"])
        e2e_samples.append(time.perf_counter() - t0)
    timings["health_pipeline_e2e"] = round(min(e2e_samples), 3)
    la = _loadavg1()
    if la is not None:
        query_load["health_pipeline_e2e"] = la
    events.unpersist()

    # streaming throughput: drain the sf events table through the
    # watermarked tumbling aggregation (availableNow) — the structured-
    # streaming path's sustained rate vs the reference's 50 events/s.
    # _drain_to_memory is the registry's shared drain recipe: memory sink,
    # right-sized state partitions, and the shuffle-conf restore in a
    # try/finally (the former inline copy leaked the 8-partition override
    # on any drain failure).
    from health_monitor_cc_flink_spark.registry import _drain_to_memory
    from health_monitor_cc_flink_spark.sources.testdata import events_stream
    from pyspark.sql import functions as SF

    n_events = load_table(spark, sf_dir, "events").count()

    def drain() -> float:
        src = events_stream(spark, sf_dir)
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(SF.window("ts", "1 minute"), "user_id")
            .agg(SF.avg("value"))
        )
        t0 = time.perf_counter()
        _drain_to_memory(spark, agg, "bench_stream_")
        return time.perf_counter() - t0

    drain()  # warmup: micro-batch machinery, state-store + sink codepaths
    stream_sec = round(min(drain(), drain()), 3)  # best-of-2, as for e2e
    timings["streaming_tumble_drain"] = stream_sec
    la = _loadavg1()
    if la is not None:
        query_load["streaming_tumble_drain"] = la

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # reference load envelope comparison (BASELINE.md: the
        # original pipeline was sized for 50 events/s sustained)
        "health_pipeline_events_per_sec": round(
            n_ticks * n_patients / timings["health_pipeline_e2e"], 1
        ),
        "streaming_events_per_sec": round(n_events / stream_sec, 1),
        "loadavg_start": load_start,
        "loadavg_finish": _loadavg1(),
        "loadavg_quiet_threshold": LOADAVG_QUIET,
        "loaded_run_override": allow_loaded,
        "loaded_run_fallback": loaded_fallback,
        "loadavg_per_query": query_load,
        "outliers_adjudicated": adjudications,
        "adjudication_capped": adjudication_capped,
    }
    # output contract (VERDICT r11 #1): the driver keeps only the LAST
    # 2000 chars of stdout, so a single giant JSON line gets its head
    # truncated and parses as nothing.  Emit one line per query first
    # (greppable, truncation-safe), then a SHORT final summary line
    # (<500 chars) carrying totals + throughput — the tail always
    # keeps the end, so the final line always parses.
    for name in sorted(timings):
        print(json.dumps({"bench_query": name, "sec": timings[name]}))
    rn = _round_number()
    summary = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "sf": payload["sf"],
        "n_queries": len(timings),
        "health_pipeline_events_per_sec":
            payload["health_pipeline_events_per_sec"],
        "streaming_events_per_sec": payload["streaming_events_per_sec"],
        "queries": {
            "health_pipeline_e2e": timings["health_pipeline_e2e"],
            "streaming_tumble_drain": timings["streaming_tumble_drain"],
        },
        "full": f"BENCH_LOCAL_r{rn:02d}.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 500:  # the whole point is fitting in the tail
        raise AssertionError(f"summary line {len(line)} chars > 500")
    print(line)
    # full dict + PERF.md section are written UNCONDITIONALLY on every
    # run (not gated on an env var that three rounds never set) — the
    # committed BENCH_LOCAL_r{N}.json is the durable full record
    _write_round_artifacts(payload, rn)
    spark.stop()


def _round_queries(here: str, r: int) -> dict[str, float]:
    """Per-query timings recorded for round r, best source first:
    BENCH_LOCAL_r{r}.json (full dict; adjudicated outliers already
    store rerun_sec, not the contaminated first sample), else the
    driver's BENCH_r{r}.json — its parsed.queries block plus any
    {"bench_query": ..., "sec": ...} lines recoverable from the
    2000-char stdout tail (these exist back to r01)."""
    local = os.path.join(here, f"BENCH_LOCAL_r{r:02d}.json")
    if os.path.exists(local):
        try:
            with open(local) as f:
                qs = json.load(f).get("queries", {})
            return {k: float(v) for k, v in qs.items()
                    if isinstance(v, (int, float))}
        except (OSError, ValueError):
            pass
    driver = os.path.join(here, f"BENCH_r{r:02d}.json")
    if not os.path.exists(driver):
        return {}
    try:
        with open(driver) as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return {}
    out: dict[str, float] = {}
    parsed = raw.get("parsed")
    if isinstance(parsed, dict):
        for k, v in (parsed.get("queries") or {}).items():
            if isinstance(v, (int, float)):
                out[k] = float(v)
    import re
    for m in re.finditer(
            r'\{"bench_query":\s*"([^"]+)",\s*"sec":\s*([0-9.eE+-]+)\}',
            raw.get("tail", "")):
        try:
            out[m.group(1)] = float(m.group(2))
        except ValueError:
            continue
    return out


def _trailing_medians(rn: int, window: int = 3) -> dict[str, float]:
    """Per-query median of each query's `window` most recent samples,
    walking backward through ALL committed bench artifacts (BENCH_LOCAL
    preferred per round, driver BENCH_r tails as backfill — VERDICT r14
    #2: a 2-artifact-deep baseline let a 2.4x drift ship unadjudicated).
    Queries absent from every prior artifact (new this round) get no
    median and are exempt."""
    import statistics

    here = os.path.dirname(os.path.abspath(__file__))
    samples: dict[str, list[float]] = {}
    for r in range(rn - 1, 0, -1):
        for name, sec in _round_queries(here, r).items():
            bucket = samples.setdefault(name, [])
            if len(bucket) < window:
                bucket.append(sec)
    return {name: round(statistics.median(v), 3)
            for name, v in samples.items()}


def _round_number() -> int:
    """Current round = BENCH_PERF_ROUND if set, else 1 + the highest
    committed driver artifact BENCH_r{N}.json (the driver writes r{N}
    AFTER round N, so during round 12 the max on disk is r11)."""
    explicit = os.environ.get("BENCH_PERF_ROUND")
    if explicit:
        return int(explicit)
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    ns = [int(m.group(1))
          for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
          if (m := re.search(r"BENCH_r(\d+)\.json$", p))]
    return max(ns, default=0) + 1


def _write_round_artifacts(payload: dict, rn: int) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here,
                           f"BENCH_LOCAL_r{rn:02d}.json"), "w") as f:
        f.write(json.dumps(payload) + "\n")
    timings = payload["queries"]
    # common-set ratio vs the previous round, preferring the committed
    # full-dict BENCH_LOCAL over the driver's (possibly truncated)
    # artifact
    prev_line = ""
    prev: dict = {}
    for cand in (f"BENCH_LOCAL_r{rn - 1:02d}.json",
                 f"BENCH_r{rn - 1:02d}.json"):
        prev_path = os.path.join(here, cand)
        if not os.path.exists(prev_path):
            continue
        with open(prev_path) as f:
            raw = json.load(f)
        if "queries" in raw:
            prev = raw["queries"]
        else:
            # the DRIVER's artifact wraps the bench's JSON line inside
            # a captured-output field; recover the embedded line
            blob = (raw.get("tail") or "") + (raw.get("stdout") or "")
            start = blob.find('{"metric"')
            try:
                prev = json.loads(
                    blob[start:].splitlines()[0])["queries"]
            except (ValueError, KeyError):
                prev = {}
        if prev:
            break
    common = sorted(set(prev) & set(timings))
    if common:
        now_s = sum(timings[q] for q in common)
        then_s = sum(prev[q] for q in common)
        prev_line = (
            f"The {len(common)} r{rn - 1}-common queries total "
            f"{now_s:.2f} s vs {then_s:.2f} s recorded for "
            f"round {rn - 1} = "
            f"**{now_s / then_s:.2f}x**.\n"
        )
    ls = payload.get("loadavg_start")
    lf = payload.get("loadavg_finish")
    load1 = (f"start {ls if ls is not None else 'n/a'} / "
             f"finish {lf if lf is not None else 'n/a'}"
             + (" — LOADED-RUN OVERRIDE, numbers suspect"
                if payload.get("loaded_run_override") else "")
             + (" — LOADED-RUN FALLBACK after quiet-wait timeout, "
                "numbers suspect"
                if payload.get("loaded_run_fallback") else ""))
    adj = payload.get("outliers_adjudicated") or []
    if adj:
        lines = []
        for a in adj:
            verdict = ("STILL flagged after quiet re-run — treat as "
                       "real or contaminated, do not ignore"
                       if a["still_outlier"] else
                       "resolved by re-run (first sample was "
                       "contamination)")
            med = a.get("trailing_median_sec")
            med_s = (f"trailing median {med:.2f} s"
                     if med is not None else "no trailing median")
            lines.append(
                f"- `{a['query']}` [{a.get('reason', '?')}]: first "
                f"{a['first_sec']:.2f} s vs {med_s}; "
                f"re-run {a['rerun_sec']:.2f} s "
                f"(loadavg {a['loadavg_at_rerun']}) — {verdict}")
        adj_block = ("\nOutlier adjudication (>2x trailing-3-round "
                     "median, or a loaded per-query window, triggers "
                     "an in-run re-measure after a bounded "
                     "quiet-wait):\n"
                     + "\n".join(lines) + "\n")
    else:
        adj_block = ("\nOutlier adjudication: no query exceeded 2x its "
                     "trailing-3-round median.\n")
    rows = "\n".join(
        f"| {name} | {sec:.2f} |"
        for name, sec in sorted(
            timings.items(), key=lambda kv: -kv[1]
        )
    )
    marker = f"\n## Round-{rn} bench "
    section = (
        f"{marker}(generated by bench.py from "
        f"BENCH_LOCAL_r{rn:02d}.json — same dict, no prose drift; "
        f"loadavg 1-min {load1})\n\n"
        f"Total **{payload['value']:.2f} s over {len(timings)} headline "
        f"queries** at sf{payload['sf']}.  Health pipeline "
        f"{payload['health_pipeline_events_per_sec']:,.0f} events/s; "
        f"streaming drain "
        f"{payload['streaming_events_per_sec']:,.0f} events/s.\n"
        + prev_line
        + adj_block
        + f"\n| query | sec |\n|---|---|\n{rows}\n"
    )
    # re-runs within a round REPLACE the round's section (appending
    # would stack duplicate tables and re-introduce prose drift)
    perf_path = os.path.join(here, "PERF.md")
    try:
        with open(perf_path) as f:
            body = f.read()
    except OSError:
        body = ""
    if marker in body:
        head, _, rest = body.partition(marker)
        nxt = rest.find("\n## ")
        body = head + ("" if nxt < 0 else rest[nxt:])
    with open(perf_path, "w") as f:
        f.write(body.rstrip("\n") + "\n" + section)


if __name__ == "__main__":
    main()
