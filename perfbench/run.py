#!/usr/bin/env python3
"""Paper-path benchmark of the health pipeline (S3 enrichment, S4 1 s
tumble + ML_DETECT_ANOMALIES, S5 cleaning, S6 ML_FORECAST alerts).

    python3 perfbench/run.py --workload kafka_fleet --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run: make (or reuse) the seeded
inputs, set up once from a cold start (JVM launch and a warm-up run), run
the workload repeatedly for ``--seconds``, check every run's output, and
print one JSON object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the separate traced run and reports
the per-layer metrics instead.  The metric list is ``BENCHMARK.json``;
the layer-to-metric table is in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "health_monitor_cc_flink_spark"
WORK = os.path.join(HERE, "_work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside ``run_dir``, and put
    the package on the path of the Python workers Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        PYSPARK_PYTHON=sys.executable,
        PYTHONWARNINGS="ignore",
    )
    sys.path.insert(0, ROOT)


class Spark:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, run_dir: str):
        cores = len(os.sched_getaffinity(0))
        self.master, self.partitions = f"local[{cores}]", cores
        self.conf = {
            # a fixed set of JIT compiler threads, so that their CPU time
            # can be read per thread: the JVM otherwise ends idle ones,
            # and an ended thread's time is no longer told apart
            "spark.driver.extraJavaOptions": " ".join([
                f"-Djava.io.tmpdir={tempfile.gettempdir()}", "-XX:-UsePerfData",
                "-XX:-UseDynamicNumberOfCompilerThreads",
            ]),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.session = None
        self.jvm_pid = None

    def start(self):
        """The program's session entry point; with no JVM running, it
        launches the JVM and the SparkContext."""
        from pyspark import SparkContext

        from health_monitor_cc_flink_spark.session import build_session

        self.session = build_session("perfbench", self.master, self.partitions, self.conf)
        self.session.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.session

    def full_gc(self) -> None:
        """A full GC, so that every run starts from the same heap: the live
        data only, whatever the runs before it left behind."""
        self.session.sparkContext._jvm.java.lang.System.gc()

    def cpu_seconds(self) -> float:
        """CPU time used so far by this process, the JVM and the Python
        workers, less that of the JVM's JIT compiler threads."""
        from tracing import cpu_seconds, jit_seconds

        return cpu_seconds(self.jvm_pid) - jit_seconds(self.jvm_pid)

    def mem_mb(self) -> float:
        """Peak RSS of this Python process so far plus the memory the JVM
        holds (live heap and non-heap)."""
        from tracing import jvm_live_mb, vm_hwm_mb

        return vm_hwm_mb("self") + jvm_live_mb(self.session)

    def stop(self) -> None:
        """Stop the session, shut the JVM down, and wait for it and every
        process below it (the Python workers) to end."""
        from pyspark import SparkContext

        from tracing import descendants

        if self.session is not None:
            self.session.stop()
            self.session = None
        gw = SparkContext._gateway
        if gw is None:
            return
        procs = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while procs:
            procs = [p for p in procs if _alive(p)]
            if procs and time.monotonic() > deadline:
                for p in procs:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Runs:
    """Timed runs of one workload: wall and CPU time per run, each run's
    output, and the runs attempted and failed."""

    def __init__(self, wl, spark, run_dir: str, log: dict):
        self.wl, self.spark, self.run_dir, self.log = wl, spark, run_dir, log
        self.times, self.cpu, self.outputs, self.attempted, self.failed = [], [], [], 0, 0

    def measure(self, seconds: float) -> "Runs":
        """Run back to back until ``seconds`` have passed: a run starts
        while the time is not up, so the last one ends after it."""
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            self.run()
            if not self.times:
                break  # the first run failed
        return self

    def run(self, span=contextlib.nullcontext) -> None:
        """One run inside ``span()``, timed (wall and CPU); its output is
        kept for ``check``."""
        self.attempted += 1
        self.spark.full_gc()
        try:
            with span():
                c0, t0 = self.spark.cpu_seconds(), time.perf_counter()
                out = self.wl.run_once(self.run_dir)
                t = time.perf_counter() - t0
                c = self.spark.cpu_seconds() - c0
        except Exception:  # a failed run is counted, not fatal
            self.fail([traceback.format_exc(limit=3)])
            return
        self.times.append(t)
        self.cpu.append(c)
        self.outputs.append(out)

    def check(self) -> None:
        """Check every run's output against the expected outputs."""
        for out in self.outputs:
            try:
                problems = self.wl.check(out)
            except Exception:
                problems = [traceback.format_exc(limit=3)]
            if problems:
                self.fail(problems)

    def fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.log["problems"] += problems


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    prepare_env(run_dir)

    import inputs
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]()
    log = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
           "loadavg_start": os.getloadavg(), "steal_s_start": tracing.steal_seconds(),
           "problems": []}

    t0 = time.perf_counter()
    in_dir, meta = inputs.ensure(os.path.join(WORK, "inputs"), wl.name, args.seed, **wl.size)
    generate_s = time.perf_counter() - t0

    spark = Spark(run_dir)
    try:
        # one cold set-up: JVM launch, the program's session, binding the
        # input files and a warm-up run, which pays for class loading,
        # code generation, the JIT and the Python workers' start
        t0, c0 = time.perf_counter(), tracing.cpu_seconds()
        session = spark.start()
        wl.open(session, in_dir, meta)
        warm = Runs(wl, spark, run_dir, log)
        warm.run()
        setup_wall_s = time.perf_counter() - t0
        setup_s = tracing.cpu_seconds(spark.jvm_pid) - c0
        # memory is read after the warm-up run, a fixed amount of work: the
        # JVM's live heap grows with each run (by about 20 MiB a
        # stream_replay run), so read after the timed runs it would follow
        # how many of them fit in --seconds
        mem_mb = spark.mem_mb()

        runs = Runs(wl, spark, run_dir, log).measure(args.seconds)
        batches = [warm, runs]
        if args.trace:
            tr = tracing.Tracer(session)
            # what tracing adds to a run: one more untraced run, then the
            # same run inside a span and its job group, back to back,
            # because on a young JVM each run is faster than the one before
            paired, traced = Runs(wl, spark, run_dir, log), Runs(wl, spark, run_dir, log)
            paired.run()
            traced.run(lambda: tr.span("run"))
            batches += [paired, traced]
        # every output is checked after the timed runs, against expected
        # outputs computed by the code under test
        problems = wl.reference() + (wl.deep_check() if args.trace else [])
        log["problems"] += problems
        for b in batches:
            b.check()
        attempted = 1 + sum(b.attempted for b in batches)  # 1: the reference check
        failed = bool(problems) + sum(b.failed for b in batches)
        log.update(warmup_s=warm.times, warmup_cpu_s=warm.cpu)
        if not runs.times:
            print(json.dumps(log), file=sys.stderr)
            return 1
        run_s = statistics.median(runs.times)
        if args.trace:
            layers = wl.trace(tr, run_dir, runs.outputs + paired.outputs + traced.outputs)
            layers["inputs.generate_s"] = generate_s
            layers["run.wall_s_p50"] = run_s
            layers["run.events_per_s"] = meta["events"] / run_s
            if paired.times and traced.times:
                layers["trace.overhead_s"] = traced.times[0] - paired.times[0]
            tr.write(os.path.join(WORK, f"spans-{wl.name}-s{args.seed}.jsonl"))
            # layers this workload's path bypasses did no work
            log["not_on_path"] = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
            metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            cpu_s = statistics.median(runs.cpu)
            values = {
                "setup_s": setup_s,
                "cpu_s_p50": cpu_s,
                "events_per_cpu_s": meta["events"] / cpu_s,
                "mem_mb": mem_mb,
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    log.update(loadavg_end=os.getloadavg(), steal_s_end=tracing.steal_seconds(),
               setup_s=setup_s, setup_wall_s=setup_wall_s, run_s=runs.times, cpu_s=runs.cpu,
               error_rate=failed / attempted)
    print(json.dumps(log))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
