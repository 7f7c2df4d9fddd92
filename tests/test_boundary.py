"""The health monitor's code boundary: importing the paper core (the S3-S6
plans, the ML functions, the streaming pipeline, the Kafka source and the
engine facade) loads no operator-family or query-registry module, so those
families can be cut without touching the pipeline, and of the streaming
package it loads only the health monitor's streaming path."""

import json
import subprocess
import sys

PKG = "health_monitor_cc_flink_spark"

CORE = ("plans", "functions", "streaming.pipeline", "sources.kafka", "engine")

#: the streaming modules the health monitor runs: the staged query
#: topology, the two AR(1) operators, the default watermark and the
#: batchId-keyed sink
STREAMING_PATH = ("pipeline", "stateful", "watermark", "sinks")


def _loaded_by_core() -> list[str]:
    script = (
        "import importlib, json, sys\n"
        f"for m in {[f'{PKG}.{c}' for c in CORE]!r}:\n"
        "    importlib.import_module(m)\n"
        "print(json.dumps(sorted(sys.modules)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, check=True
    ).stdout
    loaded = json.loads(out.strip().splitlines()[-1])
    assert {f"{PKG}.{c}" for c in CORE} <= set(loaded)
    return loaded


def test_paper_core_imports_no_operator_or_registry_module():
    leaked = [
        m for m in _loaded_by_core()
        if m == f"{PKG}.operators" or m.startswith((f"{PKG}.operators.", f"{PKG}.registry"))
    ]
    assert leaked == []


def test_paper_core_loads_only_the_streaming_path():
    streaming = {
        m.removeprefix(f"{PKG}.streaming.")
        for m in _loaded_by_core()
        if m.startswith(f"{PKG}.streaming.")
    }
    assert streaming <= set(STREAMING_PATH), sorted(streaming - set(STREAMING_PATH))
