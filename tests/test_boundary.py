"""The health monitor's code boundary: importing the paper core (the S3-S6
plans, the ML functions, the streaming pipeline, the Kafka source and the
engine facade) loads no operator-family or query-registry module, so those
families can be cut without touching the pipeline, and of the streaming
package it loads only the health monitor's streaming path."""

import ast
import json
import subprocess
import sys
from pathlib import Path

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


def _imported_modules(path: Path, module: str) -> set[str]:
    """Dotted names of every module ``path`` imports, at any depth;
    ``from X import a`` yields both ``X`` and ``X.a``."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = module.split(".")[: -node.level]
                base = ".".join(parent + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    return found


def test_every_operator_module_has_a_package_caller():
    """Every ``operators/*.py`` module is imported by a package module,
    a script or ``bench.py`` other than itself; the ``operators``
    package's own re-export list does not count as a caller."""
    root = Path(__file__).resolve().parent.parent
    sources = [*(root / PKG).rglob("*.py"), *(root / "scripts").glob("*.py"),
               root / "bench.py"]
    imports: dict[str, set[str]] = {}
    for path in sources:
        # a package's __init__ keeps its ".__init__" suffix, so a
        # level-1 relative import resolves to the package itself
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        imports[module] = _imported_modules(path, module)
    operators = sorted(
        f"{PKG}.operators.{p.stem}"
        for p in (root / PKG / "operators").glob("*.py")
        if p.stem != "__init__"
    )
    orphans = [
        op for op in operators
        if not any(op in found for mod, found in imports.items()
                   if mod not in (op, f"{PKG}.operators.__init__"))
    ]
    assert orphans == []
