"""Environment shim: pyspark's transformWithStateInPandas state protocol
needs ``google.protobuf``, which may not be installed as a site-package.
The Google Cloud SDK (if present) ships a pure-Python protobuf runtime;
expose it via PYTHONPATH so the JVM-spawned Python state-server workers
inherit it too (must run BEFORE the SparkSession/JVM starts).  The
gencode/runtime version pin differs only in the '-dev' suffix, hence the
documented TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK escape hatch.
No-op when protobuf is already importable or the SDK path is absent.

Callers: tests/conftest.py, __spark_entry__.py and
scripts/ab_tumble_drain.py.  No package code runs
transformWithStateInPandas today; the shim stays for the fused S4->S6
``transformWithStateInPandas`` processor planned in ROADMAP #1.
"""

from __future__ import annotations

import os
import sys


def bootstrap_protobuf() -> None:
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    vendored = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(os.path.join(vendored, "google", "protobuf")):
        return
    sys.path.append(vendored)
    existing = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{existing}{os.pathsep if existing else ''}{vendored}"
    os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
