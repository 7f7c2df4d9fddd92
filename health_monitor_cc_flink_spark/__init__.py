"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference `tomasalmeida/health-monitor-cc-flink`
(a Confluent-Cloud-managed Flink SQL health-monitoring pipeline).

Everything here is a fresh, Spark-first design: the logical plans are
declared with the DataFrame/SQL API and Catalyst/Tungsten pick the
physical strategy.  Custom semantics the reference gets from Confluent
built-ins (ML_DETECT_ANOMALIES / ML_FORECAST, reference
flink_statements.tf:191-202,305-316) are implemented as vectorized
pandas operators in :mod:`.functions.timeseries`.

Layout
------
- :mod:`.session`    SparkSession builder tuned for this engine
- :mod:`.schemas`    canonical StructType schemas (health events, patients, testdata)
- :mod:`.catalog`    connection registry + table/view catalog (S1/S2 surrogate)
- :mod:`.sources`    parquet/Kafka/memory source adapters
- :mod:`.fixtures`   deterministic port of the reference's health simulator
- :mod:`.functions`  scalar & time-series functions (anomaly detection, forecast)
- :mod:`.operators`  relational + data-pipeline operators (dedup, similarity, text)
- :mod:`.plans`      the 4-stage health pipeline (S3..S6) in batch form
- :mod:`.streaming`  Structured Streaming variants (watermarks, stateful ML)
"""

from .session import build_session, default_master  # noqa: F401
from .catalog import EngineCatalog, ConnectionSpec  # noqa: F401

__all__ = ["build_session", "default_master", "EngineCatalog", "ConnectionSpec"]
__version__ = "0.1.0"
