"""Source adapters: driver testdata parquet, Kafka+Avro streams,
in-memory fixtures.  JDBC dimensions bind through
``EngineCatalog.create_external_table``."""

from .testdata import load_table, load_events, register_testdata  # noqa: F401
from .memory import patients_df  # noqa: F401
