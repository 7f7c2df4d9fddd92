from .watermark import with_default_watermark  # noqa: F401
from .pipeline import PipelineRun, run_streaming_pipeline  # noqa: F401
from .stateful import streaming_detect_anomalies, streaming_forecast  # noqa: F401
from .sinks import idempotent_parquet_sink  # noqa: F401
