"""Readers for the driver-provided parquet testdata (TESTDATA.md).

The only non-trivial table is ``events``: its ``ts`` column has shipped
in two physical encodings across driver generations, and we adapt to
both by probing the parquet footer (a driver-only metadata read):

- parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
  ``spark.sql.legacy.parquet.nanosAsLong=true``, under which it arrives
  as int64 epoch nanos.
- parquet timestamp[us] (isAdjustedToUTC=false): arrives as
  TIMESTAMP_NTZ.

Either way :func:`load_events` exposes the same canonical frame:
``ts_ns`` int64 epoch-nanos (the oracle-exact integer unit — house rule
1 in registry.py: Spark ``ts_ns div 1000`` ≡ DuckDB ``epoch_us(ts)``)
plus a proper ``ts`` TimestampType column for event-time operators.
NTZ wall-clock is interpreted as UTC, matching DuckDB's ``epoch_us`` on
naive timestamps (session timezone is pinned to UTC in session.py).
µs truncation of nanos is safe for windowing because floors compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import TESTDATA_TABLES
from ..session import ensure_runtime_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; events gets timestamp normalization."""
    ensure_runtime_confs(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events(raw: DataFrame) -> DataFrame:
    """Canonicalize an events frame to (event_id, ts_ns, user_id,
    event_type, value, props, ts) regardless of the source encoding of
    ``ts`` (int64 epoch-nanos or timestamp[us]/NTZ)."""
    ts_dt = raw.schema["ts"].dataType
    if isinstance(ts_dt, T.LongType):
        return (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
        )
    ts = F.col("ts").cast("timestamp")  # NTZ→LTZ under UTC session tz
    cols = [
        (F.unix_micros(ts) * F.lit(1000)).alias("ts_ns") if c == "ts" else F.col(c)
        for c in raw.columns
    ]
    cols.append(ts.alias("ts"))
    return raw.select(*cols)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_runtime_confs(spark)
    return normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))


#: schema-inference cache for the streaming sources: path ->
#: (signature, schema), the signature being the file's identity
#: (mtime, size) — the catalog-metadata cache every real engine keeps
#: (cf. Spark's own filesource file-index cache).  Streaming reads
#: require an explicit schema, and without the cache every streaming
#: query paid a full spark.read.parquet() schema-inference job per
#: invocation for a file that never changes.  A changed signature
#: replaces the path's entry, so the cache holds one entry per path.
_STREAM_SCHEMA_CACHE: dict[str, tuple] = {}


def _path_signature(path: str) -> tuple:
    import os

    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    # a file rewritten in place inside the directory does not bump the
    # directory's own mtime (nor a parent's, for a partition
    # subdirectory) — sign every file below it by (relative path,
    # mtime, size) so any change invalidates
    sig = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path),
                        st.st_mtime_ns, st.st_size))
    return tuple(sorted(sig))


def _cached_schema(spark: SparkSession, key_path: str, infer) -> T.StructType:
    sig = _path_signature(key_path)
    got = _STREAM_SCHEMA_CACHE.get(key_path)
    if got is None or got[0] != sig:
        got = (sig, infer())
        _STREAM_SCHEMA_CACHE[key_path] = got
    return got[1]


def _stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one testdata table, handling both physical
    layouts: a single ``<name>.parquet`` FILE beside sibling tables
    (the driver's testdata) needs a pathGlobFilter on the directory
    scan; a ``<name>.parquet`` DIRECTORY of part files (any
    Spark-written copy, e.g. the scale-probe replicas — the production
    shape) streams from the directory itself."""
    import os

    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        schema = _cached_schema(
            spark, path, lambda: spark.read.parquet(path).schema)
        return spark.readStream.schema(schema).parquet(path)
    schema = _cached_schema(
        spark, path,
        lambda: spark.read.option(
            "pathGlobFilter", f"{name}.parquet").parquet(sf_dir).schema)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events source with ``ts`` normalized to TimestampType.

    Columns: (event_id, ts, user_id, event_type, value, props) — same
    positions as on disk, ``ts`` usable for watermarks/windows.  Adapts
    to both physical encodings of ``ts`` like :func:`normalize_events`.
    """
    src = _stream_table(spark, sf_dir, "events")
    if isinstance(src.schema["ts"].dataType, T.LongType):
        return src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the frames."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming documents source — the ingest-batch side of streaming
    corpus screening (columns as on disk)."""
    return _stream_table(spark, sf_dir, "documents")
