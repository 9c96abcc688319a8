"""Event data model and loaders.

The reference's Event is a flat record ``host service state description
metric tags time ttl`` + open string attributes (SURVEY.md §1.1; field
order per reference ``src/riemann/transport/opentsdb.clj:71``). Here it
is a fixed StructType with a MapType tail for the open attributes
(SURVEY.md §1.3) — columnar, so Catalyst/Tungsten can prune and codegen
over it, unlike the reference's row-at-a-time closures.

``normalize_events`` maps the driver's generic ``events.parquet``
(event_id, ts, user_id, event_type, value, props) into this model.
``EVENTS_NORM_SQL`` is the exact same mapping as ANSI SQL so DuckDB
oracle queries see identical values: every expression is chosen to be
bit-deterministic across both engines (integer casts, integer modulo,
one double division by a power of ten).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: Canonical event schema (reference: Event defrecord, SURVEY.md §1.1).
EVENT_SCHEMA = StructType(
    [
        StructField("host", StringType(), True),
        StructField("service", StringType(), True),
        StructField("state", StringType(), True),
        StructField("description", StringType(), True),
        StructField("metric", DoubleType(), True),
        StructField("tags", ArrayType(StringType()), True),
        StructField("time", DoubleType(), False),  # unix seconds, fractional
        StructField("ttl", DoubleType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

#: Default TTL when an event carries none (reference index.clj:42).
DEFAULT_TTL = 60.0

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: timestamp columns in the driver parquet. Generations vary: some
#: write TIMESTAMP(NANOS) (Spark reads long under nanosAsLong), some
#: TIMESTAMP_NTZ micros. Normalize every variant to TimestampType
#: (instant, µs) — with the session timezone pinned to UTC the values
#: are identical to DuckDB's naive reading in all cases.
_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one timestamp column to TimestampType regardless of the
    parquet generation's physical type. Works on batch and streaming
    DataFrames alike."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # TIMESTAMP(NANOS) read as long
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if dt == "timestamp_ntz":  # session tz is UTC: same wall clock
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Per-session cache of loaded scan frames (the catalog/metastore
#: posture a real deployment has: table schema is resolved once, not
#: re-inferred from parquet footers by every query). DataFrames are
#: immutable, so handing the same object to many queries is safe — each
#: query's action re-executes the scan from parquet; nothing about the
#: DATA is cached. Keyed by (sf_dir, table, source mtime) so a probe
#: tool that regenerates a corpus in-place within one session gets a
#: fresh frame; non-local paths (s3://, hdfs://) have no os.stat and
#: fall back to a path-only key, the same static-schema assumption a
#: catalog table makes. Measured: ~0.1-0.4s of driver-side work
#: (listing + footer schema inference + py4j expression building) per
#: load_table/load_events call, times 200+ bench queries per pass.
_SCAN_CACHE: dict[int, dict] = {}


def _scan_cache_for(spark: SparkSession) -> dict:
    # keyed by the JVM session object's id — a new session gets a
    # fresh cache; entries die with the driver process (bounded: one
    # small DataFrame handle per (dir, table))
    key = id(spark._jsparkSession)
    cache = _SCAN_CACHE.setdefault(key, {})
    if len(_SCAN_CACHE) > 8:  # drop caches of dead sessions
        for k in list(_SCAN_CACHE):
            if k != key:
                del _SCAN_CACHE[k]
    return cache


def _source_stamp(path: str):
    import os

    try:
        return os.stat(path).st_mtime_ns
    except OSError:  # non-local or vanished: path-only key
        return None


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Cached raw parquet scan frame (no timestamp normalization) —
    the _SCAN_CACHE posture for paths that are not sf-dir tables:
    stored-state dirs (write-once, stamped) and raw-schema probes. A
    bare ``spark.read.parquet`` re-lists and re-infers footers on
    every call — measured 0.10-0.15s per call, paid per query pass by
    every stored-state consumer (r15). Same key discipline as
    load_table: (path, source mtime), falling back to path-only where
    os.stat has no business succeeding."""
    cache = _scan_cache_for(spark)
    key = ("raw", path, _source_stamp(path))
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(path)
        cache[key] = df
    return df


def parquet_schema(spark: SparkSession, path: str):
    """The RAW parquet schema (ts columns as nanos-long), cached via
    load_parquet — the streaming-source builders need it per query
    and were paying a fresh footer inference each call."""
    return load_parquet(spark, path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table, normalizing timestamp
    columns to TimestampType (microsecond instants). Cached per
    session (see _SCAN_CACHE) — the scan *definition* is reused, the
    data is re-read from parquet by every action."""
    path = f"{sf_dir}/{name}.parquet"
    cache = _scan_cache_for(spark)
    key = ("table", path, _source_stamp(path))
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(path)
        for c in _TS_COLS.get(name, ()):
            if c in df.columns:
                df = normalize_ts(df, c)
        cache[key] = df
    return df


def normalize_events(raw: DataFrame, with_attributes: bool = False) -> DataFrame:
    """Map the driver's events table into the riemann event model.

    host=user_id, service=event_type, metric=value, time=unix seconds
    from ts; state/tags/ttl derived deterministically so operator tests
    have the value distributions FIXTURES.md asks for. ``event_id`` is
    kept as a deterministic tie-breaker for order-sensitive operators.
    """
    out = raw.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("host"),
        F.col("event_type").alias("service"),
        F.when(F.col("event_type") == "error", F.lit("critical"))
        .when(F.col("value") > 150.0, F.lit("warning"))
        .otherwise(F.lit("ok"))
        .alias("state"),
        F.col("props").alias("description"),
        F.col("value").alias("metric"),
        F.array(
            F.col("event_type"),
            F.when(F.col("value") > 150.0, F.lit("high")).otherwise(F.lit("low")),
        ).alias("tags"),
        (F.unix_micros(F.col("ts")) / F.lit(1000000.0)).alias("time"),
        F.unix_micros(F.col("ts")).alias("time_us"),  # exact integer time
        (F.lit(60) + F.col("event_id") % F.lit(240)).cast("double").alias("ttl"),
    )
    if with_attributes:
        out = out.withColumn(
            "attributes",
            F.create_map(F.lit("k"), F.get_json_object(F.col("description"), "$.k")),
        )
    return out


#: DuckDB-SQL mirror of ``normalize_events`` (no attributes map —
#: final oracle outputs stay scalar). Keep in lock-step with the above.
EVENTS_NORM_SQL = """
SELECT
  event_id,
  CAST(user_id AS VARCHAR) AS host,
  event_type AS service,
  CASE WHEN event_type = 'error' THEN 'critical'
       WHEN value > 150.0 THEN 'warning'
       ELSE 'ok' END AS state,
  props AS description,
  value AS metric,
  [event_type, CASE WHEN value > 150.0 THEN 'high' ELSE 'low' END] AS tags,
  epoch_us(ts) / 1000000.0 AS time,
  epoch_us(ts) AS time_us,
  CAST(60 + (event_id % 240) AS DOUBLE) AS ttl
FROM events
"""


def load_events(spark: SparkSession, sf_dir: str, with_attributes: bool = False) -> DataFrame:
    """Load + normalize the events table in one call. The normalized
    frame (a ~25-expression projection) is cached per session alongside
    the raw scans — same immutability argument as load_table."""
    path = f"{sf_dir}/events.parquet"
    cache = _scan_cache_for(spark)
    key = ("events_norm", path, with_attributes, _source_stamp(path))
    df = cache.get(key)
    if df is None:
        df = normalize_events(load_table(spark, sf_dir, "events"), with_attributes)
        cache[key] = df
    return df
