"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the settings below are chosen so the
same logical plans scale to a multi-executor cluster: AQE on (runtime
shuffle-partition coalescing + skew-join splitting), modest
shuffle-partition default (overridable per deployment), Arrow enabled
for the pandas-UDF escape hatches.

Session conf is set here, once, before any action runs: no engine code
changes it afterwards, so concurrent actions on one session all see
the same settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "riemann-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers import riemann_spark (the daemon module, pickled
    # UDFs) with the PYTHONPATH the JVM inherits from this process at
    # launch; this interpreter's sys.path never reaches them.
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PKG_ROOT] + paths)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pre-import pandas/pyarrow/engine modules in the worker daemon:
        # Spark 4.1 reaps idle Python workers after a hardcoded 1-minute
        # timeout, and a stock respawn pays 32-64 concurrent `import
        # pandas` (~3s each) — measured 12-22s stalls on the first
        # mapInPandas query after a JVM-only stretch (see daemon.py).
        .config("spark.python.daemon.module", "riemann_spark.daemon")
        # The JVM's generated-code cache holds 100 classes by default —
        # a catalog of 300+ distinct query shapes (roughly 4 codegen
        # units each) evicts everything between repeats, so every run
        # re-compiles ~50-200 ms of Janino output per stage. 2048
        # entries (~60 MB of classes) keeps the whole catalog warm:
        # measured 25-query warm pass 14.6 -> 11.6 s (static conf —
        # must be set before the first codegen, hence here).
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # PySpark 4's DataFrame-debugging origin capture wraps EVERY
        # Column/DataFrame API call with a Python stack inspection
        # plus ~15-25 py4j round trips (getActiveSession + conf read +
        # PySparkCurrentOrigin.set/clear) purely to decorate error
        # messages with the user call site. Profiled here: a trivial
        # `F.col("x") + F.lit(1)` costs 7.1ms with it on, 1.9ms off —
        # and plan construction is a measured ~20% of the packed
        # bench. Error-message ergonomics only; plans, values and
        # execution are untouched. Off in production sessions.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # driver parquet uses TIMESTAMP(NANOS); read as long, convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # SQL text embeds regex literals such as '\\s+' (the BM25
        # tokenizer, similarity._dots_sql); pinned so a deployment's
        # default cannot change how they parse
        .config("spark.sql.parser.escapedStringLiterals", "false")
        # point lookups (bucketing.index_point_get) keep their bucketed
        # scan: otherwise DisableUnnecessaryBucketedScan reads all n
        # buckets of a pure-filter plan
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
