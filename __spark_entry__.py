"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship pipeline (riemann's §3.2 lifecycle: event
stream → latest-per-key index → query-language search). ``queries`` /
``oracle_sql`` expose the full catalog in riemann_spark.plans — one
entry per implemented operator from SURVEY.md §2 plus the
training-data-pipeline extras, each with a bit-deterministic DuckDB
oracle.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# sessions _configure has already set up
_CONFIGURED: weakref.WeakSet = weakref.WeakSet()


def _configure(spark: SparkSession) -> SparkSession:
    """Apply session settings this engine relies on (the driver may
    hand us a session built without them), once per session: the
    values never change, and a conf write touches every action running
    on the shared session."""
    if spark in _CONFIGURED:
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # fine if already set statically
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # catalog SQL embeds regex literals such as '\\s+'
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    _CONFIGURED.add(spark)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _configure(spark)
    from riemann_spark.operators import index
    from riemann_spark.schema import load_events

    ev = load_events(spark, "/root/testdata/sf0.001")
    idx = index.build_index(ev)
    return index.search(idx, 'metric > 50 and not (state = "critical")').select(
        "host", "service", "state", "metric", "time", "ttl", "event_id"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from riemann_spark.plans import QUERIES

    return {
        name: (lambda spark, sf, _fn=fn: _fn(_configure(spark), sf))
        for name, fn in QUERIES.items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    from riemann_spark.plans import ORACLES

    return dict(ORACLES)
