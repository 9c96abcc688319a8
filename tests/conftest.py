"""Shared Spark fixture + event-builder helpers.

Mirrors the reference test harness shape (src/riemann/test.clj:206-257):
``events(...)`` builds tiny deterministic event frames (the ``em``/
``evs`` helpers of streams_test.clj:20-29); assertions compare collected
rows against explicit expectations — virtual-clock tests become
deterministic event-time batch tests (SURVEY.md §5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from riemann_spark import get_spark
from riemann_spark.schema import EVENT_SCHEMA


@pytest.fixture(scope="session")
def spark():
    # the engine's own session conf, so tests run what the engine runs
    s = get_spark("riemann-spark-tests", cpus=4)
    yield s
    s.stop()


_DEFAULTS = {
    "host": "h1",
    "service": "s1",
    "state": "ok",
    "description": None,
    "metric": None,
    "tags": None,
    "time": 0.0,
    "ttl": None,
    "attributes": None,
}


def events(spark: SparkSession, *rows: dict, with_id: bool = True):
    """Build an event DataFrame from partial dicts (defaults filled).

    Adds a sequential ``event_id`` (arrival order) so order-sensitive
    operators have the deterministic tie-break they document."""
    full = []
    for i, r in enumerate(rows):
        d = {**_DEFAULTS, **r}
        full.append(d)
    df = spark.createDataFrame(
        [tuple(d[f.name] for f in EVENT_SCHEMA.fields) for d in full], EVENT_SCHEMA
    )
    if with_id:
        from pyspark.sql import functions as F

        ids = spark.createDataFrame(
            [(i,) + tuple(d[f.name] for f in EVENT_SCHEMA.fields) for i, d in enumerate(full)],
            "event_id long, " + ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in EVENT_SCHEMA.fields
            ),
        )
        return ids
    return df


def metrics(df, col: str = "metric", order: str = "event_id") -> list:
    """Collect one column ordered by arrival — the test-stream output."""
    return [r[0] for r in df.orderBy(order).select(col).collect()]


def assert_stream(spark, op, input_rows, expected, col="metric"):
    """``(test-stream op ins outs)`` (src/riemann/test.clj:206-257,
    streams_test.clj:37-44): apply a batch operator to an event seq
    in arrival order and assert the output seq of ``col`` values.

    Scalars are shorthand for {"metric": x}; expected compares in
    event order (the deterministic event_id tie-break)."""
    ins = [r if isinstance(r, dict) else {"metric": float(r)} for r in input_rows]
    out = op(events(spark, *ins)).orderBy("event_id").collect()
    got = [r[col] for r in out]
    want = [float(x) if isinstance(x, int) else x for x in expected]
    assert got == want, f"stream mismatch: {got} != {want}"
