"""``index.search`` serving: a stored index at or below
``SNAPSHOT_MAX_ROWS`` rows is filtered on the driver from a
local-relation snapshot with no Spark job; a larger one, and every
computed frame, keeps its scan plan. Both paths answer every query
shape the same as the plain-Python predicate (query.clj:103-160)."""

from __future__ import annotations

import gc
import sys
import threading
import weakref

import pytest
from pyspark.sql import functions as F

from riemann_spark.operators import index
from riemann_spark.query import compile_query, parse, to_predicate
from tests.conftest import events

# (host, service, state, metric, tags): nulls in every filtered field
ROWS = [
    (f"h{i}", f"svc{i % 4}", ("ok", "warning", "critical", None)[i // 3 % 4],
     None if i % 7 == 0 else i * 2.5, None if i % 5 == 0 else [f"t{i % 3}", f"t{i % 2}"])
    for i in range(40)
]

SCHEMA = "host string, service string, state string, metric double, tags array<string>"

# one of each shape the query loop sends
QUERIES = [
    'host = "h6" and service = "svc2"',
    'state = "warning" and not (service = "svc1")',
    "metric >= 20 and metric < 45.5",
    'tagged "t0" and state = "critical"',
    'host =~ "h1%"',
    'not (state = "ok" or metric < 30) and service = "svc3"',
    'metric > 90 or tagged "t0" and tagged "t1"',
]


def _write(spark, path, rows) -> str:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _wide(spark, path, n: int) -> str:
    """An n-row stored index, one file."""
    spark.range(n).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.lit("svc").alias("service"),
        F.lit("ok").alias("state"),
        F.col("id").cast("double").alias("metric"),
    ).coalesce(1).write.parquet(path)
    return path


def _hosts(rows) -> list[str]:
    return sorted(r["host"] for r in rows)


def _expected(query: str) -> list[str]:
    """Hosts of ROWS the plain-Python predicate keeps."""
    pred = to_predicate(parse(query))
    cols = ("host", "service", "state", "metric", "tags")
    return sorted(r[0] for r in ROWS if pred(dict(zip(cols, r))))


def _jobs_in(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df, phase: str = "optimizedPlan") -> str:
    return getattr(df._jdf.queryExecution(), phase)().toString()


def test_snapshot_limit_is_below_break_even():
    # measured: snapshot and scan cost the same per query at ~60K rows
    assert 0 < index.SNAPSHOT_MAX_ROWS < 60_000


def test_stored_index_at_limit_is_served_with_no_job(spark, tmp_path):
    idx = spark.read.parquet(_wide(spark, str(tmp_path / "at"), index.SNAPSHOT_MAX_ROWS))
    index.search(idx, 'host = "h1"').collect()  # takes the snapshot
    q = index.search(idx, 'host = "h7" or metric > 49990')
    assert _plan(q).startswith("LocalRelation")
    got = []
    assert _jobs_in(spark, "test-snapshot-search", lambda: got.extend(q.collect())) == 0
    assert _hosts(got) == sorted(["h7"] + [f"h{i}" for i in range(49991, 50000)])


def test_stored_index_over_limit_keeps_its_scan(spark, tmp_path):
    idx = spark.read.parquet(_wide(spark, str(tmp_path / "over"), index.SNAPSHOT_MAX_ROWS + 1))
    q = index.search(idx, 'host = "h7"')
    plan = _plan(q, "executedPlan")
    assert "FileScan parquet" in plan and "PushedFilters: [EqualNullSafe(host,h7)]" in plan, plan
    assert _hosts(q.collect()) == ["h7"]


def test_catalog_table_is_served_from_a_snapshot(spark):
    name = "index_search_snapshot_test"
    spark.createDataFrame(ROWS, SCHEMA).write.mode("overwrite").saveAsTable(name)
    try:
        q = index.search(spark.table(name), QUERIES[0])
        assert _plan(q).startswith("LocalRelation")
        assert _hosts(q.collect()) == ["h6"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_computed_index_keeps_its_plan(spark):
    ev = events(
        spark,
        {"host": "a", "metric": 60.0, "state": "ok", "time": 1.0},
        {"host": "a", "metric": 70.0, "state": "critical", "time": 2.0},
        {"host": "b", "metric": 80.0, "state": "ok", "time": 1.0},
    )
    idx = index.build_index(ev)
    q = 'metric > 50 and not (state = "critical")'
    assert _plan(index.search(idx, q)) == _plan(idx.filter(compile_query(q)))
    assert _hosts(index.search(idx, q).collect()) == ["b"]


@pytest.mark.parametrize("query", QUERIES)
def test_snapshot_table_and_python_predicate_agree(spark, tmp_path, monkeypatch, query):
    path = _write(spark, str(tmp_path / "idx"), ROWS)
    snap = index.search(spark.read.parquet(path), query)
    assert _plan(snap).startswith("LocalRelation")
    monkeypatch.setattr(index, "SNAPSHOT_MAX_ROWS", 0)
    table = index.search(spark.read.parquet(path), query)
    assert "FileScan parquet" in _plan(table, "executedPlan")
    want = _expected(query)
    assert want, query  # every shape selects something here
    assert _hosts(snap.collect()) == _hosts(table.collect()) == want


def test_rewritten_table_read_again_serves_new_rows(spark, tmp_path):
    path = str(tmp_path / "idx")
    _write(spark, path, ROWS[:10])
    old = spark.read.parquet(path)
    assert _hosts(index.search(old, 'service = "svc1"').collect()) == ["h1", "h5", "h9"]
    snap = weakref.ref(index._SNAPSHOTS[old])

    _write(spark, path, ROWS[10:20])
    new = spark.read.parquet(path)
    assert _hosts(index.search(new, 'service = "svc1"').collect()) == ["h13", "h17"]
    del old
    gc.collect()
    assert snap() is None  # the snapshot died with its frame


def test_concurrent_first_searches_build_one_snapshot(spark, tmp_path, monkeypatch):
    idx = spark.read.parquet(_write(spark, str(tmp_path / "idx"), ROWS))
    builds = []
    real = index._snapshot

    def counted(df):
        builds.append(df)
        return real(df)

    monkeypatch.setattr(index, "_snapshot", counted)
    query = QUERIES[-1]
    start = threading.Barrier(4)
    replies: list = [None] * 4

    def client(i: int) -> None:
        start.wait()
        replies[i] = _hosts(index.search(idx, query).collect())

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the check-then-build
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert replies == [_expected(query)] * 4
