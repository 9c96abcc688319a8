"""Bucketed co-located joins: the write-once-shuffle-never-again path.

At 100 TB the index and per-key rollups are joined on [host, service]
by every dashboard query — bucketing them eliminates those per-query
exchanges. These tests assert the plans actually go exchange-free."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from riemann_spark.operators.bucketing import (
    index_point_get,
    read_bucketed,
    write_bucketed,
    write_index_bucketed,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    ev = spark.range(1000).selectExpr(
        "cast(id % 50 as string) AS host", "cast(id AS double) AS metric"
    )
    ix = spark.range(200).selectExpr(
        "cast(id % 50 as string) AS host", "cast(id % 3 AS string) AS zone"
    )
    write_bucketed(ev, "t_events_bucketed", ["host"], 8)
    write_bucketed(ix, "t_index_bucketed", ["host"], 8)
    yield "t_events_bucketed", "t_index_bucketed"
    spark.sql("DROP TABLE IF EXISTS t_events_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_index_bucketed")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    ev_t, ix_t = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = read_bucketed(spark, ev_t).join(read_bucketed(spark, ix_t), "host")
        p = _plan(j)
        assert "Exchange" not in p
        assert j.count() == 1000 * 200 // 50  # 20 ev x 4 ix per host
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    ev_t, _ = bucketed_tables
    g = read_bucketed(spark, ev_t).groupBy("host").agg(F.sum("metric").alias("s"))
    p = _plan(g)
    assert "Exchange" not in p
    assert g.count() == 50


def test_unbucketed_join_pays_the_exchange(spark, bucketed_tables):
    """Control: the same join over plain frames shuffles both sides."""
    ev_t, _ = bucketed_tables
    plain = spark.range(200).selectExpr(
        "cast(id % 50 as string) AS host", "cast(id % 3 AS string) AS zone"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(read_bucketed(spark, ev_t).join(plain, "host"))
        assert "Exchange" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def bucketed_index(spark):
    """A small index table in the point-get layout (index.clj:44-56)."""
    idx = spark.range(400).selectExpr(
        "concat('h', id % 40) AS host",
        "concat('svc-', id % 10) AS service",
        "cast(id AS double) AS time",
        "cast(id AS double) AS metric",
    )
    write_index_bucketed(idx, "t_index_pointget", n_buckets=8)
    yield "t_index_pointget"
    spark.sql("DROP TABLE IF EXISTS t_index_pointget")


def test_index_point_get_prunes_to_one_bucket(spark, bucketed_index):
    """host = X AND service = Y reads 1 of 8 buckets and pushes the
    service equality into the parquet scan — the reference's O(1)
    point lookup realized as storage pruning."""
    q = index_point_get(spark, bucketed_index, "h7", "svc-7")
    p = _plan(q)
    assert "SelectedBucketsCount: 1 out of 8" in p
    assert "PushedFilters" in p and "service" in p
    rows = q.collect()
    assert {(r.host, r.service) for r in rows} == {("h7", "svc-7")}
    assert len(rows) == 10  # ids 7,47,...,367: id%40==7 ∧ id%10==7


def test_index_host_filter_prunes_buckets(spark, bucketed_index):
    """A host-only filter still prunes (the composite-key layout would
    not); control: an unfiltered scan selects no bucket subset."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        f = spark.table(bucketed_index).filter(F.col("host") == "h3")
        assert "SelectedBucketsCount: 1 out of 8" in _plan(f)
        full = spark.table(bucketed_index)
        assert "SelectedBucketsCount: 8 out of 8" in _plan(full)
    finally:
        spark.conf.set(key, old)
