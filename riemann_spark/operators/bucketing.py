"""Bucketed (pre-shuffled) tables: co-located joins and aggregations.

Riemann never needs this — one process holds all state. At 100 TB the
recurring cost is re-shuffling the same big table on the same key for
every join/agg. Bucketing pays the shuffle ONCE at write time:
``bucketBy(n, keys)`` hash-partitions files on disk, and every later
join or groupBy on those keys reads the table already partitioned —
Catalyst drops the Exchange entirely (both sides of a join, when they
share bucket keys and count).

The natural fit here is the event INDEX and any per-[host, service]
rollup: materialize them bucketed by (host, service), and the
dashboards / deps rules / enrichment joins that hit them stop paying
per-query shuffles.

Mechanics (all standard Spark, no Hive metastore needed — native
datasource tables in the session warehouse):

- bucket counts must MATCH across co-joined tables (or be multiples
  with ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``),
- ``sortBy`` the same keys so sort-merge joins also skip the Sort,
- readers must keep ``spark.sql.sources.bucketing.enabled`` (default
  true) — asserted by tests/test_plans.py-style guards.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a bucketed+sorted parquet table.

    The one-time shuffle this write performs is the last one: any
    join/groupBy on ``keys`` against this table is exchange-free."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (scan advertises the bucket partitioning)."""
    return spark.table(table)


def write_index_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Index-table layout for the reference's point-get fast path.

    ``index.clj:44-56`` detects ``host = X and service = Y`` queries
    and answers them with an O(1) hashmap get instead of a full scan.
    The storage-level realization: bucket by ``host`` ALONE — Spark's
    bucket pruning applies only to equality/IN predicates covering the
    entire (single-column) bucket spec, so a composite (host, service)
    spec would forfeit pruning for host-only filters — and sort by
    (host, service, time) within buckets so the ``service`` equality
    and any time range are served by parquet min/max row-group stats
    inside the one surviving bucket. A point query then *lists* 1/n of
    the table's files before a single row is read; at 100 TB with
    n=1024 that is the difference between a full scan and ~100 GB.
    """
    sort_keys = [k for k in ("host", "service", "time") if k in df.columns]
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, "host")
        .sortBy(*sort_keys)
        .saveAsTable(table)
    )


def index_point_get(spark: SparkSession, table: str, host: str, service: str) -> DataFrame:
    """The fast-path query shape: equality on the bucket column prunes
    to one bucket (``SelectedBucketsCount: 1 out of n`` in the scan);
    the service predicate is pushed to parquet.

    ``autoBucketedScan`` must be off for pure-filter queries: Spark's
    DisableUnnecessaryBucketedScan rule only keeps the bucketed scan
    when a downstream operator wants the hash distribution, and a point
    lookup has none — with the rule active the scan silently reads all
    n buckets (verified on 4.1: ``Bucketed: false (disabled by query
    planner)``). ``get_spark`` turns it off for the whole session.
    """
    from pyspark.sql import functions as F

    return spark.table(table).filter(
        (F.col("host") == F.lit(host)) & (F.col("service") == F.lit(service))
    )
