"""Skew-mitigation utilities for hot keys.

Riemann's per-key fan-out never sees skew (one process); at 100 TB a
hot [host, service] key (one chatty service emitting 1000× the median)
turns its shuffle partition into a straggler. Two standard remedies,
both preserving exact aggregate semantics:

- AQE skew-join splitting: on by default in session.py — handles the
  JOIN side automatically.
- ``salted_agg``: two-phase aggregation for algebraic aggregates —
  phase 1 groups on (key, salt) spreading a hot key over N partitions,
  phase 2 merges the partials. Correct for any combinable aggregate
  (sum/count/min/max/decimal sums); riemann's fold family is
  combinable except order-sensitive ones (difference/quotient — those
  use the struct-min trick which IS combinable too).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    n_salts: int = 16,
    salt_source: str | Column = "event_id",
) -> DataFrame:
    """Two-phase salted aggregation.

    partial_aggs: alias → aggregate over raw rows (phase 1).
    merge_aggs:   alias → aggregate over the phase-1 partial columns
                  (phase 2; reference the phase-1 aliases).

    The salt is a deterministic hash of ``salt_source`` (not random —
    keeps reruns reproducible) modulo n_salts.

    Example — skew-proof sum/count per key::

        salted_agg(ev, ["host", "service"],
                   {"s": F.sum(F.col("metric")), "n": F.count(F.lit(1))},
                   {"s": F.sum(F.col("s")),      "n": F.sum(F.col("n"))})
    """
    src = F.col(salt_source) if isinstance(salt_source, str) else salt_source
    salt = F.pmod(F.xxhash64(src), F.lit(n_salts)).alias("__salt")
    phase1 = df.groupBy(*[F.col(k) for k in keys], salt).agg(
        *[c.alias(a) for a, c in partial_aggs.items()]
    )
    return phase1.groupBy(*[F.col(k) for k in keys]).agg(
        *[c.alias(a) for a, c in merge_aggs.items()]
    )


def spread_for_python(df: DataFrame) -> DataFrame:
    """Widen an under-partitioned frame to cluster width ahead of a
    CPU-dense per-row stage (a ``mapInPandas`` codec, a regex or md5
    fold, a row-vs-centroid cosine), which otherwise runs at its
    input's width: a single-split parquet source pins it to one task.

    The decision reads the frame's own physical plan, JVM-side, and
    starts no job:

    - a streaming frame is returned unchanged (micro-batch width is
      the source's concern);
    - an adaptive plan has an exchange and is spread: its width is
      only known once AQE has run the upstream shuffle, so probing it
      would execute that shuffle for a plan that is then discarded;
    - otherwise the plan's partition count is compared with
      ``defaultParallelism``, and a frame already that wide comes back
      as is (a lake-scale scan, a ``createDataFrame`` frame).

    Known limit: a file scan's partitions are byte splits, not row
    groups. A 10.8 MB parquet file written as one row group reads as
    3 partitions with every row in one of them. The shuffle moves only
    the columns the caller selected (prune before calling)."""
    if df.isStreaming:
        return df
    width = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().getClass().getSimpleName()
    if plan != "AdaptiveSparkPlanExec" and qe.toRdd().getNumPartitions() >= width:
        return df
    return df.repartition(width)
