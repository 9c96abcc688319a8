"""The index: latest event per [host, service] with TTL expiry.

Reference: ``src/riemann/index.clj`` — a NonBlockingHashMap keyed by
``[host service]`` (:20, :58-126); inserting a ``state="expired"``
event deletes the key (:98-101); ``expire`` sweeps events whose
``time + ttl`` has passed and returns them as synthetic expired events
(:73-87, reaper ``core.clj:275-309``); ``search`` filters by query
predicate with a point-lookup fast path (:44-56, :89-95).

Spark realization (batch): a ``Window.partitionBy(host, service)`` +
``row_number`` latest-per-key — one shuffle on the key, map-side
combinable, skew-tolerant under AQE. Streaming form:
riemann_spark.streaming.index_stream (stateful latest-per-key with
event-time TTL timers).

Serving (``search``): the reference filters an in-memory map
(index.clj:89-95). A *stored* index of at most ``SNAPSHOT_MAX_ROWS``
rows — a frame that is a bare file or table scan — is served the same
way: its rows are held once in the driver as a local relation, and
Catalyst's ``ConvertToLocalRelation`` evaluates each query's predicate
on the driver, so a lookup starts no Spark job. A larger stored index,
and every computed frame, is filtered as a plan: Catalyst pushes the
predicate into the scan, and at 100 TB the index table would be
written bucketed/partitioned by host so a point query prunes to one
file group.

Deviation note (documented per SURVEY §2.9): the reference's insert is
unconditional last-write-wins in *arrival* order; batch mode has no
arrival order, so we take max-by ``(time, event_id)`` — the event-time
winner with a deterministic tie-break. A second deviation: inserting a
time-less event THROWS in the reference (index_test.clj
missing-time-throws); here the ingest boundary assigns the clock
instead (``stateless.ensure_event_times``, the post-load-event seam),
so the index never sees one — a null time that does reach batch
``build_index`` simply never wins (desc ordering puts nulls last).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from riemann_spark.query import compile_query
from riemann_spark.schema import DEFAULT_TTL

KEY = ("host", "service")

#: The largest stored index ``search`` serves from a snapshot. Driver
#: and JVM CPU per query (filter, collect, rows to dicts; local[4] on a
#: shared 4-vCPU host), snapshot vs scan: 74-99 vs 132-210 ms at 20K
#: rows, 123-135 vs 208-225 ms at 60K, 286-327 vs 240-268 ms at 150K.
#: Counting user CPU without the JIT, the two met near 60K rows; the
#: limit stays below both break-evens.
SNAPSHOT_MAX_ROWS = 50_000

# stored frame -> its snapshot, or None when it is served as a plan.
# Weak keys: a snapshot lives exactly as long as the frame it was
# taken of, as ``cache()`` would.
_SNAPSHOTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SNAPSHOT_LOCK = threading.Lock()


def build_index(
    events: DataFrame,
    now: float | None = None,
    keep_expired: bool = False,
    order_col: str = "event_id",
) -> DataFrame:
    """Materialize the latest event per [host, service].

    ``state="expired"`` winners act as tombstones and are dropped
    (index.clj:98-101) unless ``keep_expired``. If ``now`` is given,
    events past ``time + ttl`` are swept out (index.clj:73-87).
    """
    # window row_number, not groupBy+max_by(struct(*)): measured on 3M
    # rows / 225K keys, the struct repack makes max_by slower (0.99s vs
    # 0.88s min-of-3) despite avoiding the per-key sort
    order = [F.col("time").desc()]
    if order_col in events.columns:
        order.append(F.col(order_col).desc())
    w = Window.partitionBy(*KEY).orderBy(*order)
    out = (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not keep_expired:
        out = out.filter(F.coalesce(F.col("state") != "expired", F.lit(True)))
    if now is not None:
        out = out.filter(
            F.col("time") + F.coalesce(F.col("ttl"), F.lit(DEFAULT_TTL)) > F.lit(now)
        )
    return out


def search(index_df: DataFrame, query: str | Column) -> DataFrame:
    """Filter the index by a riemann query string (or Column).

    Reference lifecycle SURVEY §3.2: string → AST → predicate →
    filter. The same predicate filters one of two frames:

    - a stored index (a non-streaming bare file or table scan) of at
      most ``SNAPSHOT_MAX_ROWS`` rows: its snapshot, a local relation
      the predicate is evaluated over on the driver, with no job;
    - anything else: ``index_df`` itself, with the predicate pushed
      into its scan.

    The snapshot is stored-state serving: it is taken on the first
    search of ``index_df`` and served for as long as that frame object
    lives, like ``cache()``. A new ``spark.read`` of a rewritten table
    is a new frame and gets a new snapshot.
    """
    pred = compile_query(query) if isinstance(query, str) else query
    return _served(index_df).filter(pred)


def _served(index_df: DataFrame) -> DataFrame:
    """The frame ``search`` filters: ``index_df``'s snapshot if it has
    one, else ``index_df``. Decided and built once per frame, under a
    lock, so concurrent first searches build one snapshot."""
    snap = _SNAPSHOTS.get(index_df, index_df)
    if snap is index_df:
        with _SNAPSHOT_LOCK:
            if index_df not in _SNAPSHOTS:
                _SNAPSHOTS[index_df] = _snapshot(index_df)
            snap = _SNAPSHOTS[index_df]
    return index_df if snap is None else snap


def _snapshot(df: DataFrame) -> DataFrame | None:
    """A local-relation copy of a stored frame of at most
    ``SNAPSHOT_MAX_ROWS`` rows, else None. The frame's analyzed plan,
    table aliases aside, must be a bare file or table scan (a
    ``LogicalRelation``): that plan is already built, while an
    optimizer pass costs a computed frame 20-80 ms. One bounded collect
    both decides the size and fetches the rows; they stay in the JVM."""
    if df.isStreaming:
        return None
    jdf = df._jdf
    plan = jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() == "SubqueryAlias":
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rows = jdf.limit(SNAPSHOT_MAX_ROWS + 1).collectAsList()
    if rows.size() > SNAPSHOT_MAX_ROWS:
        return None
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark)


def expire(
    index_df: DataFrame, now: float
) -> tuple[DataFrame, DataFrame]:
    """Split the index into (live, expired-events).

    The expired side mimics the reaper's synthetic events
    (core.clj:300-307): ``{host service state="expired" time=now}``.
    """
    deadline = F.col("time") + F.coalesce(F.col("ttl"), F.lit(DEFAULT_TTL))
    live = index_df.filter(deadline > F.lit(now))
    expired = (
        index_df.filter(deadline <= F.lit(now))
        .select(
            "host",
            "service",
            F.lit("expired").alias("state"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("double").alias("metric"),
            F.lit(None).cast("array<string>").alias("tags"),
            F.lit(now).alias("time"),
            F.lit(None).cast("double").alias("ttl"),
        )
    )
    return live, expired


def delete_from_index(
    index_df: DataFrame,
    event,
    fields: tuple[str, ...] = KEY,
) -> DataFrame:
    """Delete index entries matching the event's values on ``fields``
    (core.clj:256-273 delete-from-index: default [host service]; a
    field list deletes every entry agreeing on all those fields).

    ``event`` is either one event dict (single-cohort delete) or a
    DataFrame of delete commands — the distributed form: the command
    cohort is deduplicated to its match-fields and anti-joined
    broadcast against the index, so a stream of deletions costs one
    broadcast, never a shuffle of the index."""
    if isinstance(event, dict):
        cond = F.lit(True)
        for f_ in fields:
            cond = cond & F.col(f_).eqNullSafe(F.lit(event.get(f_)))
        return index_df.filter(~cond)
    cmds = event.select(*fields).dropDuplicates()
    on = [index_df[f_].eqNullSafe(cmds[f_]) for f_ in fields]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    return index_df.join(F.broadcast(cmds), cond, "left_anti")
