"""Catalog part 1: riemann operator queries + relational showcase.

Each entry: QUERIES[name] = fn(spark, sf_dir) -> DataFrame, and
ORACLES[name] = equivalent DuckDB SQL over the driver's raw tables.
Column names are aliased identically on both sides (the driver's
compare sorts columns by name and hashes values).

Scale intent per query is noted inline — these same plans are what
bench.py times at sf0.1 and what a 1000-executor cluster would run:
one shuffle per groupBy/window key, broadcast for dim joins, no
driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from riemann_spark.operators import analytics, index, stateless, windows
from riemann_spark.operators.folds import _d, dmean, dstddev_pop, dsum, msum
from riemann_spark.operators.skew import spread_for_python
from riemann_spark.query import parse, to_sql
from riemann_spark.schema import (
    EVENTS_NORM_SQL,
    load_events,
    load_parquet,
    load_table,
    normalize_events,
    normalize_ts,
    parquet_schema,
)

QUERIES: dict = {}
ORACLES: dict = {}

def q(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:  # a silent overwrite would shadow a query
            raise ValueError(f"duplicate catalog query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_EV = f"WITH ev AS ({EVENTS_NORM_SQL})"

_LATEST_SQL = """
SELECT * FROM (
  SELECT *, row_number() OVER (
      PARTITION BY host, service ORDER BY time DESC, event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND (state IS DISTINCT FROM 'expired')
"""

# ------------------------------------------------------------------ index

@q(
    "index_latest",
    f"""{_EV}, latest AS ({_LATEST_SQL})
SELECT host, service, state, metric, time, ttl, event_id FROM latest""",
)
def index_latest(spark: SparkSession, sf: str) -> DataFrame:
    """The index: latest event per [host, service] (index.clj:98-101).
    Scale: one shuffle on the key; at 100 TB the same plan with the
    index stored bucketed-by-host gives point-query pruning."""
    ev = load_events(spark, sf)
    return index.build_index(ev).select(
        "host", "service", "state", "metric", "time", "ttl", "event_id"
    )


_SEARCH_Q = '(state = "critical" or metric > 150) and not (service =~ "%up%")'


@q(
    "index_search",
    f"""{_EV}, latest AS ({_LATEST_SQL})
SELECT host, service, state, metric, time, ttl, event_id FROM latest
WHERE {to_sql(parse(_SEARCH_Q), 'duckdb')}""",
)
def index_search(spark: SparkSession, sf: str) -> DataFrame:
    """Query-language search against the index (SURVEY §3.2 lifecycle):
    string → AST → Column; Catalyst pushes the predicate down."""
    ev = load_events(spark, sf)
    return index.search(index.build_index(ev), _SEARCH_Q).select(
        "host", "service", "state", "metric", "time", "ttl", "event_id"
    )


@q(
    "index_expired",
    f"""{_EV}, latest AS ({_LATEST_SQL})
SELECT host, service, 'expired' AS state, 1706745600.0 AS time
FROM latest WHERE time + coalesce(ttl, 60.0) <= 1706745600.0""",
)
def index_expired(spark: SparkSession, sf: str) -> DataFrame:
    """The reaper sweep (index.clj:73-87, core.clj:275-309): synthetic
    expired events for index entries past time+ttl at t=2024-02-01."""
    now = 1706745600.0
    ev = load_events(spark, sf)
    _, exp = index.expire(index.build_index(ev), now)
    return exp.select("host", "service", "state", "time")


# -------------------------------------------------- filters / transforms

_WHERE_Q = 'metric > 50 and metric <= 180 and not (service = "signup" or service = "view")'


@q(
    "where_filter",
    f"""{_EV}
SELECT event_id, host, service, metric FROM ev
WHERE {to_sql(parse(_WHERE_Q), 'duckdb')}""",
)
def where_filter(spark: SparkSession, sf: str) -> DataFrame:
    """where-macro predicate DSL (streams.clj:1765-1810) as a pushed-
    down scan filter — stays inside WholeStageCodegen, no shuffle."""
    ev = load_events(spark, sf)
    return stateless.where(ev, _WHERE_Q).select("event_id", "host", "service", "metric")


@q(
    "tagged_filter",
    f"""{_EV}
SELECT event_id, host, service FROM ev
WHERE COALESCE(list_contains(tags, 'click'), FALSE)
  AND COALESCE(list_contains(tags, 'low'), FALSE)""",
)
def tagged_filter(spark: SparkSession, sf: str) -> DataFrame:
    """tagged-all (streams.clj:1284-1305): array containment filter."""
    ev = load_events(spark, sf)
    return stateless.tagged_all(ev, ["click", "low"]).select(
        "event_id", "host", "service"
    )


@q(
    "transform_fields",
    f"""{_EV}
SELECT event_id,
       metric * 0.0009765625 AS metric,
       array_to_string(
         list_sort(list_filter(list_distinct(list_concat(tags, ['seen'])),
                               t -> t != 'low')), ',') AS tags_str,
       coalesce(state, 'ok') AS state
FROM ev""",
)
def transform_fields(spark: SparkSession, sf: str) -> DataFrame:
    """with/scale/tag/untag/default chain (streams.clj:1346-1488) —
    pure projection, fused into the scan. 1/1024 is a power of two so
    the scaled metric is exact."""
    ev = load_events(spark, sf)
    out = stateless.scale(ev, 1.0 / 1024)
    out = stateless.tag(out, "seen")
    out = stateless.untag(out, "low")
    out = stateless.default(out, {"state": "ok"})
    return out.select(
        "event_id",
        "metric",
        F.array_join(F.array_sort("tags"), ",").alias("tags_str"),
        "state",
    )


@q(
    "split_route",
    f"""{_EV}
SELECT event_id,
       CASE WHEN state = 'critical' THEN 'page'
            WHEN metric > 150.0 THEN 'warn'
            WHEN COALESCE(list_contains(tags, 'low'), FALSE) THEN 'archive'
            ELSE 'drop' END AS branch
FROM ev""",
)
def split_route(spark: SparkSession, sf: str) -> DataFrame:
    """splitp first-matching-predicate routing (streams.clj:1855-1916)
    as a CASE projection."""
    ev = load_events(spark, sf)
    routed = stateless.split_by(
        ev,
        [
            ('state = "critical"', "page"),
            (F.col("metric") > 150.0, "warn"),
            (F.array_contains(F.col("tags"), "low"), "archive"),
        ],
        default_value="drop",
    )
    return routed.select("event_id", "branch")


# ------------------------------------------------------ windows + folds

_BUCKET_DAY = "CAST(CAST(floor(\"time\" / 86400.0) AS BIGINT) * 86400 AS DOUBLE)"
_BUCKET_HOUR = "CAST(CAST(floor(\"time\" / 3600.0) AS BIGINT) * 3600 AS DOUBLE)"


@q(
    "rate_per_hour",
    f"""{_EV}
SELECT host, service, {_BUCKET_HOUR} AS window_start,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / 3600.0 AS rate
FROM ev GROUP BY host, service, window_start""",
)
def rate_per_hour(spark: SparkSession, sf: str) -> DataFrame:
    """rate (streams.clj:841-883): per-interval sum/interval. Partial
    aggregation map-side; shuffle carries one row per (key, hour)."""
    ev = load_events(spark, sf)
    return analytics.rate(ev, 3600.0)


@q(
    "graphite_dead_letter",
    """
WITH lines AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0
              THEN CAST(user_id AS VARCHAR) || '.' || event_type
                   || ' not-a-number '
                   || CAST(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS VARCHAR)
              ELSE CAST(user_id AS VARCHAR) || '.' || event_type || ' '
                   || CAST(CAST(value AS DECIMAL(20,2)) AS VARCHAR) || ' '
                   || CAST(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS VARCHAR)
         END AS line
  FROM events
), p AS (
  SELECT line, regexp_split_to_array(trim(line), '\\s+') AS parts FROM lines
)
SELECT line, 'unparseable metric or timestamp' AS error
FROM p
WHERE TRY_CAST(parts[2] AS DOUBLE) IS NULL
   OR TRY_CAST(parts[3] AS DOUBLE) IS NULL""",
)
def graphite_dead_letter(spark: SparkSession, sf: str) -> DataFrame:
    """exception-stream / call-rescue (streams.clj:63-121) as a
    value-checked query: every 7th graphite line is deterministically
    corrupted (metric → 'not-a-number'); the parser's dead-letter
    split must route EXACTLY those lines, with the raw line preserved
    for replay. Both branches stay distributed — the split is two
    filters over one shared projection, no Python, no shuffle."""
    from riemann_spark.sources.graphite import graphite_lines_with_errors

    ev = load_events(spark, sf)
    # same encode as events_to_graphite_lines, with event_id kept for
    # the deterministic corruption
    path = F.concat_ws(".", F.col("host"), F.col("service"))
    metric_s = F.col("metric").cast("decimal(20,2)").cast("string")
    time_s = F.col("time").cast("long").cast("string")
    line = F.when(
        F.col("event_id") % 7 == 0,
        F.concat_ws(" ", path, F.lit("not-a-number"), time_s),
    ).otherwise(F.concat_ws(" ", path, metric_s, time_s))
    _ok, dead = graphite_lines_with_errors(ev.select(line.alias("line")))
    return dead


@q(
    "salted_agg_by_state",
    f"""{_EV}
SELECT state, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric
FROM ev GROUP BY state""",
)
def salted_agg_by_state(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py salted_agg) on
    a DELIBERATELY skewed key — `state` has ~3 values, so a plain
    groupBy funnels each value through one reducer. The salt splits
    every hot key 16 ways (phase 1, map-side-combinable), then merges
    the 16 partials (phase 2, 3×16 rows). The oracle is the plain
    GROUP BY — identical answers, skew-proof plan. Decimal partials
    keep the two-phase sum bit-equal to the one-phase sum."""
    from riemann_spark.operators.skew import salted_agg

    ev = load_events(spark, sf)
    return salted_agg(
        ev,
        ["state"],
        {"n": F.count(F.lit(1)), "s": F.sum(_d("metric"))},
        {
            "n": F.sum(F.col("n")).cast("long"),
            "sum_metric": F.sum(F.col("s")).cast("double"),
        },
    ).select("state", "n", "sum_metric")


@q(
    "canonical_pipeline",
    f"""{_EV}, piped AS (
  SELECT * FROM ev WHERE metric >= 0
), r AS (
  SELECT host, service, {_BUCKET_HOUR} AS window_start,
         CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / 3600.0 AS rate
  FROM piped GROUP BY host, service, window_start
), latest AS (
  SELECT host, service, state AS cur_state, metric AS cur_metric
  FROM (SELECT *, row_number() OVER (
          PARTITION BY host, service
          ORDER BY time DESC, event_id DESC) AS rn
        FROM piped)
  WHERE rn = 1 AND (state IS DISTINCT FROM 'expired')
)
SELECT r.host, r.service, r.window_start, r.rate,
       l.cur_state, l.cur_metric
FROM r JOIN latest l ON r.host = l.host AND r.service = l.service""",
)
def canonical_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The bench.py throughput pipeline as an oracle-checked query:
    normalize → where(metric >= 0) → default/tag → per-key hourly
    rate ⋈ latest-per-key index state — the canonical riemann
    topology (ingest, filter, transform, windowed analytics, index)
    value-checked end to end, not just smoke-run. Two shuffles on the
    same [host, service] key; tag/default are pure projections."""
    ev = load_events(spark, sf)
    piped = stateless.tag(
        stateless.default(stateless.where(ev, "metric >= 0"), {"state": "ok"}),
        "bench",
    )
    r = analytics.rate(piped, 3600.0)
    latest = index.build_index(piped).select(
        "host",
        "service",
        F.col("state").alias("cur_state"),
        F.col("metric").alias("cur_metric"),
    )
    return r.join(latest, ["host", "service"])


@q(
    "rate_zero_fill",
    f"""{_EV}, r AS (
  SELECT host, service, {_BUCKET_HOUR} AS window_start,
         CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / 3600.0 AS rate
  FROM ev GROUP BY host, service, window_start
), span AS (
  SELECT host, service, MIN(window_start) AS lo, MAX(window_start) AS hi
  FROM r GROUP BY host, service
), grid AS (
  SELECT host, service,
         lo + 3600.0 * CAST(i AS DOUBLE) AS window_start
  FROM span, unnest(generate_series(0,
         CAST((hi - lo) / 3600.0 AS BIGINT))) AS t(i)
)
SELECT g.host, g.service, g.window_start,
       COALESCE(r.rate, 0.0) AS rate
FROM grid g LEFT JOIN r
  ON g.host = r.host AND g.service = r.service
 AND g.window_start = r.window_start""",
)
def rate_zero_fill(spark: SparkSession, sf: str) -> DataFrame:
    """rate with the reference's emit-zero-while-alive semantics
    (streams.clj:841-883 — the timer emits rate 0 for intervals with
    no events until the stream expires; streams_test.clj
    rate-without-input / rate-expiration): the windowed rate LEFT
    JOINed against each key's dense hourly grid, empty intervals at
    0.0. Grid synthesis is sequence+explode per key (the fill_in
    machinery) — rows grow with key-count × span, never shuffled
    beyond the one rate aggregation."""
    ev = load_events(spark, sf)
    # r14: the span-grid LEFT JOIN used to plan the rate subtree TWICE
    # (span side + probe side — events scanned and aggregated once
    # each). Query-lifetime persist (§7/§11 pattern) keeps the join
    # shape — which A/B'd faster than a per-key map fill (2.65 vs
    # 2.3s: the 4.6M-row grid is the semantic cost either way) — while
    # aggregating events ONCE; both the span and the probe read the
    # InMemoryTableScan. bench/driver clearCache releases it.
    r = analytics.rate(ev, 3600.0).persist()
    span = r.groupBy("host", "service").agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    grid = span.select(
        "host",
        "service",
        "lo",
        F.explode(
            F.sequence(F.lit(0).cast("long"), ((F.col("hi") - F.col("lo")) / 3600.0).cast("long"))
        ).alias("i"),
    ).select(
        "host",
        "service",
        (F.col("lo") + 3600.0 * F.col("i").cast("double")).alias("window_start"),
    )
    return grid.join(r, ["host", "service", "window_start"], "left").select(
        "host", "service", "window_start", F.coalesce("rate", F.lit(0.0)).alias("rate")
    )


@q(
    "window_folds",
    f"""{_EV}
SELECT service, {_BUCKET_DAY} AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric) AS mean_metric,
       MIN(metric) AS min_metric,
       MAX(metric) AS max_metric,
       sqrt(CAST(SUM(CAST(metric * metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric)
            - (CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric))
            * (CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric))) AS stddev_metric,
       round(quantile_cont(metric, 0.5), 6) AS median_metric
FROM ev GROUP BY service, window_start""",
)
def window_folds(spark: SparkSession, sf: str) -> DataFrame:
    """fixed-offset-time-window (streams.clj:420-431) + the §2.5 fold
    family in one grouped aggregation — sum/mean/min/max/stddev/count/
    median per (service, day). Exact-decimal sums → deterministic."""
    ev = windows.fixed_offset_time_window(load_events(spark, sf), 86400.0)
    return ev.groupBy("service", "window_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("metric").alias("sum_metric"),
        dmean("metric").alias("mean_metric"),
        F.min("metric").alias("min_metric"),
        F.max("metric").alias("max_metric"),
        dstddev_pop("metric").alias("stddev_metric"),
        F.round(F.percentile(F.col("metric"), F.lit(0.5)), 6).alias("median_metric"),
    )


_PCT_POINTS = [0.0, 0.5, 0.95, 1.0]


@q(
    "percentiles_day",
    f"""{_EV}, g AS (
  SELECT service, {_BUCKET_DAY} AS window_start,
         quantile_cont(metric, {_PCT_POINTS}) AS qs
  FROM ev GROUP BY service, window_start
)
SELECT service || ' ' || point AS service, window_start, point,
       round(metric, 6) AS metric
FROM (
  SELECT service, window_start,
         unnest({[str(p) for p in _PCT_POINTS]}) AS point,
         unnest(qs) AS metric
  FROM g
)""",
)
def percentiles_day(spark: SparkSession, sf: str) -> DataFrame:
    """percentiles (streams.clj:885-898): per-interval percentile
    events, service suffixed with the point (folds.clj:16-49)."""
    ev = load_events(spark, sf)
    out = analytics.percentiles(ev, 86400.0, _PCT_POINTS)
    return out.select(
        "service", "window_start", "point", F.round("metric", 6).alias("metric")
    )


@q(
    "fixed_event_window",
    f"""{_EV}, r AS (
  SELECT host, service, metric,
         CAST(floor((row_number() OVER (
             PARTITION BY host, service ORDER BY time, event_id) - 1) / 5) AS BIGINT)
           AS window_id
  FROM ev
)
SELECT host, service, window_id,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric,
       COUNT(*) AS n
FROM r GROUP BY host, service, window_id""",
)
def fixed_event_window_q(spark: SparkSession, sf: str) -> DataFrame:
    """fixed-event-window n=5 (streams.clj:305-320) + sum fold over
    each 5-event tumble per key."""
    ev = windows.fixed_event_window(load_events(spark, sf), 5, keys=("host", "service"))
    return ev.groupBy("host", "service", "window_id").agg(
        dsum("metric").alias("sum_metric"), F.count(F.lit(1)).alias("n")
    )


@q(
    "moving_event_window",
    f"""{_EV}
SELECT event_id, host, service,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) OVER (
          PARTITION BY host, service ORDER BY time, event_id
          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS window_sum
FROM ev""",
)
def moving_event_window_q(spark: SparkSession, sf: str) -> DataFrame:
    """moving-event-window n=4 + sum fold (streams.clj:292-303):
    trailing count-window running aggregate, one sorted pass per key."""
    ev = load_events(spark, sf)
    w = windows.moving_event_window(4, keys=("host", "service"))
    return ev.select(
        "event_id", "host", "service",
        F.sum(_d("metric")).over(w).cast("double").alias("window_sum"),
    )


# -------------------------------------------------- streaming analytics

@q(
    "ddt",
    f"""{_EV}
SELECT event_id, host, service, ddt FROM (
  SELECT event_id, host, service,
         (metric - lag(metric) OVER w) /
           NULLIF("time" - lag("time") OVER w, 0) AS ddt
  FROM ev
  WINDOW w AS (PARTITION BY host, service ORDER BY time, event_id)
) WHERE ddt IS NOT NULL""",
)
def ddt(spark: SparkSession, sf: str) -> DataFrame:
    """ddt-events (streams.clj:809-822): discrete derivative between
    consecutive events per key."""
    ev = load_events(spark, sf)
    return analytics.ddt_events(ev).select("event_id", "host", "service", "ddt")


@q(
    "counter_running",
    f"""{_EV}
SELECT event_id, host, service,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) OVER (
          PARTITION BY host, service ORDER BY time, event_id
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS counter
FROM ev""",
)
def counter_running(spark: SparkSession, sf: str) -> DataFrame:
    """counter (streams.clj:900-932): running sum per key (no reset
    tags in this corpus; reset segmentation tested in tests/)."""
    ev = load_events(spark, sf)
    return analytics.counter(ev).select("event_id", "host", "service", "counter")


@q(
    "ewma",
    f"""{_EV}, g AS (
  SELECT host, service,
         array_agg(metric ORDER BY "time", event_id) AS xs,
         array_agg(event_id ORDER BY "time", event_id) AS ids
  FROM ev GROUP BY host, service
), x AS (
  SELECT host, service, xs, ids,
         unnest(generate_series(1, len(xs))) AS j
  FROM g
)
SELECT ids[j] AS event_id, host, service,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(
             list_reverse(list_slice(xs, greatest(1, j - 63), j)),
             (e, i) -> e * 0.5 * pow(0.5, i - 1))),
         (acc, t) -> acc + t) AS ewma
FROM x""",
)
def ewma(spark: SparkSession, sf: str) -> DataFrame:
    """ewma-timeless r=1/2 (streams.clj:961-977), 64-term bounded form:
    Σ_{i<64} x_{n-i}·r·(1-r)^i over the trailing frame. Exact to the
    double precision of the unbounded recursion (truncated weights
    < 2^-64·max ≈ 1e-17 relative) and — unlike the power-of-two
    closed form (ewma_timeless_half) — overflow-free at ANY per-key
    stream length. All products are exact power-of-two scalings, so
    Spark's fold and the oracle's agree bit-for-bit."""
    ev = load_events(spark, sf)
    return analytics.ewma_timeless(ev, 0.5, halflife_window=64).select(
        "event_id", "host", "service", "ewma"
    )


@q(
    "changed_state",
    f"""{_EV}
SELECT event_id, host, service, state FROM (
  SELECT event_id, host, service, state,
         lag(state) OVER (PARTITION BY host, service
                          ORDER BY time, event_id) AS prev
  FROM ev
) WHERE prev IS NULL OR state IS DISTINCT FROM prev""",
)
def changed_state(spark: SparkSession, sf: str) -> DataFrame:
    """changed-state (streams.clj:1655-1659): emit only on state
    transitions per key."""
    ev = load_events(spark, sf)
    return analytics.changed_state(ev).select("event_id", "host", "service", "state")


@q(
    "runs3",
    f"""{_EV}
SELECT event_id, host, service, state FROM (
  SELECT event_id, host, service, state,
         COUNT(*) OVER w3 AS cnt,
         MIN(state) OVER w3 AS mn, MAX(state) OVER w3 AS mx
  FROM ev
  WINDOW w3 AS (PARTITION BY host, service ORDER BY time, event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
) WHERE cnt = 3 AND mn = mx""",
)
def runs3(spark: SparkSession, sf: str) -> DataFrame:
    """runs n=3 on :state (streams.clj:1918-1934): flap damping —
    pass only the last of 3-in-a-row equal states."""
    ev = load_events(spark, sf)
    return analytics.runs(ev, 3).select("event_id", "host", "service", "state")


@q(
    "stable_2h",
    f"""{_EV}, c AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                   OR state IS DISTINCT FROM lag(state) OVER w
            THEN 1 ELSE 0 END AS chg
  FROM ev WINDOW w AS (PARTITION BY host, service ORDER BY time, event_id)
), r AS (
  SELECT *, SUM(chg) OVER (PARTITION BY host, service
                           ORDER BY time, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM c
)
SELECT event_id, host, service, state FROM (
  SELECT event_id, host, service, state,
         MAX("time") OVER wr - MIN("time") OVER wr AS span
  FROM r WINDOW wr AS (PARTITION BY host, service, run_id)
) WHERE span >= 7200.0""",
)
def stable_2h(spark: SparkSession, sf: str) -> DataFrame:
    """stable dt=2h on :state (streams.clj:1936-2030): run-length
    sessionization, keep events of runs that persisted ≥ dt."""
    ev = load_events(spark, sf)
    return analytics.stable(ev, 7200.0).select("event_id", "host", "service", "state")


@q(
    "top10",
    f"""{_EV}, latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY host, service
                                 ORDER BY time DESC, event_id DESC) AS rn
    FROM ev) WHERE rn = 1
)
SELECT host, service, metric, rank, event_id FROM (
  SELECT host, service, metric, event_id,
         row_number() OVER (ORDER BY metric DESC, host, service) AS rank
  FROM latest
) WHERE rank <= 10""",
)
def top10(spark: SparkSession, sf: str) -> DataFrame:
    """top k=10 (streams.clj:1015-1100), snapshot form: global top-k of
    the latest-per-key table. The global window runs over |keys| rows
    (the snapshot), not the raw stream — fine at any stream size."""
    ev = load_events(spark, sf)
    return analytics.top(ev, 10).select("host", "service", "metric", "rank", "event_id")


@q(
    "throttle",
    f"""{_EV}
SELECT event_id, host, service FROM (
  SELECT event_id, host, service,
         row_number() OVER (
           PARTITION BY service, CAST(floor("time"/86400.0) AS BIGINT)
           ORDER BY time, event_id) AS rn
  FROM ev
) WHERE rn <= 3""",
)
def throttle_q(spark: SparkSession, sf: str) -> DataFrame:
    """throttle n=3 per day per service (streams.clj:1102-1118)."""
    ev = load_events(spark, sf)
    return analytics.throttle(ev, 3, 86400.0, keys=("service",)).select(
        "event_id", "host", "service"
    )


@q(
    "apdex",
    f"""{_EV}
SELECT service, {_BUCKET_DAY} AS window_start,
       (SUM(CASE WHEN metric < 80.0 THEN 1 ELSE 0 END)
        + SUM(CASE WHEN NOT COALESCE(metric < 80.0, FALSE)
                    AND metric < 140.0 THEN 1 ELSE 0 END) / 2.0)
       / COUNT(*) AS apdex
FROM ev WHERE state IS DISTINCT FROM 'expired'
GROUP BY service, window_start""",
)
def apdex_q(spark: SparkSession, sf: str) -> DataFrame:
    """apdex (streams.clj:2103-2157): satisfied metric<80, tolerated
    metric<140, per service per day."""
    ev = load_events(spark, sf)
    return analytics.apdex(ev, "metric < 80.0", "metric < 140.0", 86400.0)


@q(
    "clock_skew",
    f"""{_EV}, latest AS (
  SELECT host, MAX("time") AS host_time FROM ev GROUP BY host
)
SELECT host, host_time - (SELECT quantile_cont(host_time, 0.5) FROM latest) AS skew
FROM latest""",
)
def clock_skew_q(spark: SparkSession, sf: str) -> DataFrame:
    """clock-skew (streams.clj:2159-2195): per-host latest clock minus
    the median across hosts (median broadcast back — no second shuffle)."""
    ev = load_events(spark, sf)
    return analytics.clock_skew(ev)


@q(
    "predict_linear",
    f"""{_EV}, s AS (
  SELECT event_id, host, service,
         CAST((time_us // 1000000) - 1704067200 AS DOUBLE) AS x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS cnt,
         CAST(SUM((time_us // 1000000) - 1704067200) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(metric * 100.0) AS BIGINT)) OVER w AS DOUBLE) AS sy,
         CAST(SUM(((time_us // 1000000) - 1704067200)
                  * CAST(round(metric * 100.0) AS BIGINT)) OVER w AS DOUBLE) AS sxy,
         CAST(SUM(((time_us // 1000000) - 1704067200)
                  * ((time_us // 1000000) - 1704067200)) OVER w AS DOUBLE) AS sxx
  FROM ev
  WINDOW w AS (PARTITION BY host, service ORDER BY time_us, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT event_id, host, service, predicted FROM (
  SELECT event_id, host, service,
         ((sy - (cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0) * sx) / cnt
          + (cnt * sxy - sx * sy) / NULLIF(cnt * sxx - sx * sx, 0) * (x + 300.0)
         ) / 100.0 AS predicted
  FROM s
) WHERE predicted IS NOT NULL""",
)
def predict_linear_q(spark: SparkSession, sf: str) -> DataFrame:
    """predict-linear n=10, 300s ahead (streams.clj:2197-2248): OLS over
    the trailing 10 events per key — exact integer sums (see
    predict_linear_exact for why doubles can't survive the n·Σx²−(Σx)²
    cancellation at unix-time magnitudes)."""
    ev = load_events(spark, sf)
    out = analytics.predict_linear_exact(ev, 10, 300.0)
    return out.filter(F.col("predicted").isNotNull()).select(
        "event_id", "host", "service", "predicted"
    )


@q(
    "project2",
    f"""{_EV}
SELECT
  (SELECT metric FROM ev WHERE (state IS NOT DISTINCT FROM 'critical')
   ORDER BY time DESC, event_id DESC LIMIT 1) AS slot0,
  (SELECT metric FROM ev WHERE (metric > 150.0)
   ORDER BY time DESC, event_id DESC LIMIT 1) AS slot1""",
)
def project2(spark: SparkSession, sf: str) -> DataFrame:
    """project (streams.clj:2032-2101): 2-predicate basis, latest
    matching metric per slot in ONE aggregation pass (max of
    conditional struct) — no per-slot scans, unlike the oracle."""
    ev = load_events(spark, sf)
    return analytics.project(ev, ['state = "critical"', F.col("metric") > 150.0])


@q(
    "fill_in",
    f"""{_EV}, b AS (
  SELECT host, service, metric, "time",
         lead("time") OVER (PARTITION BY host, service
                            ORDER BY "time", event_id) AS nxt
  FROM ev
), g AS (
  SELECT host, service, metric, "time",
         CASE WHEN nxt IS NOT NULL THEN
           GREATEST(CAST(floor((nxt - "time" - 1e-9) / 1800.0) AS BIGINT), 0)
         ELSE 0 END AS k
  FROM b
), x AS (
  SELECT host, service, metric, "time",
         unnest(generate_series(0, k)) AS i
  FROM g
)
SELECT host, service, metric, "time" + i * 1800.0 AS time, i > 0 AS filled
FROM x""",
)
def fill_in_q(spark: SparkSession, sf: str) -> DataFrame:
    """fill-in-last every 1800s of silence (streams.clj:683-751):
    distributed gap fill via sequence+explode — no timers needed in
    batch; the streaming variant uses processing-time timers."""
    ev = load_events(spark, sf)
    return analytics.fill_in(ev, 1800.0)


# ------------------------------------------------- relational showcase

@q(
    "tpch_q1",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
       CAST(SUM(CAST(round(l_discount * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """Pricing-summary aggregation (TPC-H Q1 shape): the canonical
    scan→partial-agg→shuffle-one-row-per-group plan; linear at 100 TB.

    spread_for_python: the 8 msum round/cast chains are ~24 integer
    ops per row — on the single-split fixture the fused
    scan+partial-agg ran one core while 31 idled (probe 1.22 -> 0.84s).
    Spread AFTER the filter, on the 6 needed columns only (pruning and
    the shipdate pushdown stay at the scan); the partial sums are
    exact-integer so grouping is partitioning-independent. A lake-wide
    scan skips the round-robin."""
    li = load_table(spark, sf, "lineitem")
    f = spread_for_python(
        li.filter(
            F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
        ).select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        msum("l_quantity", 2).alias("sum_qty"),
        msum("l_extendedprice", 2).alias("sum_base_price"),
        msum(disc, 4).alias("sum_disc_price"),
        msum(charge, 6).alias("sum_charge"),
        (msum("l_quantity", 2) / n).alias("avg_qty"),
        (msum("l_extendedprice", 2) / n).alias("avg_price"),
        (msum("l_discount", 2) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@q(
    "revenue_top10",
    """
SELECT o_orderkey, orderdate, revenue FROM (
  SELECT l.l_orderkey AS o_orderkey,
         strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
         CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING' OR c.c_mktsegment = 'FURNITURE'
  GROUP BY 1, 2
)
ORDER BY revenue DESC, o_orderkey LIMIT 10""",
)
def revenue_top10(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-priority shape (TPC-H Q3): the mktsegment filter
    shrinks customer before its join (AQE broadcasts when the runtime
    size fits — no hint, customer scales with SF); the orderkey
    shuffle joins orders to lineitem."""
    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "FURNITURE")
    )
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    # no broadcast hint anywhere: customer scales with SF (AQE
    # broadcasts the filtered side at runtime when it fits); orders is
    # never broadcast-able at production scale
    joined = li.join(
        o.join(c, o.o_custkey == c.c_custkey),
        li.l_orderkey == F.col("o_orderkey"),
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(msum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@q(
    "tpch_q4",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority""",
)
def tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): EXISTS becomes a
    LEFT SEMI join with a non-equi residual (l_shipdate >
    o_orderdate) riding the l_orderkey equi-key — one shuffle on
    orderkey for each side, date filter pushed to the orders scan,
    then a tiny 5-group aggregate."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@q(
    "tpch_q12",
    """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag""",
)
def tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-mode priority classification (TPC-H Q12 shape):
    conditional aggregation after the orderkey shuffle join — the
    CASE counters partial-agg map-side, so the join output never
    materializes beyond its own stage. Ship-date range pushed to the
    lineitem scan."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@q(
    "tpch_q14",
    """
SELECT round(100.0 *
         CAST(SUM(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)
              ELSE 0 END) AS DOUBLE)
         / CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE),
       6) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-04-01'""",
)
def tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    """Promotion effect (TPC-H Q14 shape): one-row conditional
    revenue ratio over a quarter. The part side joins unhinted (AQE
    decides; part scales with SF even though at fixture SF it is
    partkey-sized, small next to lineitem at any SF); revenue is
    money-quantized to integer 1e-4 units so the two sums are exact
    and the final ratio is one correctly-rounded division — no
    float-sum ordering anywhere."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part")
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 10000.0
    ).cast("long")
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


@q(
    "tpch_q16",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
ANTI JOIN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) bad
  ON l.l_suppkey = bad.s_suppkey
WHERE p.p_size <= 15
GROUP BY p.p_brand, p.p_type, p.p_size""",
)
def tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16 shape, lineitem as the
    part↔supplier link): distinct supplier count per part attribute
    group, excluding flagged suppliers (negative balance standing in
    for the complaints predicate) via a BROADCAST anti-join — both
    dims join unhinted (AQE's call), the fact table never reshuffles before the
    count-distinct's own keyed exchange."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_size") <= 15)
    bad = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    j = li.join(
        bad, li.l_suppkey == bad.s_suppkey, "left_anti"
    ).join(p, F.col("l_partkey") == p.p_partkey)
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
    )


@q(
    "regional_revenue",
    """
SELECT n.n_name, r.r_name,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name, r.r_name""",
)
def regional_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-dim star join (TPC-H Q5 shape): nation/region hinted, the rest AQE —
    zero shuffles before the final one-row-per-nation aggregation."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    dims = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(dims, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name", "r_name")
        .agg(
            msum(rev, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------- round-1 widening batch

@q(
    "fixed_time_window",
    f"""{_EV}, a AS (
  SELECT host, service, metric,
         MIN("time") OVER (PARTITION BY host, service) AS anchor, "time"
  FROM ev
), w AS (
  SELECT host, service, metric,
         anchor + CAST(floor(("time" - anchor) / 3600.0) AS BIGINT) * 3600
           AS window_start
  FROM a
)
SELECT host, service, window_start,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric,
       COUNT(*) AS n
FROM w GROUP BY host, service, window_start""",
)
def fixed_time_window_q(spark: SparkSession, sf: str) -> DataFrame:
    """fixed-time-window (streams.clj:409-418): tumbling windows
    anchored at the FIRST event's time per key (vs the epoch-aligned
    fixed-offset variant). Two passes over one key partitioning: the
    anchor window and the groupBy reuse the same shuffle."""
    ev = windows.fixed_time_window(
        load_events(spark, sf), 3600.0, keys=("host", "service")
    )
    return ev.groupBy("host", "service", "window_start").agg(
        dsum("metric").alias("sum_metric"), F.count(F.lit(1)).alias("n")
    )


@q(
    "moving_time_window",
    f"""{_EV}
SELECT event_id, host, service,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) OVER (
          PARTITION BY host, service ORDER BY "time"
          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS window_sum
FROM ev""",
)
def moving_time_window_q(spark: SparkSession, sf: str) -> DataFrame:
    """moving-time-window 1h (streams.clj:322-353): per-event trailing
    range frame — every event sees the sum of its key's last hour."""
    ev = load_events(spark, sf)
    w = windows.moving_time_window(3600.0, keys=("host", "service"))
    return ev.select(
        "event_id", "host", "service",
        F.sum(_d("metric")).over(w).cast("double").alias("window_sum"),
    )


@q(
    "rollup",
    f"""{_EV}, t AS (
  SELECT *, CAST(CAST(floor("time" / 86400.0) AS BIGINT) * 86400 AS DOUBLE)
              AS bucket,
         row_number() OVER (
           PARTITION BY service, CAST(floor("time" / 86400.0) AS BIGINT)
           ORDER BY "time", event_id) AS rn
  FROM ev
)
SELECT event_id, host, service, metric, CAST(NULL AS BIGINT) AS rolled
FROM t WHERE rn <= 3
UNION ALL
SELECT arg_max(event_id, rn) AS event_id, arg_max(host, rn) AS host,
       service, arg_max(metric, rn) AS metric, COUNT(*) AS rolled
FROM t WHERE rn > 3 GROUP BY service, bucket""",
)
def rollup_q(spark: SparkSession, sf: str) -> DataFrame:
    """rollup n=3/day per service (streams.clj:1120-1156): the first 3
    events pass through per window; the tail collapses to one
    aggregated emission carrying the count."""
    ev = load_events(spark, sf)
    out = analytics.rollup(ev, 3, 86400.0, keys=("service",))
    return out.select("event_id", "host", "service", "metric", "rolled")


@q(
    "ddt_real",
    f"""{_EV}, last_per AS (
  SELECT host, service, metric AS last_metric, window_start FROM (
    SELECT host, service, metric,
           CAST(CAST(floor("time" / 3600.0) AS BIGINT) * 3600 AS DOUBLE)
             AS window_start,
           row_number() OVER (
             PARTITION BY host, service, CAST(floor("time" / 3600.0) AS BIGINT)
             ORDER BY "time" DESC, event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
)
SELECT host, service, window_start, ddt FROM (
  SELECT host, service, window_start,
         (last_metric - lag(last_metric) OVER w)
           / NULLIF(window_start - lag(window_start) OVER w, 0) AS ddt
  FROM last_per WINDOW w AS (PARTITION BY host, service ORDER BY window_start)
) WHERE ddt IS NOT NULL""",
)
def ddt_real_q(spark: SparkSession, sf: str) -> DataFrame:
    """ddt-real (streams.clj:776-807): derivative sampled per hourly
    interval — last value per interval, then per-interval slope."""
    ev = load_events(spark, sf)
    return analytics.ddt_real(ev, 3600.0).select(
        "host", "service", "window_start", "ddt"
    )


_SS_POINTS = [0.0, 0.5, 0.95, 1.0]


@q(
    "sorted_sample",
    f"""{_EV}, r AS (
  SELECT service, metric,
         row_number() OVER (PARTITION BY service
                            ORDER BY metric, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY service) AS n
  FROM ev
)
SELECT service || ' ' || point AS service, point, metric FROM (
  {' UNION ALL '.join(
    f'''SELECT service, '{p}' AS point,
        MAX(CASE WHEN rn = LEAST(CAST(floor({p} * n) AS BIGINT), n - 1) + 1
                 THEN metric END) AS metric
    FROM r GROUP BY service''' for p in _SS_POINTS)}
)""",
)
def sorted_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """sorted-sample (folds.clj:16-49) with the reference's EXACT
    element selection: index floor(p·n) clamped to n−1 in the
    metric-sorted sequence (not interpolated), service renamed
    "svc p". One rank pass + one conditional aggregation."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("service").orderBy(F.col("metric"), F.col("event_id"))
    r = ev.select(
        "service", "metric",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("service")).alias("n"),
    )
    parts = []
    for p in _SS_POINTS:
        idx = F.least(F.floor(F.lit(p) * F.col("n")), F.col("n") - 1) + 1
        parts.append(
            r.groupBy("service").agg(
                F.max(F.when(F.col("rn") == idx, F.col("metric"))).alias("metric")
            ).select(
                F.concat_ws(" ", F.col("service"), F.lit(str(p))).alias("service"),
                F.lit(str(p)).alias("point"),
                "metric",
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


@q(
    "fold_product",
    f"""{_EV}
SELECT service, round(exp(SUM(ln(1.0 + metric / 1000.0))), 6) AS product_1p
FROM ev GROUP BY service""",
)
def fold_product_q(spark: SparkSession, sf: str) -> DataFrame:
    """product fold (folds.clj:103-113) as exp(Σ ln) — keeps partial
    map-side aggregation (a naive sequential product would not
    distribute). Rounded to 6dp: log-sum ordering drift is ~1e-13."""
    ev = load_events(spark, sf)
    x = F.lit(1.0) + F.col("metric") / 1000.0
    return ev.groupBy("service").agg(
        F.round(F.exp(F.sum(F.log(x))), 6).alias("product_1p")
    )


@q(
    "deps_suppression",
    f"""{_EV}, latest AS ({_LATEST_SQL})
SELECT e.event_id, e.host, e.service,
       EXISTS (SELECT 1 FROM latest i
               WHERE i.host = e.host AND i.service = 'signup'
                 AND i.state = 'ok') AS deps_satisfied
FROM ev e WHERE e.service = 'error'""",
)
def deps_suppression(spark: SparkSession, sf: str) -> DataFrame:
    """deps rules (deps.clj:24-80): alert suppression — an error event
    is actionable only if its host's 'signup' service is currently ok
    in the index. Event stream ⋈ index snapshot as a BROADCAST
    left-semi-style join (the index is |keys|-sized, always the small
    side at scale)."""
    ev = load_events(spark, sf)
    idx = index.build_index(ev)
    parent = idx.filter(
        (F.col("service") == "signup") & (F.col("state") == "ok")
    ).select(F.col("host").alias("p_host"))
    return (
        ev.filter(F.col("service") == "error")
        .join(F.broadcast(parent), F.col("host") == F.col("p_host"), "left")
        .select(
            "event_id", "host", "service",
            F.col("p_host").isNotNull().alias("deps_satisfied"),
        )
    )


@q(
    "by_derived_key",
    f"""{_EV}
SELECT CAST(host AS BIGINT) % 4 AS shard,
       COUNT(*) AS n,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric
FROM ev GROUP BY shard""",
)
def by_derived_key(spark: SparkSession, sf: str) -> DataFrame:
    """by with an arbitrary key FUNCTION (streams.clj:1571): grouping
    by a computed key (host shard) — the dynamic-fork table becomes a
    plain groupBy on the derived expression."""
    ev = load_events(spark, sf)
    return ev.groupBy(
        (F.col("host").cast("long") % 4).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("metric").alias("sum_metric"),
    )


@q(
    "graphite_roundtrip",
    """
WITH lines AS (
  SELECT CAST(user_id AS VARCHAR) || '.' || event_type || ' '
         || CAST(CAST(value AS DECIMAL(20,2)) AS VARCHAR) || ' '
         || CAST(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS VARCHAR)
           AS line
  FROM events
), p AS (
  SELECT regexp_split_to_array(trim(line), '\\s+') AS parts FROM lines
)
SELECT split_part(parts[1], ';', 1) AS service,
       TRY_CAST(parts[2] AS DOUBLE) AS metric,
       TRY_CAST(parts[3] AS DOUBLE) AS time
FROM p""",
)
def graphite_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Graphite line-protocol source+sink round-trip (transport/
    graphite.clj parser :37-85, sink graphite.clj:116): events encoded
    to `path value ts` lines, parsed back through the Column-only
    parser. Proves the ingest path without a socket."""
    from riemann_spark.sources import events_to_graphite_lines, graphite_lines_to_events

    raw = load_table(spark, sf, "events")
    ev = normalize_events(raw)
    lines = events_to_graphite_lines(ev)
    return graphite_lines_to_events(lines).select("service", "metric", "time")


@q(
    "influx_line_roundtrip",
    f"""{_EV},
lines AS (
  SELECT host, service,
         CAST(CAST(metric AS DECIMAL(24,6)) AS VARCHAR) AS ms,
         CAST(CAST(floor("time") AS BIGINT) AS VARCHAR) AS tss
  FROM ev
  WHERE service IS NOT NULL AND metric IS NOT NULL AND "time" IS NOT NULL)
SELECT host, service,
       TRY_CAST(ms AS DOUBLE) AS metric,
       TRY_CAST(tss AS DOUBLE) AS time
FROM lines""",
)
def influx_line_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """InfluxDB line-protocol sink+source round-trip (influxdb.clj
    event->point-9 :134-150): events encoded to
    ``service,host=h value=1.5 ts`` lines (sources/tsdb_lines.py),
    parsed back through the Column-only parser. The oracle replays the
    same string pipeline (decimal-quantized metric, floored seconds) so
    both engines parse identical strings — the graphite_roundtrip
    discipline. Proves the vendor-sink formatter without a server."""
    from riemann_spark.sources import events_to_influx_lines, influx_lines_to_events

    ev = load_events(spark, sf)
    # the parser is a per-row regex/string pipeline — round-robin the
    # one-string-column lines frame so it runs at cluster width instead
    # of input-split width (skipped when the frame is already that
    # wide). Measured 1.72 -> 0.60s at sf0.1.
    lines = spread_for_python(events_to_influx_lines(ev))
    return influx_lines_to_events(lines).select("host", "service", "metric", "time")


@q(
    "prometheus_text_roundtrip",
    f"""{_EV},
lines AS (
  SELECT regexp_replace(regexp_replace(service, '[^a-zA-Z0-9_]', '_', 'g'),
                        '_{{2,}}', '_', 'g') AS name,
         host,
         NULLIF(array_to_string(tags, ','), '') AS tags_label,
         CAST(CAST(metric AS DECIMAL(24,6)) AS VARCHAR) AS ms
  FROM ev WHERE service IS NOT NULL AND metric IS NOT NULL)
SELECT name, host, tags_label, TRY_CAST(ms AS DOUBLE) AS value
FROM lines""",
)
def prometheus_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Prometheus exposition-text sink round-trip (prometheus.clj
    generate-datapoint-with-labels :43-47, sanitization :12-15):
    events encoded to ``name{{host="h",tags="a,b"}} 1.5`` lines and
    parsed back (label values with embedded commas survive — the
    splitter only breaks before ``key=`` boundaries). Name arrives
    pre-sanitized on both sides; metric via the shared quantize-then-
    parse discipline."""
    from riemann_spark.sources import (
        events_to_prometheus_text,
        prometheus_text_to_samples,
    )

    ev = load_events(spark, sf)
    # see influx_line_roundtrip: spread the one-column lines frame so
    # the label-splitter regex pipeline runs cluster-wide
    lines = spread_for_python(events_to_prometheus_text(ev))
    s = prometheus_text_to_samples(lines)
    return s.select(
        "name",
        F.col("labels")["host"].alias("host"),
        F.col("labels")["tags"].alias("tags_label"),
        "value",
    )


@q(
    "prometheus_rw_roundtrip",
    f"""{_EV}
SELECT regexp_replace(regexp_replace(service, '[^a-zA-Z0-9_]', '_', 'g'),
                      '_{{2,}}', '_', 'g') AS name,
       host,
       NULLIF(array_to_string(tags, ','), '') AS tags_label,
       metric AS value,
       CAST(floor("time" * 1000) AS BIGINT) AS timestamp_ms
FROM ev WHERE service IS NOT NULL AND metric IS NOT NULL""",
)
def prometheus_rw_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Prometheus remote-write wire round-trip: events packed into
    snappy-compressed prompb WriteRequest bodies (per Arrow batch) and
    decoded back through the receiver-side parser — both halves the
    hand-rolled pure-Python codec (sources/prometheus_rw.py; snappy
    block format + prompb from the public specs). Value crosses the
    wire as fixed64 — LOSSLESS — so the oracle is plain identity with
    the sanitized name and millisecond timestamp."""
    from riemann_spark.sources import events_to_remote_write, remote_write_to_samples

    ev = load_events(spark, sf)
    return remote_write_to_samples(events_to_remote_write(ev))


@q(
    "protobuf_roundtrip",
    f"""{_EV}
SELECT host, service, state, description, metric,
       array_to_string(tags, ',') AS tags_csv,
       "time",
       CAST(CAST(ttl AS FLOAT4) AS DOUBLE) AS ttl
FROM ev""",
)
def protobuf_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Protobuf ``Msg`` wire round-trip (transport.clj:107-132 netty
    ProtobufDecoder(Proto$Msg); common.clj:91-112 decode-msg): events
    encoded to single-event Msg frames through the pure-Python wire
    codec, decoded back, fields restored exactly. metric survives via
    metric_sint64/metric_d (both lossless for doubles); time via exact
    time_micros; ttl crosses the proto's float32 field, mirrored in
    the oracle by the FLOAT4 cast."""
    from riemann_spark.sources import events_to_msg_binary, msg_binary_to_events

    ev = load_events(spark, sf)
    frames = events_to_msg_binary(ev)
    back = msg_binary_to_events(frames)
    return back.select(
        "host",
        "service",
        "state",
        "description",
        "metric",
        F.array_join("tags", ",").alias("tags_csv"),
        "time",
        "ttl",
    )


@q(
    "kafka_codec_roundtrip",
    f"""{_EV}
SELECT host, service, state, description, metric,
       array_to_string(tags, ',') AS tags_csv,
       "time",
       CAST(CAST(ttl AS FLOAT4) AS DOUBLE) AS ttl
FROM ev""",
)
def kafka_codec_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Kafka wire round-trip without a broker (kafka-consumer,
    kafka.clj:92-119): events → protobuf Msg frames → packed into
    RecordBatch-v2 byte batches (sources/kafka_codec.py: crc32c-sealed
    header, zigzag-varint records, gzip'd record section) → batch
    decode → Msg decode → events. Exercises the exact byte layout a
    broker would hand ``read_kafka_msg_frames``; the oracle is the
    same identity fixpoint as protobuf_roundtrip (ttl crosses the
    proto float32). Batch grouping varies with partitioning; the
    decoded row multiset does not."""
    from riemann_spark.sources import events_to_msg_binary, msg_binary_to_events
    from riemann_spark.sources.kafka_codec import (
        record_batches_to_rows,
        rows_to_record_batches,
    )

    ev = load_events(spark, sf)
    frames = events_to_msg_binary(ev)
    batches = rows_to_record_batches(frames, "msg", compression="gzip")
    records = record_batches_to_rows(batches)
    back = msg_binary_to_events(records.select(F.col("value").alias("msg")))
    return back.select(
        "host",
        "service",
        "state",
        "description",
        "metric",
        F.array_join("tags", ",").alias("tags_csv"),
        "time",
        "ttl",
    )


@q(
    "json_roundtrip",
    f"""{_EV}
SELECT host, service, state, description, metric,
       array_to_string(tags, ',') AS tags_csv, "time", ttl
FROM ev""",
)
def json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON wire round-trip (common.clj:126-130 event-to-json;
    websocket ingest transport/websockets.clj:94-133): events encoded
    with to_json, parsed back with from_json against EVENT_SCHEMA —
    both JVM-side, zero Python. Doubles survive exactly (Jackson
    shortest-repr print, exact parse), so the oracle is the identity
    fixpoint over the normalized events."""
    from riemann_spark.sources import events_from_json, events_to_json

    ev = load_events(spark, sf)
    # see influx_line_roundtrip: spread the JSON strings before the
    # from_json parse so Jackson runs cluster-wide
    back = events_from_json(spread_for_python(events_to_json(ev)), "value")
    return back.select(
        "host",
        "service",
        "state",
        "description",
        "metric",
        F.array_join("tags", ",").alias("tags_csv"),
        "time",
        "ttl",
    )


@q(
    "fold_difference",
    f"""{_EV}, f AS (
  SELECT host, service, metric AS first_metric FROM (
    SELECT host, service, metric,
           row_number() OVER (PARTITION BY host, service
                              ORDER BY "time", event_id) AS rn
    FROM ev) WHERE rn = 1
), s AS (
  SELECT host, service,
         CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_m
  FROM ev GROUP BY host, service
)
SELECT s.host, s.service,
       CAST(2 AS DOUBLE) * f.first_metric - s.sum_m AS difference
FROM s JOIN f USING (host, service)""",
)
def fold_difference_q(spark: SparkSession, sf: str) -> DataFrame:
    """difference fold (folds.clj:115-126): first − Σ(rest) per key in
    ONE aggregation (deterministic struct-min arg-first + exact sum) —
    no second scan, unlike the oracle's two-pass formulation."""
    from riemann_spark.operators.folds import fdifference

    ev = load_events(spark, sf)
    return ev.groupBy("host", "service").agg(fdifference().alias("difference"))


@q(
    "streaming_index_snapshot",
    f"""{_EV}
SELECT host, service, state, metric, time, ttl FROM (
  SELECT *, row_number() OVER (
      PARTITION BY host, service ORDER BY time DESC, event_id DESC) AS rn
  FROM ev
) WHERE rn = 1 AND (state IS DISTINCT FROM 'expired')""",
)
def streaming_index_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAMING index (streaming/index_stream.py) run to
    completion over the events table as a file stream — the stateful
    applyInPandasWithState path, checked against the same latest-per-
    key oracle as the batch index. In a single micro-batch the state
    machine emits exactly one latest row per live key, so the oracle
    is fully deterministic."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming import streaming_index

    name = f"cat_sidx_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sidx_ck_")
    # file stream sources take a directory; pathGlobFilter selects the
    # events table. Schema must be the RAW parquet schema (ts read as
    # nanos-long), converted in-stream exactly like load_table does.
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_index(normalize_events(raw))
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    # drop reaper-emitted synthetic expired rows: this query checks the
    # upsert/snapshot path (expiry timers are covered in test_streaming)
    return spark.table(name).filter(F.col("state") != "expired")


@q(
    "filter_agg",
    """
SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
         AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0""",
)
def filter_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Forecasting-revenue-change shape (TPC-H Q6): selective multi-
    predicate scan → single global aggregate. Every predicate reaches
    the parquet reader (PushedFilters), zero shuffles beyond the final
    one-row combine — the purest pushdown showcase."""
    li = load_table(spark, sf, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return f.agg(
        msum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "top_suppliers_per_part",
    """
SELECT l_partkey, l_suppkey, qty, rk FROM (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS qty,
         row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) DESC, l_suppkey) AS rk
  FROM lineitem GROUP BY l_partkey, l_suppkey
) WHERE rk <= 2""",
)
def top_suppliers_per_part(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-N (rank over grouped aggregate): agg shuffle on
    (part, supp) then a window partitioned by part — the second
    'shuffle' reuses the first's partitioning when partkey prefixes the
    agg key, so AQE plans one exchange."""
    li = load_table(spark, sf, "lineitem")
    qty_int = F.sum(F.round(F.col("l_quantity") * 100.0).cast("long").cast("decimal(38,0)"))
    g = li.groupBy("l_partkey", "l_suppkey").agg(
        qty_int.cast("double").alias("__q"), qty_int.alias("__qi")
    )
    w = Window.partitionBy("l_partkey").orderBy(F.col("__qi").desc(), F.col("l_suppkey"))
    return (
        g.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            "l_partkey", "l_suppkey", (F.col("__q") / 100.0).alias("qty"), "rk"
        )
    )


@q(
    "customers_without_orders",
    """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')""",
)
def customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join shape: customers with no RECENT orders — the filter
    shrinks the build side before the broadcast left_anti, so the
    anti-join never materializes non-matching rows."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return c.join(
        o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_mktsegment")


@q(
    "streaming_ewma_halflife",
    f"""{_EV}, g AS (
  SELECT host, service,
         array_agg(struct_pack(m := metric, t := "time")
                   ORDER BY "time", event_id) AS xs,
         array_agg(event_id ORDER BY "time", event_id) AS ids
  FROM ev GROUP BY host, service
), x AS (
  SELECT host, service, xs, ids,
         unnest(generate_series(1, len(xs))) AS j
  FROM g
)
SELECT ids[j] AS event_id, host, service,
       list_reduce(
         list_prepend(struct_pack(m := CAST(0.0 AS DOUBLE),
                                  t := CAST(NULL AS DOUBLE)),
                      list_slice(xs, 1, j)),
         (acc, e) -> struct_pack(
           m := CASE
             WHEN e."t" - coalesce(acc."t", e."t") > 0 THEN
               (1.0 - exp(ln(0.5) / 60.0)) * e.m
                 + acc.m * pow(exp(ln(0.5) / 60.0), e."t" - acc."t")
             WHEN e."t" - coalesce(acc."t", e."t") < 0 THEN
               acc.m + (1.0 - exp(ln(0.5) / 60.0)) * e.m
                 * pow(exp(ln(0.5) / 60.0), abs(e."t" - acc."t"))
             ELSE acc.m + (1.0 - exp(ln(0.5) / 60.0)) * e.m
           END,
           t := CASE WHEN e."t" - coalesce(acc."t", e."t") > 0
                     THEN e."t" ELSE coalesce(acc."t", e."t") END)
       ).m AS ewma
FROM x""",
)
def streaming_ewma_halflife(spark: SparkSession, sf: str) -> DataFrame:
    """The STATEFUL half-life EWMA stream (streaming/stateful_ops.py,
    reference streams.clj:979-1013) run to completion over the events
    file stream, with a FULL value oracle: the DuckDB side folds the
    identical three-branch recursion, and both sides use the same
    libm (this is a Python-pandas operator — exp/pow come from the
    same C library in both engines), so even the transcendental decay
    terms match bit-for-bit."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_ewma

    name = f"cat_sewma_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sewma_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_ewma(normalize_events(raw), 60.0)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name).select(
        "event_id", "host", "service", F.col("metric").alias("ewma")
    )


@q(
    "streaming_batch_drained",
    f"""{_EV}, r AS (
  SELECT host, service, COALESCE(metric, 0.0) AS metric, "time",
         row_number() OVER (PARTITION BY host, service ORDER BY event_id) - 1 AS rn
  FROM ev),
g AS (
  SELECT host, service, rn // 5 AS batch_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(list_reduce(list(metric ORDER BY rn), (a, b) -> a + b) AS DOUBLE)
           AS sum_metric,
         arg_min("time", rn) AS t_first, arg_max("time", rn) AS t_last
  FROM r GROUP BY host, service, batch_id)
SELECT host, service, batch_id, n, sum_metric, t_first, t_last,
       CASE WHEN n = 5 THEN 'count' ELSE 'time' END AS reason
FROM g""",
)
def streaming_batch_drained(spark: SparkSession, sf: str) -> DataFrame:
    """The wall-clock ``batch`` op (streams.clj:1158-1185;
    streaming/stateful_ops.py streaming_batch) value-checked end to
    end: the flush TIMES are nondeterministic, but every emitted
    column is event-time-derived, so with the whole file in one
    micro-batch the drained row set is exact — count-flushes are
    consecutive event-id groups of n, and the trailing partial buffer
    flushes by timer with the same deterministic content. The query
    polls until the timer flushes land (one per key with a remainder),
    then returns the full set. Oracle: per-key event_id grouping with
    a sequential-float sum (list_reduce) matching Python's fold
    order."""
    import tempfile
    import time as _time
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_batch

    name = f"cat_sbatch_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sbatch_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_batch(normalize_events(raw), 5, 1.0)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # NO processAllAvailable: the op's processing-time timers
        # re-arm forever, so the stream never reports "nothing
        # pending" — poll the sink for the (known) complete row count
        # instead, exactly like the unit tests for these ops do.
        counts = [
            r["cnt"]
            for r in load_events(spark, sf)
            .groupBy("host", "service")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ]
        expected = sum(c // 5 + (1 if c % 5 else 0) for c in counts)
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table(name).count() >= expected:
                break
            _time.sleep(0.5)
    finally:
        q_.stop()
    return spark.table(name)


@q(
    "streaming_fill_in_last_drained",
    f"""{_EV}, pass AS (
  SELECT DISTINCT host, service, state, metric, "time",
         CAST(NULL AS VARCHAR) AS filled
  FROM ev),
lastev AS (
  SELECT host, service, state FROM (
    SELECT host, service, state,
           row_number() OVER (PARTITION BY host, service
                              ORDER BY "time" DESC, event_id DESC) AS rnk
    FROM ev) WHERE rnk = 1)
SELECT host, service, state, metric, "time", filled FROM pass
UNION ALL
SELECT host, service, state, 0.0 AS metric, CAST(NULL AS DOUBLE) AS "time",
       'fill' AS filled
FROM lastev WHERE state IS DISTINCT FROM 'expired'""",
)
def streaming_fill_in_last_drained(spark: SparkSession, sf: str) -> DataFrame:
    """fill-in-last (streams.clj:712-751; stateful_ops.py
    streaming_fill_in_last) with a relational value oracle: filler
    CADENCE is wall-clock (every interval, nondeterministic count and
    timestamps), but the filler CONTENT is a pure function of each
    key's last event — so nulling the filler timestamp and taking the
    DISTINCT row set yields exactly {{pass-through events}} ∪ {{one
    filler per non-expired key}}, which the oracle states directly.
    Polls until every key's first filler has fired."""
    import tempfile
    import time as _time
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_fill_in_last

    name = f"cat_sfill_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sfill_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_fill_in_last(normalize_events(raw), 1.0, {"metric": 0.0})
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # NO processAllAvailable (perpetually re-arming timers — see
        # streaming_batch_drained); poll until every key's first
        # filler has landed in the sink.
        expected_keys = (
            load_events(spark, sf).select("host", "service").distinct().count()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            fills = (
                spark.table(name)
                .filter(F.col("filled") == "fill")
                .select("host", "service")
                .distinct()
                .count()
            )
            if fills >= expected_keys:
                break
            _time.sleep(0.5)
    finally:
        q_.stop()
    return spark.table(name).select(
        "host",
        "service",
        "state",
        "metric",
        F.when(F.col("filled") == "fill", F.lit(None).cast("double"))
        .otherwise(F.col("time"))
        .alias("time"),
        "filled",
    ).distinct()


@q(
    "streaming_rate_closed",
    f"""{_EV}
SELECT host, service, {_BUCKET_HOUR} AS window_start,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / 3600.0 AS rate
FROM ev
GROUP BY host, service, window_start
HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0""",
)
def streaming_rate_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked streaming rate (streaming/ops.py) over the events
    file stream, append mode: only windows CLOSED by the final
    watermark (max event time − 10 s) are emitted — the reference's
    late-data drop made precise. The oracle filters the batch rate to
    the same closed-window set, so window emission semantics
    themselves are value-checked."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming import streaming_rate

    name = f"cat_srate_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="srate_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_rate(normalize_events(raw), 3600.0, watermark="10 seconds")
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_window_folds_closed",
    f"""{_EV}
SELECT service, {_BUCKET_HOUR} AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric,
       MIN(metric) AS min_metric,
       MAX(metric) AS max_metric
FROM ev
GROUP BY service, window_start
HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0""",
)
def streaming_window_folds_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked streaming fold family (streaming/ops.py
    streaming_window_folds): hourly tumbling count/sum/min/max per
    service in append mode — the streaming twin of window_folds,
    value-checked on the watermark-closed window set like
    streaming_rate_closed."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming import streaming_window_folds

    name = f"cat_swf_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="swf_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_window_folds(
        normalize_events(raw), 3600.0, keys=("service",), watermark="10 seconds"
    )
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name).select(
        "service",
        "window_start",
        F.col("n_events").cast("long").alias("n_events"),
        "sum_metric",
        "min_metric",
        "max_metric",
    )


@q(
    "streaming_percentiles_closed",
    f"""{_EV}, g AS (
  SELECT service, {_BUCKET_HOUR} AS window_start,
         quantile_cont(metric, 0.5) AS p50,
         quantile_cont(metric, 0.95) AS p95
  FROM ev GROUP BY service, window_start
  HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0
)
SELECT service, window_start, round(p50, 6) AS p50, round(p95, 6) AS p95
FROM g""",
)
def streaming_percentiles_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming percentiles (streams.clj:885-898 under a watermark):
    hourly p50/p95 per service in append mode — Spark buffers the
    window's values in state and computes the exact interpolated
    percentile at close, matching DuckDB's quantile_cont on the same
    closed-window set. State is bounded by (keys × live windows ×
    events-per-window); for heavy-hitter cardinalities switch to
    approx_percentile and a rows-only check."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.ops import with_event_timestamp

    name = f"cat_spct_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="spct_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    sdf = with_event_timestamp(normalize_events(raw)).withWatermark(
        "event_ts", "10 seconds"
    )
    agg = sdf.groupBy("service", F.window("event_ts", "3600 seconds")).agg(
        F.round(F.percentile("metric", 0.5), 6).alias("p50"),
        F.round(F.percentile("metric", 0.95), 6).alias("p95"),
    )
    out = agg.select(
        "service",
        F.col("window.start").cast("double").alias("window_start"),
        "p50",
        "p95",
    )
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_count_windows",
    f"""{_EV}, t AS (
  SELECT host, service, "time", metric,
         row_number() OVER (PARTITION BY host, service
                            ORDER BY "time", event_id) - 1 AS rn
  FROM ev
), g AS (
  SELECT host, service, rn // 5 AS window_id,
         COUNT(*) AS n,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        array_agg(COALESCE(metric, 0.0) ORDER BY rn)),
           (a, b) -> a + b) AS sum_metric,
         MIN("time") AS t_first, MAX("time") AS t_last
  FROM t GROUP BY host, service, rn // 5
)
SELECT host, service, CAST(window_id AS BIGINT) AS window_id,
       sum_metric, CAST(n AS BIGINT) AS n, t_first, t_last
FROM g WHERE n = 5""",
)
def streaming_count_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming fixed-event-window / batch-by-count flush
    (streams.clj:305-320, 1158-1185) value-checked: per-key buffers
    flush every 5 events; only COMPLETE windows emit (partials stay
    checkpointed). The oracle is the relational rank//5 grouping
    filtered to full windows, with the sum as a strict left fold over
    the time-ordered vector — bit-equal to the operator's sequential
    Python sum."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_fixed_event_window

    name = f"cat_scw_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="scw_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_fixed_event_window(normalize_events(raw), 5)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_trailing_window",
    f"""{_EV}
SELECT host, service, event_id, "time", metric,
       round(SUM(metric) OVER w, 6) AS window_sum,
       CAST(COUNT(metric) OVER w AS BIGINT) AS window_n
FROM ev
WINDOW w AS (PARTITION BY host, service ORDER BY "time", event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
)
def streaming_trailing_window(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming moving-event-window (streams.clj:292-303)
    value-checked: the per-key last-5 buffer must emit the same
    trailing sum/count as the relational rows frame at EVERY event.
    Sums rounded to 6dp on both sides (the buffer's left-fold vs the
    engine's frame-order sum differ only in the last ulp over ≤5
    terms). The fixture has no null metrics, so the buffer's
    null-skip branch is vacuous here (unit-tested separately)."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_moving_event_window

    name = f"cat_stw_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stw_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_moving_event_window(normalize_events(raw), 5)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name).select(
        "host",
        "service",
        "event_id",
        "time",
        "metric",
        F.round("window_sum", 6).alias("window_sum"),
        "window_n",
    )


@q(
    "streaming_moving_time_drained",
    f"""{_EV}
SELECT a.host, a.service,
       a.event_id AS trigger_event_id,
       b.event_id, b."time", b.metric
FROM ev a JOIN ev b
  ON a.host = b.host AND a.service = b.service
 AND (b."time" < a."time" OR (b."time" = a."time" AND b.event_id <= a.event_id))
 AND b."time" > a."time" - 1800""",
)
def streaming_moving_time_drained(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming moving-time-window (streams.clj:322-353;
    stateful_ops.streaming_moving_time_window) value-checked EXACTLY:
    the per-key horizon buffer re-emitted at every event must equal the
    relational per-key range self-join (events within 1800s at or
    before the trigger, max-event-time cutoff). No wall-clock timers,
    so with one micro-batch and the per-batch (time, event_id) sort the
    drained output is a pure function of the event sequence: in sorted
    order the ratcheted cutoff at trigger i is exactly time_i - 1800,
    which is what the oracle's range predicate states."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_moving_time_window

    name = f"cat_smtw_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="smtw_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_moving_time_window(normalize_events(raw), 1800.0)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_dedup_fingerprints",
    f"""{_EV}
SELECT DISTINCT md5(regexp_replace(lower(trim(description)), '\\s+', ' ', 'g'))
         AS fingerprint
FROM ev""",
)
def streaming_dedup_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming ingest-time exact dedup (streaming/ops.py
    streaming_dedup_exact, watermark-bounded dropDuplicates state):
    exactly ONE event per content fingerprint may pass. Which row
    represents a fingerprint is engine-arbitrary within a micro-batch,
    so the value check is at the right granularity — the emitted
    fingerprint SET, which must equal the batch distinct set."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.ops import streaming_dedup_exact

    name = f"cat_sdd_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sdd_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_dedup_exact(normalize_events(raw))
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name).select("fingerprint").distinct()


@q(
    "streaming_changed_edges",
    f"""{_EV}, s AS (
  SELECT host, service, event_id, "time", metric, state,
         LAG(state) OVER (PARTITION BY host, service
                          ORDER BY "time", event_id) AS prev
  FROM ev
)
SELECT host, service, event_id, "time", metric, state
FROM s WHERE prev IS NULL OR state IS DISTINCT FROM prev""",
)
def streaming_changed_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming changed (streams.clj:1614-1653) value-
    checked: per-key edge detection through applyInPandasWithState
    (one string of state per key, batches sorted by event time) must
    emit exactly the rows the relational lag() predicate selects.
    init=None → the first event per key always passes."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_changed

    name = f"cat_schg_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="schg_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_changed(normalize_events(raw))
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_throttle_weekly",
    f"""{_EV}, t AS (
  SELECT host, service, event_id, "time", metric,
         row_number() OVER (
           PARTITION BY host, service,
                        CAST(floor("time" / 604800.0) AS BIGINT)
           ORDER BY "time", event_id) AS rn
  FROM ev)
SELECT host, service, event_id, "time", metric FROM t WHERE rn <= 1""",
)
def streaming_throttle_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming throttle (streams.clj:1102-1118) value-
    checked: one event per [host, service] per event-time week (the fixture spans 30 days, so ~⅔ of the stream drops)
    through applyInPandasWithState (two longs of state per key) must
    equal the relational first-per-window rank. Late events for
    closed windows drop — with an in-order file source that branch is
    vacuous, so the sets match exactly."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_throttle

    name = f"cat_sthr_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sthr_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_throttle(normalize_events(raw), 1, 604800.0)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_apdex_closed",
    f"""{_EV}
SELECT service, {_BUCKET_HOUR} AS window_start,
       (SUM(CASE WHEN metric < 80.0 THEN 1 ELSE 0 END)
        + SUM(CASE WHEN NOT COALESCE(metric < 80.0, FALSE)
                    AND metric < 140.0 THEN 1 ELSE 0 END) / 2.0)
       / COUNT(*) AS apdex
FROM ev WHERE state IS DISTINCT FROM 'expired'
GROUP BY service, window_start
HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0""",
)
def streaming_apdex_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming apdex (streams.clj:2103-2157 under a watermark):
    satisfied metric<80, tolerated metric<140, hourly per service in
    append mode — the conditional-count apdex formula is algebraic,
    so it streams as an ordinary windowed aggregation; value-checked
    on the watermark-closed set like the rest of the streaming
    family."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.query import parse, to_column
    from riemann_spark.streaming.ops import with_event_timestamp

    name = f"cat_sapx_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sapx_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    sdf = with_event_timestamp(normalize_events(raw)).withWatermark(
        "event_ts", "10 seconds"
    )
    sat = to_column(parse("metric < 80.0"))
    tol = to_column(parse("metric < 140.0"))
    sdf = sdf.filter(~F.coalesce(F.col("state") == "expired", F.lit(False)))
    agg = sdf.groupBy("service", F.window("event_ts", "3600 seconds")).agg(
        (
            (
                F.sum(F.when(sat, 1).otherwise(0))
                + F.sum(
                    F.when(~F.coalesce(sat, F.lit(False)) & tol, 1).otherwise(0)
                )
                / 2.0
            )
            / F.count(F.lit(1))
        ).alias("apdex")
    )
    out = agg.select(
        "service",
        F.col("window.start").cast("double").alias("window_start"),
        "apdex",
    )
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_sessions_closed",
    f"""{_EV}, s AS (
  SELECT host, service, event_id, "time", metric,
         CASE WHEN "time" - LAG("time") OVER (PARTITION BY host, service
                                              ORDER BY "time", event_id) > 900.0
              THEN 1 ELSE 0 END AS brk
  FROM ev
), g AS (
  SELECT host, service, event_id, "time", metric,
         SUM(brk) OVER (PARTITION BY host, service ORDER BY "time", event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
), agg AS (
  SELECT host, service,
         MIN("time") AS session_start,
         MAX("time") + 900.0 AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric
  FROM g GROUP BY host, service, sid
)
SELECT * FROM agg
WHERE session_end <= (SELECT MAX("time") FROM ev) - 10.0""",
)
def streaming_sessions_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Native streaming session windows (streaming/ops.py
    streaming_sessions, F.session_window): gap-900s activity sessions
    per [host, service] over the events file stream, append mode —
    each session emitted exactly once when the watermark passes
    last-event + gap. The oracle is the BATCH sessionization
    (lag/cumsum gaps-and-islands) filtered to the same closed set, so
    the merge + close semantics of the session-window state machine
    are value-checked against relational logic."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.ops import streaming_sessions

    name = f"cat_ssess_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ssess_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_sessions(normalize_events(raw), 900.0, watermark="10 seconds")
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


# ------------------------------------------------- round-2 additions

@q(
    "fold_quotient",
    f"""{_EV}, f AS (
  SELECT host, service, metric AS first_metric FROM (
    SELECT host, service, metric,
           row_number() OVER (PARTITION BY host, service
                              ORDER BY "time", event_id) AS rn
    FROM ev) WHERE rn = 1
), g AS (
  SELECT host, service,
         MAX(CASE WHEN metric <= 0 THEN 1 ELSE 0 END) AS any_bad,
         -- guard INSIDE the aggregate: DuckDB evaluates ln() on every
         -- row before the outer CASE can null the group, so a single
         -- zero metric anywhere errors the whole query (surfaced by
         -- the round-8 full-catalog sweep at sf0.1)
         SUM(CASE WHEN metric > 0 THEN ln(metric) END) AS sum_ln
  FROM ev GROUP BY host, service
)
SELECT g.host, g.service,
       CASE WHEN g.any_bad = 1 THEN NULL
            ELSE round(exp(2.0 * ln(f.first_metric) - g.sum_ln), 6)
       END AS quotient
FROM g JOIN f USING (host, service)""",
)
def fold_quotient_q(spark: SparkSession, sf: str) -> DataFrame:
    """quotient fold (folds.clj:128-154): first ÷ Π(rest) as
    exp(2·ln(first) − Σ ln) — partial-agg-able like fold_product; any
    metric ≤ 0 → NULL (the reference throws to the exception stream).
    Rounded to 6dp for log-sum order drift."""
    from riemann_spark.operators.folds import fquotient

    ev = load_events(spark, sf)
    return ev.groupBy("host", "service").agg(
        F.round(fquotient("metric"), 6).alias("quotient")
    )


@q(
    "fold_mode",
    f"""{_EV}, c AS (
  SELECT host, service, round(metric) AS v, COUNT(*) AS n
  FROM ev WHERE metric IS NOT NULL GROUP BY host, service, round(metric)
)
SELECT host, service, v AS mode FROM (
  SELECT host, service, v,
         row_number() OVER (PARTITION BY host, service
                            ORDER BY n DESC, v ASC) AS rn
  FROM c) WHERE rn = 1""",
)
def fold_mode_q(spark: SparkSession, sf: str) -> DataFrame:
    """mode fold (folds.clj:166-184) over rounded metrics, with the
    documented deterministic tie rule: most frequent value, ties →
    smallest (the reference's mode picks an arbitrary max of the
    frequency map; a fixed tie-break is required for a reproducible
    distributed answer). Counts-then-argmax — two shuffles on
    [host,service(,v)], no collected vectors."""
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    counts = ev.groupBy("host", "service", F.round("metric").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("host", "service").orderBy(
        F.col("n").desc(), F.col("v").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("host", "service", F.col("v").alias("mode"))
    )


@q(
    "smapcat_tags",
    f"""{_EV}
SELECT event_id, unnest(tags) AS tag FROM ev""",
)
def smapcat_tags(spark: SparkSession, sf: str) -> DataFrame:
    """smapcat (streams.clj:177-189): map each event to a sequence of
    derived events and flatten — here event → one event per tag. Pure
    transform+explode: no shuffle, fuses with the scan."""
    ev = load_events(spark, sf)
    per_tag = F.transform(
        F.col("tags"),
        lambda t: F.struct(F.col("event_id").alias("event_id"), t.alias("tag")),
    )
    return stateless.smapcat(ev, per_tag, alias="e").select("e.event_id", "e.tag")


@q(
    "sflatten_regroup",
    f"""{_EV}
SELECT event_id, service, metric FROM ev""",
)
def sflatten_regroup(spark: SparkSession, sf: str) -> DataFrame:
    """sflatten (streams.clj:191-204): vectors-of-events back to an
    event stream. Round-trip: collect each host's events into one
    vector row (what a fixed-event-window emits), then sflatten
    restores the original stream exactly."""
    ev = load_events(spark, sf)
    vecs = ev.groupBy("host").agg(
        F.collect_list(F.struct("event_id", "service", "metric")).alias("events")
    )
    return stateless.sflatten(vecs, "events")


@q(
    "opentsdb_roundtrip",
    """
WITH lines AS (
  SELECT 'put ' || event_type || ' '
         || CAST(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS VARCHAR)
         || ' ' || CAST(CAST(value AS DECIMAL(20,2)) AS VARCHAR)
         || ' host=' || CAST(user_id AS VARCHAR) AS line
  FROM events
), p AS (
  SELECT regexp_split_to_array(trim(line), '\\s+') AS parts FROM lines
)
SELECT split_part(parts[5], '=', 2) AS host,
       parts[2] AS service,
       TRY_CAST(parts[4] AS DOUBLE) AS metric,
       TRY_CAST(parts[3] AS DOUBLE) AS time
FROM p WHERE parts[1] = 'put'""",
)
def opentsdb_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """OpenTSDB telnet put round-trip (transport/opentsdb.clj parser
    :24-77, server :120-145): events encoded to put lines, parsed back
    through the Column-only parser — host restored from the host= tag,
    proving the tag-to-host mapping without a socket."""
    from riemann_spark.sources import opentsdb_lines_to_events
    from riemann_spark.sources.opentsdb import events_to_opentsdb_lines

    ev = load_events(spark, sf)
    lines = events_to_opentsdb_lines(ev)
    return opentsdb_lines_to_events(lines).select("host", "service", "metric", "time")


@q(
    "deps_algebra",
    f"""{_EV}, latest AS ({_LATEST_SQL})
SELECT e.event_id, e.host, e.service,
       (CASE WHEN e.service = 'purchase' THEN
          EXISTS (SELECT 1 FROM latest i
                  WHERE i.service = 'signup' AND i.state = 'ok')
          OR EXISTS (SELECT 1 FROM latest i
                     WHERE i.service = 'view' AND i.state = 'ok')
        ELSE TRUE END)
       AND
       (CASE WHEN e.service = 'error' THEN
          (EXISTS (SELECT 1 FROM latest i
                   WHERE i.host = e.host AND i.service = 'click'
                     AND i.state = 'ok')
           OR EXISTS (SELECT 1 FROM latest i
                      WHERE i.host = e.host AND i.service = 'view'
                        AND i.state = 'ok'))
          AND EXISTS (SELECT 1 FROM latest i
                      WHERE i.host = e.host AND i.service = 'signup')
        ELSE TRUE END) AS deps_satisfied
FROM ev e""",
)
def deps_algebra(spark: SparkSession, sf: str) -> DataFrame:
    """Nested deps rule (deps.clj:24-80, the deps_test.clj real-match
    shape): all(depends(purchase, any(signup ok, view ok)),
    depends(error, localhost(any(click ok, view ok), any(signup)))).
    Leaf map-rules aggregate the index to per-host booleans ONCE
    (broadcast join); the rule tree itself is pure codegen — no
    per-event index probes, no shuffle of the event stream."""
    from riemann_spark.operators import deps as D

    ev = load_events(spark, sf)
    idx = index.build_index(ev)
    rule = D.all(
        D.depends(
            {"service": "purchase"},
            D.any_(
                {"service": "signup", "state": "ok"},
                {"service": "view", "state": "ok"},
            ),
        ),
        D.depends(
            {"service": "error"},
            D.localhost(
                D.any_(
                    {"service": "click", "state": "ok"},
                    {"service": "view", "state": "ok"},
                ),
                D.any_({"service": "signup"}),
            ),
        ),
    )
    return D.deps_tag(ev, idx, rule).select(
        "event_id", "host", "service", "deps_satisfied"
    )


@q(
    "index_delete_cohort",
    f"""{_EV}, latest AS ({_LATEST_SQL}),
cmds AS (SELECT DISTINCT host FROM latest
         WHERE service = 'error' AND metric > 180.0)
SELECT host, service, metric, event_id
FROM latest ANTI JOIN cmds USING (host)""",
)
def index_delete_cohort(spark: SparkSession, sf: str) -> DataFrame:
    """delete-from-index by field match (core.clj:256-273): every host
    whose latest error reading exceeds 180 has its ENTIRE cohort of
    keys deleted. Command set is deduplicated to its match fields and
    broadcast anti-joined — the index never reshuffles."""
    ev = load_events(spark, sf)
    idx = index.build_index(ev)
    cmds = idx.filter((F.col("service") == "error") & (F.col("metric") > 180.0))
    survivors = index.delete_from_index(idx, cmds, fields=("host",))
    return survivors.select("host", "service", "metric", "event_id")


@q(
    "fold_generic",
    f"""{_EV}
SELECT host, service,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
                      list_sort(array_agg(metric))),
         (acc, x) -> 0.5 * acc + 0.5 * x) AS folded
FROM ev WHERE metric IS NOT NULL GROUP BY host, service""",
)
def fold_generic_q(spark: SparkSession, sf: str) -> DataFrame:
    """Generic sequential fold (folds.clj:60-90 fold/fold*): an
    order-SENSITIVE user merge (exponential smoothing acc/2 + x/2)
    left-folded over the sorted metric vector — F.aggregate and
    DuckDB's list_reduce are both strict left folds over the same
    sorted order, so the doubles agree bit-for-bit."""
    from riemann_spark.operators.folds import fold_metrics

    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    folded = F.aggregate(
        F.array_sort(F.collect_list("metric")),
        F.lit(0.0),
        lambda acc, x: F.lit(0.5) * acc + F.lit(0.5) * x,
    )
    return ev.groupBy("host", "service").agg(folded.alias("folded"))


@q(
    "fold_quotient_take5",
    f"""{_EV}, g AS (
  SELECT service, 1.0 + metric / 1000.0 AS x,
         ROW_NUMBER() OVER (PARTITION BY service
                            ORDER BY "time", event_id) AS rn
  FROM ev WHERE metric IS NOT NULL
)
, a AS (
  SELECT service,
         MAX(CASE WHEN rn = 1 THEN x END) AS first_x,
         MAX(CASE WHEN x <= 0 THEN 1 ELSE 0 END) AS any_bad,
         SUM(CASE WHEN x > 0 THEN ln(x) END) AS sum_ln
  FROM g WHERE rn <= 5 GROUP BY service
)
SELECT service,
       round(CASE WHEN any_bad = 1 THEN NULL
             ELSE exp(2 * ln(CASE WHEN any_bad = 0 AND first_x > 0
                             THEN first_x ELSE 1.0 END) - sum_ln)
             END, 6) AS quotient
FROM a""",
)
def fold_quotient_take5_q(spark: SparkSession, sf: str) -> DataFrame:
    """quotient fold (folds.clj:128-154) exercising folds.fquotient
    DIRECTLY over each service's first five events — the reference's
    actual regime (folds see small window vectors), complementing the
    whole-group relational variant above. Any non-positive operand
    nulls the group — the reference routes that divide-by-zero to the
    exception stream. exp/ln drift is below the 6dp rounding."""
    from riemann_spark.operators.folds import fquotient

    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    w = Window.partitionBy("service").orderBy("time", "event_id")
    five = (
        ev.withColumn("x", F.lit(1.0) + F.col("metric") / 1000.0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
    )
    return five.groupBy("service").agg(
        F.round(fquotient("x"), 6).alias("quotient")
    )


@q(
    "fold_mode_hourly",
    f"""{_EV}, b AS (
  SELECT service,
         CAST(FLOOR("time" / 3600.0) * 3600 AS BIGINT) AS hour,
         CAST(FLOOR(metric / 10.0) AS BIGINT) AS mb
  FROM ev WHERE metric IS NOT NULL
), c AS (
  SELECT service, hour, mb, COUNT(*) AS n FROM b GROUP BY service, hour, mb
), r AS (
  SELECT service, hour, mb,
         ROW_NUMBER() OVER (PARTITION BY service, hour
                            ORDER BY n DESC, mb ASC) AS rn
  FROM c
)
SELECT service, hour, mb AS mode_bucket FROM r WHERE rn = 1""",
)
def fold_mode_hourly_q(spark: SparkSession, sf: str) -> DataFrame:
    """mode fold (folds.clj:166-184) exercising folds.fmode (the
    collected-vector fold with the deterministic ties → smallest
    rule) over metrics quantized to 10-wide buckets per (service,
    hour) window — hourly windows bound the vector like the
    reference's windowed folds; the whole-group variant above is the
    scale path. The oracle states the same rule relationally."""
    from riemann_spark.operators.folds import fmode

    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    df = ev.select(
        "service",
        (F.floor(F.col("time") / 3600.0) * 3600).cast("long").alias("hour"),
        F.floor(F.col("metric") / 10.0).cast("long").alias("mb"),
    )
    return df.groupBy("service", "hour").agg(fmode("mb").alias("mode_bucket"))


@q(
    "sreduce_runmax",
    f"""{_EV}
SELECT host, service, event_id,
       MAX(metric) OVER (PARTITION BY host, service
                         ORDER BY "time", event_id
                         ROWS UNBOUNDED PRECEDING) AS acc
FROM ev""",
)
def sreduce_runmax(spark: SparkSession, sf: str) -> DataFrame:
    """sreduce (streams.clj:206-250): running user-fn reduce per key
    emitting every intermediate accumulator — here fn=max, init=-inf,
    via the applyInPandas escape hatch (Arrow-batched per-key groups).
    The oracle is the equivalent running-max window."""
    from riemann_spark.functions.udfs import sreduce_pandas

    ev = load_events(spark, sf)
    out = sreduce_pandas(
        ev, lambda acc, v: v if acc is None else max(acc, v), None
    )
    return out.select("host", "service", "event_id", "acc")


@q(
    "ewma_r01",
    f"""{_EV}, g AS (
  SELECT host, service,
         array_agg(metric ORDER BY "time", event_id) AS xs,
         array_agg(event_id ORDER BY "time", event_id) AS ids
  FROM ev GROUP BY host, service
), x AS (
  SELECT host, service, xs, ids, unnest(generate_series(1, len(xs))) AS j
  FROM g
)
SELECT ids[j] AS event_id, host, service,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE), list_slice(xs, 1, j)),
         (acc, x) -> 0.1 * x + 0.9 * acc) AS ewma
FROM x""",
)
def ewma_r01(spark: SparkSession, sf: str) -> DataFrame:
    """ewma-timeless at a GENERIC r (0.1), bit-exact for any stream
    length: both engines run the identical left fold of the reference
    recursion (no pow(), whose last-ulp libm differences broke hash
    parity). The production bulk path is the auto-scaled bounded
    window (ewma_timeless, advisor fix: 263 terms at r=0.1) and
    streaming_ewma; this oracle pins the exact semantics they
    approximate."""
    ev = load_events(spark, sf)
    return analytics.ewma_timeless_exact(ev, 0.1).select(
        "event_id", "host", "service", "ewma"
    )


@q(
    "asof_enrich",
    f"""{_EV},
l AS (SELECT event_id, host, time_us, metric FROM ev WHERE service = 'click'),
rsrc AS (SELECT host, time_us, arg_max(metric, event_id) AS r_metric
         FROM ev WHERE service = 'purchase' GROUP BY host, time_us)
SELECT l.event_id, l.host, l.time_us, l.metric,
       r.r_metric AS asof_metric, r.time_us AS asof_time_us
FROM l ASOF LEFT JOIN rsrc r ON l.host = r.host AND l.time_us >= r.time_us""",
)
def asof_enrich_q(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time enrichment: each click event joined to the
    host's most recent purchase at-or-before its time (the replayed
    form of the reference's read-the-live-index-at-arrival semantics,
    deps.clj:24-80). Spark side = union + keyed window with
    last(ignorenulls) carry-forward (operators/asof.py, one shuffle);
    oracle = DuckDB's native ASOF LEFT JOIN — two entirely different
    algorithms, same fixpoint."""
    from riemann_spark.operators.asof import asof_enrich

    ev = load_events(spark, sf)
    clicks = ev.filter(F.col("service") == "click").select(
        "event_id", "host", "time_us", "metric"
    )
    purchases = ev.filter(F.col("service") == "purchase").select(
        "event_id", "host", "time_us", "metric"
    )
    return asof_enrich(clicks, purchases, keys=("host",))


@q(
    "sessionize",
    f"""{_EV},
s AS (SELECT host, event_id, time_us, metric,
        CASE WHEN lag(time_us) OVER w IS NULL
                  OR time_us - lag(time_us) OVER w > 1800000000
             THEN 1 ELSE 0 END AS nw
      FROM ev WINDOW w AS (PARTITION BY host ORDER BY time_us, event_id)),
sid AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY host ORDER BY time_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM s)
SELECT host, session_id,
       MIN(time_us) AS t_start, MAX(time_us) AS t_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric
FROM sid GROUP BY host, session_id""",
)
def sessionize_q(spark: SparkSession, sf: str) -> DataFrame:
    """30-minute-gap activity sessions per host (gaps-and-islands):
    span, size, exact-decimal metric sum. Single Exchange — the lag
    pass and the session aggregate share the host partitioning."""
    ev = load_events(spark, sf)
    return windows.sessionize(ev, 1800.0)


@q(
    "streaming_coalesce_drained",
    f"""{_EV}
SELECT host, service, state, metric, "time" FROM (
  SELECT host, service, state, metric, "time",
         row_number() OVER (PARTITION BY host, service
                            ORDER BY "time" DESC, event_id DESC) AS rn
  FROM ev) WHERE rn = 1""",
)
def streaming_coalesce_drained(spark: SparkSession, sf: str) -> DataFrame:
    """coalesce (streams.clj:1209-1241; stateful_ops.streaming_coalesce)
    value-checked: snapshot CADENCE is wall-clock, but snapshot CONTENT
    is each key's remembered latest event — with the whole file in one
    micro-batch the state is final before any timer fires, so the
    DISTINCT drained row set is exactly the latest event per
    [host, service]. Polls until every key's first snapshot lands."""
    import tempfile
    import time as _time
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_coalesce

    name = f"cat_scoal_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="scoal_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    stream = streaming_coalesce(normalize_events(normalize_ts(raw, "ts")), 1.0)
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        expected_keys = (
            load_events(spark, sf).select("host", "service").distinct().count()
        )
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if (
                spark.table(name).select("host", "service").distinct().count()
                >= expected_keys
            ):
                break
            _time.sleep(0.5)
    finally:
        q_.stop()
    return spark.table(name).distinct()


@q(
    "streaming_top_drained",
    f"""{_EV}, r AS (
  SELECT host, service, "time", CAST(event_id AS DOUBLE) AS metric,
         row_number() OVER (ORDER BY event_id) AS pos
  FROM ev WHERE event_id % 3 = 0),
n AS (
  SELECT *, lead(pos) OVER (PARTITION BY host, service ORDER BY pos) AS next_pos
  FROM r),
-- last-occurrence-per-key events before each event i: exactly the keys
-- alive at i, ranked by recency; rnk <= 10 is the top set before i
c AS (
  SELECT i.pos AS ipos, i.host AS ih, i.service AS isvc,
         j.host AS jh, j.service AS jsvc, j.metric AS jm, j."time" AS jt,
         row_number() OVER (PARTITION BY i.pos ORDER BY j.pos DESC) AS rnk,
         count(*) OVER (PARTITION BY i.pos) AS n_before
  FROM n i JOIN n j
    ON j.pos < i.pos AND (j.next_pos IS NULL OR j.next_pos >= i.pos)),
intop AS (
  SELECT DISTINCT ipos FROM c WHERE jh = ih AND jsvc = isvc AND rnk <= 10),
bump AS (
  SELECT jh AS host, jsvc AS service, jm AS metric, jt AS "time"
  FROM c WHERE rnk = 10 AND n_before >= 10
    AND ipos NOT IN (SELECT ipos FROM intop))
SELECT host, service, metric, "time", 'top' AS stream, 'ok' AS state FROM r
UNION ALL
SELECT host, service, metric, "time", 'bottom', 'expired' FROM r
UNION ALL
SELECT host, service, metric, "time", 'top', 'expired' FROM bump
UNION ALL
SELECT host, service, metric, "time", 'bottom', 'ok' FROM bump""",
)
def streaming_top_drained(spark: SparkSession, sf: str) -> DataFrame:
    """top k=10 with demotion (streams.clj:1015-1100;
    stateful_ops.streaming_top) — a FULL value oracle for the dual
    top/bottom emission log. streaming_top has no wall-clock timers, so
    with one micro-batch and the per-batch event_id sort its output is
    a pure function of the event sequence. Metric is remapped to
    event_id (strictly increasing), under which the sequential top-k
    admits a closed relational form: every event enters the top set,
    membership before event i is the 10 most recently seen distinct
    keys, and the bumped key is the 10th-most-recent — each computable
    from last-occurrence ranks (the ``c`` self-join in the oracle).
    Input thinned to event_id % 3 = 0 to stay inside the operator's
    single-group max_batch_rows contract at bench scale."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_top

    name = f"cat_stop_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stop_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    ev = (
        normalize_events(normalize_ts(raw, "ts"))
        .filter(F.col("event_id") % 3 == 0)
        .withColumn("metric", F.col("event_id").cast("double"))
    )
    q_ = (
        streaming_top(ev, 10)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "tpch_q3",
    """
SELECT l.l_orderkey,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0)
                AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l.l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10""",
)
def tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): segment-filtered customer joins into
    orders, date ranges pushed to both fact scans, one orderkey
    shuffle, then TakeOrdered for the top 10 — no global sort. The
    (revenue, date, orderkey) order is a total order, so the LIMIT is
    deterministic across engines."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(msum(rev, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@q(
    "tpch_q5",
    """
SELECT n.n_name,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0)
                AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name""",
)
def tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 proper, including the
    customer-nation = supplier-nation locality condition that
    regional_revenue omits). Only nation/region hint broadcast (fixed
    25/5 rows); supplier and customer scale with SF, so those joins
    are AQE's runtime call (still broadcast at fixture SF). The fact
    shuffles are orders⋈lineitem on orderkey, then the final 5-row
    nation aggregate."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    sd = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            sd,
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(msum(rev, 4).alias("revenue"))
    )


@q(
    "tpch_q6",
    """
SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 1000000.0)
                AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24.0""",
)
def tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6): the pure scan-aggregate —
    every predicate reaches the parquet scan as a PushedFilter, no
    join, no shuffle beyond the single-row final agg. The canonical
    'is pushdown working' probe at 100 TB: the scan should read three
    row-group-pruned columns and nothing else."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        msum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@q(
    "tpch_q18",
    """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250.0)
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey""",
)
def tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): the quantity rollup
    is one map-side-combinable orderkey shuffle whose HAVING filter
    shrinks it to the ~1% tail BEFORE the orders join, so the join
    input is tiny (AQE broadcasts it); the customer join is likewise
    AQE's call (customer scales with SF — no hint).
    Quantities are small integers — SUM(double) is exact well below
    2^53 in both engines."""
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return (
        big.join(o, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@q(
    "tpch_q7",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3""",
)
def tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    """Volume shipping between two nations (TPC-H Q7 shape): only
    nation carries a broadcast HINT (25 rows at every SF); supplier
    and customer grow linearly with SF, so their joins are left to
    AQE — broadcast when the runtime size fits, shuffle when not.
    The big-side shuffles are lineitem joining orders on orderkey and
    orders joining customer on custkey. The nation-pair disjunction is applied after
    both nation names are attached — Catalyst pushes each equality
    into the dim scans as an IN (NATION_1, NATION_2) prefilter."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    j = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(msum(rev, 4).alias("revenue"))


@q(
    "tpch_q8",
    """
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                THEN CAST(round(volume * 10000.0) AS BIGINT) ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(round(volume * 10000.0) AS BIGINT)) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1.0 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) GROUP BY o_year""",
)
def tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): nation/region hint
    broadcast (fixed 25/5 rows); part and supplier scale with SF, so
    their join strategy is AQE's runtime call. The two data-sized
    shuffles are lineitem joining orders and orders joining customer. The share
    division happens on quantized integer sums so both engines divide
    the same exact numerator/denominator. o_year stays INT on the
    Spark side (driver normalizes int widths)."""
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("n2_key")
    )
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf, "customer")
    li = load_table(spark, sf, "lineitem")
    j = (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
    )
    vol_q = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10000.0)
    ).cast("long")
    nat = F.when(F.col("supp_nation") == "NATION_3", vol_q).otherwise(F.lit(0))
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        (
            F.sum(nat).cast("decimal(38,0)").cast("double")
            / F.sum(vol_q).cast("decimal(38,0)").cast("double")
        ).alias("mkt_share")
    )


@q(
    "tpch_q9",
    """
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE 'red%'
GROUP BY 1, 2""",
)
def tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape; no partsupp table in this
    data, so profit omits supplycost — the plan shape is the point):
    the selective p_name LIKE prefilter shrinks part before its join
    (AQE broadcasts the shrunken side when it fits — no hint, because
    part scales with SF); nation hints broadcast (25 rows forever);
    at small SF every join resolves to BHJ and lineitem reaches the
    final 2-key aggregate without shuffling."""
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    li = load_table(spark, sf, "lineitem")
    j = (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
    )
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("l_shipdate").cast("long").alias("o_year"),
    ).agg(msum(profit, 4).alias("sum_profit"))


@q(
    "tpch_q10",
    """
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): returnflag and the
    quarter filter push into the scans; lineitem joins the filtered
    orders on orderkey (AQE broadcasts the quarter slice when it
    fits), customer attaches by custkey, nation broadcasts; the final
    TopK is TakeOrdered over the grouped revenue — no global sort."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(msum(rev, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@q(
    "tpch_q13",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count""",
)
def tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): the
    non-join predicate rides the LEFT JOIN condition (kept customers
    with zero matching orders still appear with c_count 0). Shuffles:
    one custkey exchange for the join+count, then a tiny histogram
    aggregate over at most |distinct counts| groups."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@q(
    "tpch_q15",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)""",
)
def tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): the revenue rollup is one
    map-side-combinable suppkey shuffle producing |suppliers| rows;
    the scalar MAX is a one-row aggregate joined back by value (the
    one-row side hints broadcast; the supplier join is AQE's call —
    supplier scales with SF) — no window-over-everything, no second
    scan of lineitem."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        msum(rev, 4).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("__mx"))
    s = load_table(spark, sf, "supplier")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("__mx"))
        .join(s, s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "tpch_q17",
    """
SELECT CAST(SUM(CAST(round(l.l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (SELECT l_partkey, 0.2 * (CAST(SUM(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*)) AS qty_limit
      FROM lineitem GROUP BY l_partkey) a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND l.l_quantity < a.qty_limit""",
)
def tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): the correlated
    AVG becomes a per-partkey pre-aggregate (map-side combinable,
    |parts| rows out) joined back to lineitem on partkey — the
    classic decorrelation; the brand-filtered part side is AQE's
    broadcast call (part scales with SF — no hint). Average
    is computed as exact-sum / count so both engines divide identical
    doubles."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    lim = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * (msum("l_quantity", 2) / F.count(F.lit(1)))).alias("qty_limit")
    )
    j = (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(lim, F.col("a_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
    )
    return j.agg((msum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"))


@q(
    "tpch_q19",
    """
SELECT CAST(SUM(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 21)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)""",
)
def tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    """Discounted-revenue disjunction (TPC-H Q19 shape): the brand
    IN-filter prefilters part to three brands before the partkey join
    (AQE broadcasts the shrunken side when it fits; no hint — part
    scales with SF); the mixed part/lineitem residual evaluates after
    the join inside codegen. Single aggregate row out."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#13", "Brand#25")
    )
    j = li.join(p, p.p_partkey == li.l_partkey)
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (qty >= 1) & (qty <= 21)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & (qty >= 10) & (qty <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 35)
            & (qty >= 20) & (qty <= 40)
        )
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j.filter(cond).agg(msum(rev, 4).alias("revenue"))


@q(
    "tpch_q22",
    """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS v
  FROM customer WHERE c_acctbal > 0.0)
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(round(c.c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.v
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment""",
)
def tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape; mktsegment stands in
    for the absent phone country code; the anti-join side is orders filtered
    to urgent priority, standing in for the 7-year recency window):
    the scalar average broadcasts
    as a one-row frame; NOT EXISTS is a LEFT ANTI join on custkey
    (one shuffle each side — at 100 TB, orders projects down to the
    single o_custkey column before the exchange); final aggregate is
    |segments| rows."""
    c = load_table(spark, sf, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((msum("c_acctbal", 2) / F.count(F.lit(1))).alias("v"))
    )
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("v"), "inner")
    no_orders = rich.join(o, o.o_custkey == rich.c_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        msum("c_acctbal", 2).alias("totacctbal"),
    )


@q(
    "tpch_q2",
    """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(MIN(CAST(round(l_extendedprice / l_quantity * 10000.0) AS BIGINT))
           AS DOUBLE) / 10000.0 AS unit_cost
  FROM lineitem GROUP BY 1, 2),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
cand AS (
  SELECT c.l_partkey AS pk, e.s_name, e.s_acctbal, e.n_name, c.unit_cost,
         row_number() OVER (PARTITION BY c.l_partkey
                            ORDER BY c.unit_cost, c.l_suppkey) AS rn
  FROM cost c JOIN eu e ON c.l_suppkey = e.s_suppkey)
SELECT cand.s_acctbal, cand.s_name, cand.n_name,
       p.p_partkey, p.p_type, cand.unit_cost
FROM cand JOIN part p ON cand.pk = p.p_partkey AND p.p_size = 15
WHERE rn = 1
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100""",
)
def tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum-cost-supplier (TPC-H Q2 shape; lineitem stands in for
    the absent partsupp as the part↔supplier link, min unit price for
    supplycost): the correlated MIN subquery realized as a per-part
    window over EUROPEAN candidates — rank computed BEFORE the part-dim
    join, so the window input is the (part,supplier) aggregate, never
    the fact table. Unit costs quantized to 10^-4 so the MIN and the
    tie-break are bit-identical across engines; total order on the
    output makes the LIMIT deterministic."""
    li = load_table(spark, sf, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.min(
                F.round(F.col("l_extendedprice") / F.col("l_quantity") * 10000.0)
                .cast("long")
            ).cast("double")
            / 10000.0
        ).alias("unit_cost")
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    cand = (
        cost.join(eu, cost.l_suppkey == eu.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    p = load_table(spark, sf, "part").filter(F.col("p_size") == 15)
    return (
        cand.join(p, cand.l_partkey == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@q(
    "tpch_q11",
    """
WITH eu_li AS (
  SELECT l.l_partkey, l.l_extendedprice
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'),
v AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
           / 100.0 AS value
  FROM eu_li GROUP BY 1),
t AS (
  SELECT CAST(SUM(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total
  FROM eu_li)
SELECT v.l_partkey AS p_partkey, v.value
FROM v, t
WHERE v.value > t.total * 0.001
ORDER BY v.value DESC, p_partkey""",
)
def tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    """Important-stock (TPC-H Q11 shape; lineitem value per part from
    European suppliers stands in for ps_supplycost*ps_availqty): the
    HAVING-against-scalar-subquery realized as a one-row broadcast
    joined into the per-part aggregate. Both the per-part values and
    the grand total sum exact cent-quantized integers, so the
    threshold comparison is engine-exact. One lineitem shuffle on
    partkey; the supplier/nation/region chain broadcasts."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_li = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "l_extendedprice")
    )
    v = eu_li.groupBy("l_partkey").agg(msum("l_extendedprice", 2).alias("value"))
    t = eu_li.agg(msum("l_extendedprice", 2).alias("total"))
    return (
        v.join(F.broadcast(t))
        .filter(F.col("value") > F.col("total") * 0.001)
        .select(F.col("l_partkey").alias("p_partkey"), "value")
        .orderBy(F.desc("value"), "p_partkey")
    )


@q(
    "tpch_q20",
    """
WITH qty AS (
  SELECT l.l_suppkey,
         CAST(SUM(CAST(round(l.l_quantity * 100.0) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total_qty
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'small%'
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1)
SELECT s.s_name, s.s_acctbal, q.total_qty
FROM supplier s
JOIN qty q ON s.s_suppkey = q.l_suppkey AND q.total_qty > 100.0
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
ORDER BY s_name""",
)
def tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    """Excess-stock suppliers (TPC-H Q20 shape; shipped quantity of
    'small%' parts in 1997 stands in for the availqty threshold): the
    nested-IN chain realized as filter-pushdown joins — part name
    filter broadcasts into the lineitem scan, date range pushed to the
    parquet scan, one suppkey aggregate, then the supplier/nation/
    region semi-chain over the (tiny) qualifying-supplier set."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("small%"))
    qty = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(msum("l_quantity", 2).alias("total_qty"))
        .filter(F.col("total_qty") > 100.0)
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(qty, s.s_suppkey == qty.l_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_name", "s_acctbal", "total_qty")
        .orderBy("s_name")
    )


@q(
    "tpch_q21",
    """
WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
lo AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM li l JOIN orders o ON l.l_orderkey = o.o_orderkey
                         AND o.o_orderstatus = 'F'
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  GROUP BY 1, 2),
late_cnt AS (SELECT l_orderkey, COUNT(*) AS n_late FROM lo GROUP BY 1),
sup_cnt AS (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_sup
            FROM li GROUP BY 1)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lo
JOIN late_cnt USING (l_orderkey)
JOIN sup_cnt USING (l_orderkey)
JOIN supplier s ON lo.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
WHERE n_late = 1 AND n_sup >= 2
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100""",
)
def tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (TPC-H Q21 shape; 'late' =
    shipped >60 days after the order date, standing in for the absent
    receipt/commit dates): the EXISTS realized as a LEFT SEMI join
    against multi-supplier orders; the NOT EXISTS (no OTHER late
    supplier on the order) as a count-over-window == 1 on the distinct
    late-pair table — on distinct (orderkey, suppkey) pairs, "no other
    supplier's pair exists" is exactly "this order has one late pair".
    Still a different algorithm from the oracle's groupBy-count-join
    formulation, same fixpoint. r14 optimization (guide §2.4): the
    previous LEFT ANTI self-join computed the full lineitem⋈orders
    late-pair subtree TWICE (both SMJ sides) — the window form builds
    it once, and the explicit orderkey repartition is reused by the
    distinct AND the window (orderkey hash-clusters (orderkey,
    suppkey)), so two exchanges and a whole subtree drop out: 7
    Exchange / 2 lineitem⋈orders passes → 4 / 1."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .repartition("l_orderkey")  # serves distinct AND the window
        .distinct()
    )
    # EXISTS another supplier on the order → semi join
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_sup"))
        .filter(F.col("n_sup") >= 2)
        .select("l_orderkey")
    )
    waiting = lo.join(multi, "l_orderkey", "left_semi")
    # NOT EXISTS another LATE supplier → exactly one distinct late
    # pair on the order (count over the orderkey window)
    sole = (
        waiting.withColumn(
            "__n_late", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("__n_late") == 1)
        .drop("__n_late")
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    return (
        sole.join(s, sole.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@q(
    "attribute_search",
    f"""{_EV}
SELECT service, state,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric) AS mean_metric
FROM ev
WHERE CAST(json_extract_string(description, '$.k') AS INT) BETWEEN 40 AND 60
GROUP BY service, state""",
)
def attribute_search(spark: SparkSession, sf: str) -> DataFrame:
    """Custom-attribute query (riemann events carry arbitrary
    key/value attributes, query.clj grammar matches on them; here the
    open attribute rides the description JSON): parse once into the
    MapType attributes column, filter on the typed value, aggregate.
    The JSON parse is a per-row projection fused with the scan — the
    attribute filter costs zero extra passes and the groupBy is the
    only shuffle."""
    from riemann_spark.operators.folds import dmean

    ev = load_events(spark, sf, with_attributes=True)
    k = F.col("attributes").getItem("k").cast("int")
    return (
        ev.filter(k.between(40, 60))
        .groupBy("service", "state")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmean("metric").alias("mean_metric"),
        )
    )


@q(
    "percentiles_histogram",
    f"""{_EV},
hist AS (SELECT service,
           CAST(greatest(0, least(255, floor(metric * 256.0 / 512.0))) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM ev GROUP BY 1, 2),
cum AS (SELECT service, bucket,
               SUM(cnt) OVER (PARTITION BY service ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY service) AS total
        FROM hist),
qq AS (SELECT service, bucket, cum, total, unnest([0.5, 0.95, 0.99]) AS q FROM cum)
SELECT service, q, 0.0 + (MIN(bucket) + 1) * 2.0 AS est
FROM qq WHERE cum >= greatest(1, CAST(ceil(q * total) AS BIGINT))
GROUP BY service, q""",
)
def percentiles_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles from a fixed-grid histogram sketch
    (riemann's percentiles over sorted windows, streams.clj:885-898,
    re-expressed with bounded state): per service the sketch is at
    most 256 (bucket, count) rows NO MATTER the event volume, merges
    by adding counts (partial-agg friendly, streaming friendly), and
    answers p50/p95/p99 within one 2.0-wide grid step. The exact
    percentile path (percentiles_day) sorts real values; this is the
    100 TB path when per-key volumes make exact sorting a shuffle
    problem — and unlike t-digest/GK summaries it is bit-reproducible
    under any partitioning, so the oracle can check it exactly."""
    from riemann_spark.functions import sketches

    ev = load_events(spark, sf)
    hist = sketches.hist_table(ev, F.col("metric"), ["service"], 256, 0.0, 512.0)
    return sketches.hist_quantiles(hist, ["service"], [0.5, 0.95, 0.99], 256, 0.0, 512.0)


@q(
    "anomaly_zscore",
    f"""{_EV},
zz AS (SELECT event_id, host, service, metric,
              COUNT(metric) OVER w AS n_prior,
              CAST(SUM(CAST(metric AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
              CAST(SUM(CAST(metric * metric AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2
       FROM ev
       WINDOW w AS (PARTITION BY host, service ORDER BY time, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_id, host, service, metric,
       (metric - s1 / n_prior)
         / sqrt(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior)) AS z
FROM zz
WHERE n_prior >= 5
  AND abs((metric - s1 / n_prior)
          / sqrt(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior))) > 3.0""",
)
def anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing z-score anomaly detection — the canonical riemann
    alerting composite (ewma + stddev threshold configs): each event
    scored against the mean/stddev of its key's previous 20 events
    (frame excludes the current row — no self-masking), flagged at
    |z| > 3 once 5 priors exist. One window over the (host, service)
    partition, exact decimal sums inside the frame so both engines
    compute the identical double, sqrt/divide correctly rounded —
    deterministic at any partitioning."""
    from riemann_spark.operators.folds import _d

    ev = load_events(spark, sf)
    w = (
        Window.partitionBy("host", "service")
        .orderBy("time", "event_id")
        .rowsBetween(-20, -1)
    )
    m = F.col("metric")
    n = F.count(m).over(w)
    s1 = F.sum(_d(m)).over(w).cast("double")
    s2 = F.sum(_d(m * m)).over(w).cast("double")
    mean = s1 / n
    z = (m - mean) / F.sqrt(s2 / n - mean * mean)
    return (
        ev.select("event_id", "host", "service", "metric", n.alias("n_prior"), z.alias("z"))
        .filter((F.col("n_prior") >= 5) & (F.abs("z") > 3.0))
        .drop("n_prior")
    )


@q(
    "streaming_percentiles_histogram_closed",
    f"""{_EV},
hist AS (
  SELECT service, {_BUCKET_HOUR} AS window_start,
         CAST(greatest(0, least(255, floor(metric * 256.0 / 512.0))) AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2, 3
  HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0
),
cum AS (SELECT service, window_start, bucket,
               SUM(cnt) OVER (PARTITION BY service, window_start ORDER BY bucket) AS cum,
               SUM(cnt) OVER (PARTITION BY service, window_start) AS total
        FROM hist),
qq AS (SELECT service, window_start, bucket, cum, total,
              unnest([0.5, 0.95, 0.99]) AS q FROM cum)
SELECT service, window_start, q, 0.0 + (MIN(bucket) + 1) * 2.0 AS est
FROM qq WHERE cum >= greatest(1, CAST(ceil(q * total) AS BIGINT))
GROUP BY service, window_start, q""",
)
def streaming_percentiles_histogram_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming percentiles at BOUNDED state: the stream maintains
    only the histogram sketch per (service, hour window) — at most 256
    counters instead of buffering every raw value the way the exact
    streaming percentile must (streaming_percentiles_closed docstring
    flags exactly that cardinality cliff). Watermark closes windows in
    append mode, the drained sink IS the sketch, and p50/p95/p99
    extract from it batch-side — the production store-sketch /
    query-later split. Mergeability (counts add) is what makes the
    sketch partial-agg and state-store friendly."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.functions import sketches
    from riemann_spark.streaming.ops import with_event_timestamp

    name = f"cat_shist_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="shist_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    sdf = with_event_timestamp(normalize_events(raw)).withWatermark(
        "event_ts", "10 seconds"
    )
    b = F.floor(F.col("metric") * F.lit(256.0) / F.lit(512.0))
    b = F.greatest(F.lit(0), F.least(F.lit(255), b)).cast("int")
    agg = sdf.groupBy(
        "service", F.window("event_ts", "3600 seconds"), b.alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    out = agg.select(
        "service",
        F.col("window.start").cast("double").alias("window_start"),
        "bucket",
        "cnt",
    )
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    sketch = spark.table(name)
    return sketches.hist_quantiles(
        sketch, ["service", "window_start"], [0.5, 0.95, 0.99], 256, 0.0, 512.0
    )


@q(
    "flap_rate",
    f"""{_EV},
ch AS (SELECT host, service, {_BUCKET_HOUR} AS window_start,
              CASE WHEN state IS DISTINCT FROM
                        LAG(state) OVER (PARTITION BY host, service
                                         ORDER BY time, event_id)
                   THEN 1 ELSE 0 END AS flip
       FROM ev)
SELECT host, service, window_start,
       CAST(SUM(flip) AS BIGINT) AS n_flips
FROM ch GROUP BY host, service, window_start
HAVING SUM(flip) >= 1""",
)
def flap_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Flap detection — the monitoring composite riemann users build
    from changed + rate (a service oscillating ok↔critical pages once
    per flip unless debounced): per (host, service), count state
    TRANSITIONS per hour (lag over the full key history, so a flip
    across a window boundary counts in the window where it lands;
    the first observation counts as a transition, as in changed's
    :init). The >= 1 floor keeps the full per-key flip histogram —
    alert consumers threshold it (>= 2 = genuine flapping); the
    oracle checks every count. One window function over the
    key partition + one grouped count — two exchanges total, both on
    uniform keys."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("host", "service").orderBy("time", "event_id")
    flip = (
        ~F.col("state").eqNullSafe(F.lag("state").over(w))
    ).cast("int")
    return (
        ev.select(
            "host",
            "service",
            windows.time_bucket(3600.0).cast("double").alias("window_start"),
            flip.alias("flip"),
        )
        .groupBy("host", "service", "window_start")
        .agg(F.sum("flip").cast("long").alias("n_flips"))
        .filter(F.col("n_flips") >= 1)
    )


@q(
    "streaming_heavy_hitters_closed",
    f"""{_EV},
js AS (SELECT unnest(generate_series(0, 3)) AS j),
pairs AS (
  SELECT host, {_BUCKET_HOUR} AS window_start, j
  FROM ev CROSS JOIN js
),
sketch AS (
  SELECT window_start, j,
         CAST((SELECT SUM((strpos('0123456789abcdef',
                   substr(md5(CAST(p.j AS VARCHAR) || p.host), 1 + n.i, 1)) - 1)
                   * CAST(pow(16, 7 - n.i) AS BIGINT))
          FROM (SELECT unnest(generate_series(0, 7)) AS i) n) % 256
          AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs p GROUP BY 1, 2, 3
  HAVING window_start + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0
)
SELECT window_start, j, b, c FROM sketch""",
)
def streaming_heavy_hitters_closed(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark-closed streaming count-min sketch: per closed hourly
    window the stream state is AT MOST depth x width counters (the
    frequency analogue of the streaming histogram row) — heavy-hitter
    queries against any window then point-read the drained sketch with
    cms_estimate. Append mode emits each window's counters exactly
    once at close; the oracle recomputes the same md5-bucket counters
    relationally. Counter tables are the artifact here (the estimate
    extraction is already value-checked batch-side in
    heavy_hitters_cms)."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.ops import with_event_timestamp

    name = f"cat_scms_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="scms_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    sdf = with_event_timestamp(normalize_events(raw)).withWatermark(
        "event_ts", "10 seconds"
    )
    depth, width = 4, 256
    pairs = sdf.select(
        "host",
        "event_ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(str(j)), F.col("host"))), 1, 8
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("p"),
    )
    agg = pairs.groupBy(
        F.window("event_ts", "3600 seconds"), F.col("p.j").alias("j"), F.col("p.b").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    out = agg.select(
        F.col("window.start").cast("double").alias("window_start"), "j", "b", "c"
    )
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "retention_rollup",
    f"""{_EV},
b AS (SELECT service,
             CAST(CAST(floor("time" / 86400.0) AS BIGINT) * 86400 AS DOUBLE) AS day_start,
             {_BUCKET_HOUR} AS hour_start,
             metric
      FROM ev)
SELECT service, day_start, hour_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS sum_metric,
       MIN(metric) AS min_metric,
       MAX(metric) AS max_metric
FROM b
GROUP BY GROUPING SETS ((service, day_start), (service, day_start, hour_start))""",
)
def retention_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-resolution retention ladder in ONE pass (the metrics-store
    downsampling pattern riemann deployments put in front of graphite:
    hourly series for recent dashboards, daily for long retention):
    GROUPING SETS expands both granularities inside a single
    aggregate — Catalyst plans one scan + one Expand + one shuffle,
    not a scan per resolution, and the partial aggregation still
    combines map-side. Day rows carry NULL hour_start (standard
    grouping-set semantics, identical in both engines)."""
    ev = load_events(spark, sf)
    b = ev.select(
        "service",
        (F.floor(F.col("time") / 86400.0).cast("long") * 86400).cast("double").alias(
            "day_start"
        ),
        windows.time_bucket(3600.0).cast("double").alias("hour_start"),
        "metric",
    )
    return b.groupingSets(
        [["service", "day_start"], ["service", "day_start", "hour_start"]],
        "service",
        "day_start",
        "hour_start",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("metric").cast("decimal(38,6)")).cast("double").alias("sum_metric"),
        F.min("metric").alias("min_metric"),
        F.max("metric").alias("max_metric"),
    )


@q(
    "moving_median",
    f"""{_EV}
SELECT event_id, host, service, metric,
       round(quantile_cont(metric, 0.5) OVER (
         PARTITION BY host, service ORDER BY "time"
         RANGE BETWEEN 3600.0 PRECEDING AND CURRENT ROW), 6) AS med_1h
FROM ev""",
)
def moving_median(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window median — the smoothing riemann configs build
    from moving-time-window + folds/median: per event, the exact
    interpolated median of its key's trailing hour (range frame on
    event time, current row included). One exchange on the key; the
    frame buffer is bounded by events-per-key-per-hour. Rounded to
    6dp on both sides (interpolation divides — the one place the
    engines' doubles could differ in the last ulp)."""
    ev = load_events(spark, sf)
    w = windows.moving_time_window(3600.0, ["host", "service"])
    return ev.select(
        "event_id",
        "host",
        "service",
        "metric",
        F.round(F.percentile("metric", F.lit(0.5)).over(w), 6).alias("med_1h"),
    )


@q(
    "streaming_project_drained",
    f"""{_EV},
m AS (
  SELECT event_id, "time" AS t, metric,
         service = 'error' AS p0, service = 'purchase' AS p1
  FROM ev WHERE service IN ('error', 'purchase')
)
SELECT event_id, t AS time,
       last_value(CASE WHEN p0 THEN metric END IGNORE NULLS) OVER w AS slot0,
       last_value(CASE WHEN p1 THEN metric END IGNORE NULLS) OVER w AS slot1
FROM m
WINDOW w AS (ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)""",
)
def streaming_project_drained(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming project (streams.clj:2032-2101) value-checked at full
    emission-log granularity: the drained stream must equal the
    relational replay — for every matching event in (time, event_id)
    order, the vector of latest-per-slot metrics at that instant
    (last_value IGNORE NULLS over the ordered prefix). Closes the one
    §2.3 operator that had batch-only parity."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_project

    name = f"cat_sproj_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sproj_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    sdf = normalize_events(normalize_ts(raw, "ts"))
    out = streaming_project(sdf, ['service = "error"', 'service = "purchase"'])
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_anomaly_drained",
    f"""{_EV},
zz AS (SELECT event_id, host, service, metric,
              COUNT(metric) OVER w AS n_prior,
              CAST(SUM(CAST(metric AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
              CAST(SUM(CAST(metric * metric AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2
       FROM ev
       WINDOW w AS (PARTITION BY host, service ORDER BY time, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_id, host, service, metric,
       (metric - s1 / n_prior)
         / sqrt(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior)) AS z
FROM zz
WHERE n_prior >= 5
  AND abs((metric - s1 / n_prior)
          / sqrt(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior))) > 3.0""",
)
def streaming_anomaly_drained(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming z-score anomaly detection value-checked bit-for-bit
    against the SAME relational oracle as the batch operator: the
    stateful buffer (20 doubles per key) must reproduce the batch
    window's exact decimal arithmetic — the single-rounding int/int
    division trick in streaming_anomaly_zscore is what makes the two
    paths emit identical doubles. Batch is the semantics oracle;
    streaming reuses it unchanged (SURVEY §5)."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_anomaly_zscore

    name = f"cat_sanom_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sanom_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    sdf = normalize_events(normalize_ts(raw, "ts"))
    out = streaming_anomaly_zscore(sdf, 20, 5, 3.0)
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name).select("event_id", "host", "service", "metric", "z")


@q(
    "slo_burn_rate",
    f"""{_EV},
base AS (SELECT host, "time",
                CASE WHEN state != 'ok' THEN 1 ELSE 0 END AS bad
         FROM ev),
fast AS (SELECT host,
                CAST(CAST(floor("time" / 300.0) AS BIGINT) * 300 AS DOUBLE) AS w5m,
                CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS err_5m,
                CAST(COUNT(*) AS BIGINT) AS n_5m
         FROM base GROUP BY 1, 2),
slow AS (SELECT host,
                {_BUCKET_HOUR} AS w1h,
                CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS err_1h
         FROM base GROUP BY 1, 2)
SELECT f.host, f.w5m AS window_start, f.err_5m, s.err_1h, f.n_5m
FROM fast f JOIN slow s
  ON s.host = f.host
 AND s.w1h = CAST(CAST(floor(f.w5m / 3600.0) AS BIGINT) * 3600 AS DOUBLE)
WHERE f.err_5m > 0.28 AND s.err_1h > 0.28""",
)
def slo_burn_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-window SLO burn-rate alert (the SRE-workbook pattern that
    replaced naive threshold paging, built here from the same windowed
    aggregates riemann configs compose): page only when BOTH the
    5-minute and enclosing 1-hour error rates exceed the burn
    threshold — the short window gives speed, the long window
    suppresses blips. Two grouped aggregates sharing one scan and a
    key-and-hour equi-join; the 5m side's hour is derived from its
    own bucket, so the join needs no range condition."""
    ev = load_events(spark, sf)
    bad = F.when(F.col("state") != "ok", 1).otherwise(0)
    base = ev.select("host", "time", bad.alias("bad"))
    w5 = windows.time_bucket(300.0).cast("double")
    fast = base.groupBy("host", w5.alias("w5m")).agg(
        (F.sum("bad").cast("double") / F.count(F.lit(1))).alias("err_5m"),
        F.count(F.lit(1)).cast("long").alias("n_5m"),
    )
    slow = base.groupBy(
        "host", windows.time_bucket(3600.0).cast("double").alias("w1h")
    ).agg((F.sum("bad").cast("double") / F.count(F.lit(1))).alias("err_1h"))
    hour_of = (F.floor(F.col("w5m") / 3600.0).cast("long") * 3600).cast("double")
    return (
        fast.join(
            slow,
            (slow.host == fast.host) & (slow.w1h == hour_of),
        )
        .filter((F.col("err_5m") > 0.28) & (F.col("err_1h") > 0.28))
        .select(
            fast.host, F.col("w5m").alias("window_start"), "err_5m", "err_1h", "n_5m"
        )
    )


@q(
    "percentiles_histogram_global",
    f"""{_EV},
hist AS (SELECT service,
           CAST(greatest(0, least(255, floor(metric * 256.0 / 512.0))) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM ev GROUP BY 1, 2),
merged AS (SELECT bucket, SUM(cnt) AS cnt FROM hist GROUP BY bucket),
cum AS (SELECT bucket,
               SUM(cnt) OVER (ORDER BY bucket) AS cum,
               SUM(cnt) OVER () AS total
        FROM merged),
qq AS (SELECT bucket, cum, total, unnest([0.5, 0.95, 0.99]) AS q FROM cum)
SELECT q, 0.0 + (MIN(bucket) + 1) * 2.0 AS est
FROM qq WHERE cum >= greatest(1, CAST(ceil(q * total) AS BIGINT))
GROUP BY q""",
)
def percentiles_histogram_global(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch MERGE in action: per-service histograms (the artifact
    percentiles_histogram stores) roll up to corpus-wide percentiles
    by ADDING COUNTS — no re-scan of the raw events, the property
    t-digest only approximates and sorted-value percentiles lack
    entirely. At 100 TB this is how a fleet dashboard gets global
    p99 from per-shard sketches. The final cum-sum runs over <= 256
    rows."""
    from riemann_spark.functions import sketches

    ev = load_events(spark, sf)
    per_key = sketches.hist_table(ev, F.col("metric"), ["service"], 256, 0.0, 512.0)
    merged = per_key.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    out = sketches.hist_quantiles(
        merged.withColumn("__all", F.lit(1)), ["__all"], [0.5, 0.95, 0.99], 256, 0.0, 512.0
    )
    return out.select("q", "est")


@q(
    "streaming_slo_burn_drained",
    f"""{_EV},
base AS (SELECT host, "time",
                CASE WHEN state != 'ok' THEN 1 ELSE 0 END AS bad
         FROM ev),
fast AS (SELECT host,
                CAST(CAST(floor("time" / 300.0) AS BIGINT) * 300 AS DOUBLE) AS w5m,
                CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS err_5m,
                CAST(COUNT(*) AS BIGINT) AS n_5m
         FROM base GROUP BY 1, 2),
slow AS (SELECT host,
                {_BUCKET_HOUR} AS w1h,
                CAST(SUM(bad) AS DOUBLE) / COUNT(*) AS err_1h
         FROM base GROUP BY 1, 2)
SELECT f.host, f.w5m AS window_start, f.err_5m, s.err_1h, f.n_5m
FROM fast f JOIN slow s
  ON s.host = f.host
 AND s.w1h = CAST(CAST(floor(f.w5m / 3600.0) AS BIGINT) * 3600 AS DOUBLE)
WHERE f.err_5m > 0.28 AND s.err_1h > 0.28
  AND s.w1h + 3600.0 <= (SELECT MAX("time") FROM ev) - 10.0""",
)
def streaming_slo_burn_drained(spark: SparkSession, sf: str) -> DataFrame:
    """The burn-rate alert as a LIVE multi-stateful streaming topology
    — two windowed aggregations over one watermarked stream joined
    stream-to-stream (the chained-stateful-operator capability Spark
    gained for exactly this class of SRE pipeline): a pair emits once
    BOTH its windows are watermark-closed, which the oracle expresses
    as the enclosing hour being closed (an hour closing implies every
    5m window inside it closed)."""
    import tempfile
    import uuid as _uuid

    name = f"cat_sburn_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sburn_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    from riemann_spark.streaming.ops import with_event_timestamp

    sdf = with_event_timestamp(normalize_events(normalize_ts(raw, "ts"))).withWatermark(
        "event_ts", "10 seconds"
    )
    bad = F.when(F.col("state") != "ok", 1).otherwise(0)
    base = sdf.select("host", "event_ts", bad.alias("bad"))
    fast = base.groupBy("host", F.window("event_ts", "300 seconds").alias("wf")).agg(
        (F.sum("bad").cast("double") / F.count(F.lit(1))).alias("err_5m"),
        F.count(F.lit(1)).cast("long").alias("n_5m"),
    )
    slow = base.groupBy("host", F.window("event_ts", "3600 seconds").alias("ws")).agg(
        (F.sum("bad").cast("double") / F.count(F.lit(1))).alias("err_1h")
    )
    j = (
        fast.join(
            slow.withColumnRenamed("host", "s_host"),
            (F.col("host") == F.col("s_host"))
            & (F.col("wf.start") >= F.col("ws.start"))
            & (F.col("wf.start") < F.col("ws.end")),
        )
        .filter((F.col("err_5m") > 0.28) & (F.col("err_1h") > 0.28))
        .select(
            "host",
            F.col("wf.start").cast("double").alias("window_start"),
            "err_5m",
            "err_1h",
            "n_5m",
        )
    )
    q_ = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


_HOLT_LNEW = """CASE WHEN acc[3] = 0.0 THEN e[1]
             WHEN acc[3] = 1.0 THEN 0.5 * e[1] + 0.5 * acc[1]
             ELSE 0.5 * e[1] + 0.5 * (acc[1] + acc[2]) END"""


@q(
    "holt_forecast",
    f"""{_EV},
tail AS (SELECT host, service, "time" AS t, event_id AS o, metric AS x FROM (
  SELECT host, service, "time", event_id, metric,
         row_number() OVER (PARTITION BY host, service
                            ORDER BY "time" DESC, event_id DESC) AS rn
  FROM ev) WHERE rn <= 100),
series AS (SELECT host, service,
                  CAST(COUNT(*) AS BIGINT) AS n_obs,
                  list_prepend([0.0, 0.0, 0.0]::DOUBLE[],
                    list_transform(list(x ORDER BY t, o), v -> [v, 0.0, -1.0]))
                    AS xs
           FROM tail GROUP BY host, service),
-- state = DOUBLE[3] [level, trend, step] — NOT a struct: DuckDB's
-- list_reduce assigns struct fields with aliasing semantics (later
-- field expressions can observe already-updated acc fields), while
-- list construction snapshots acc; the trend slot recomputes the
-- level expression inline, which is IEEE-identical to slot 1's
folded AS (SELECT host, service, n_obs,
                  list_reduce(xs, (acc, e) -> [
                    {_HOLT_LNEW},
                    CASE WHEN acc[3] = 0.0 THEN 0.0
                         WHEN acc[3] = 1.0 THEN e[1] - acc[1]
                         ELSE 0.25 * (({_HOLT_LNEW}) - acc[1]) + 0.75 * acc[2] END,
                    acc[3] + 1.0]) AS s
           FROM series)
SELECT host, service, n_obs, s[1] AS level, s[2] AS trend,
       s[1] + s[2] * 10.0 AS forecast
FROM folded""",
)
def holt_forecast_q(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear exponential smoothing per key (the trend-aware
    next step beyond predict-linear's OLS): level/trend recursion over
    the key's last-100 tail, forecast 10 observation steps out. A
    recursive filter has no window-function form — it IS a sequential
    fold, and because alpha/beta are dyadic (0.5, 0.25) every update
    is an exact double op, so Spark's F.aggregate and DuckDB's
    list_reduce walk identical IEEE sequences. State bounded by the
    tail length, one shuffle on the key."""
    ev = load_events(spark, sf)
    return analytics.holt_forecast(ev, 10, 0.5, 0.25, 100)


@q(
    "events_heatmap",
    f"""{_EV}
SELECT CAST(dayofweek(to_timestamp("time")) + 1 AS INT) AS dow,
       CAST(hour(to_timestamp("time")) AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) / COUNT(metric) AS mean_metric
FROM ev GROUP BY dow, hod""",
)
def events_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the capacity/
    seasonality profile every ops dashboard opens with (when do
    errors spike, when is the quiet deploy window). At most 7×24
    groups out of any volume; UTC on both engines by session conf.
    DuckDB numbers Sunday 0, Spark numbers it 1 — the oracle adds 1."""
    ev = load_events(spark, sf)
    ts = F.timestamp_seconds(F.col("time"))
    from riemann_spark.operators.folds import dmean

    return (
        ev.groupBy(
            F.dayofweek(ts).cast("int").alias("dow"),
            F.hour(ts).cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dmean("metric").alias("mean_metric"),
        )
    )


_TOPO_CONFIG = """
(streams
  (where (and (> metric 10) (not (service #"^riemann")))
    (scale 0.001
      (tag "scaled"
        index))))
"""


@q(
    "config_topology",
    f"""{_EV},
routed AS (
  SELECT event_id, host, service, state,
         metric * 0.001 AS metric,
         list_prepend('scaled', tags) AS tags,
         "time", ttl
  FROM ev
  WHERE metric > 10 AND NOT coalesce(regexp_matches(service, '^riemann'), false)
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY host, service ORDER BY "time" DESC, event_id DESC) AS rn
    FROM routed
  ) WHERE rn = 1 AND (state IS DISTINCT FROM 'expired')
)
SELECT host, service, state, metric, array_to_string(tags, ',') AS tags,
       "time", event_id
FROM latest""",
)
def config_topology(spark: SparkSession, sf: str) -> DataFrame:
    """The config READER on the oracle surface: an embedded config
    (where + predicate sub-language, scale, tag, index) compiles to a
    topology whose index must equal the relational replay — parser,
    predicate compiler, combinator mapping, and index semantics all
    gated in one row (the shipped-config parity test covers the same
    path structurally; this row value-checks it against DuckDB)."""
    from riemann_spark.query.config_reader import load_config

    ev = load_events(spark, sf)
    topo = load_config(_TOPO_CONFIG, ev)
    return topo.index.select(
        "host",
        "service",
        "state",
        "metric",
        F.array_join("tags", ",").alias("tags"),
        "time",
        "event_id",
    )


@q(
    "psi_drift",
    f"""{_EV},
b AS (SELECT service, (time_us // 3600000000) % 24 AS hod,
             CASE WHEN time_us <=
                  (SELECT (MIN(time_us) + MAX(time_us)) // 2 FROM ev)
                  THEN 1 ELSE 0 END AS is_ref
      FROM ev),
counts AS (SELECT service, hod,
                  SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
           FROM b GROUP BY service, hod),
frame AS (SELECT s.service, h.hod
          FROM (SELECT DISTINCT service FROM ev) s
          CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hod) h),
f AS (SELECT frame.service, frame.hod,
             COALESCE(c_ref, 0) AS c_ref, COALESCE(c_cur, 0) AS c_cur
      FROM frame LEFT JOIN counts
        ON frame.service = counts.service AND frame.hod = counts.hod),
t AS (SELECT service, c_ref, c_cur,
             SUM(c_ref) OVER (PARTITION BY service) AS n_ref,
             SUM(c_cur) OVER (PARTITION BY service) AS n_cur
      FROM f)
SELECT service,
       CAST(MAX(n_ref) AS BIGINT) AS n_ref,
       CAST(MAX(n_cur) AS BIGINT) AS n_cur,
       round(SUM(((c_ref + 1) / (n_ref + 24.0) - (c_cur + 1) / (n_cur + 24.0))
                 * ln(((c_ref + 1) / (n_ref + 24.0))
                      / ((c_cur + 1) / (n_cur + 24.0)))), 6) AS psi
FROM t GROUP BY service""",
)
def psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index per service between the first and
    second half of the observed period - THE standard drift score for
    "did this stream's shape change" (model-monitoring lineage;
    PSI > 0.2 is the textbook re-examine threshold). Buckets are
    hour-of-day (24 integer buckets from epoch-us arithmetic - no
    float bucket edges to disagree on), Laplace-smoothed so empty
    buckets stay finite; the midpoint split is one broadcast one-row
    agg. At most |services| x 24 rows after the first aggregate, so
    everything past the single groupBy is key-cardinality-sized; the
    ln() sum is over exact rationals, rounded 6dp (the
    unigram_lm_scores determinism contract)."""
    ev = load_events(spark, sf)
    mid = ev.agg(F.expr("(MIN(time_us) + MAX(time_us)) DIV 2").alias("mid"))
    b = ev.crossJoin(F.broadcast(mid)).select(
        "service",
        F.expr("(time_us DIV 3600000000) % 24").cast("long").alias("hod"),
        (F.col("time_us") <= F.col("mid")).cast("long").alias("is_ref"),
    )
    counts = b.groupBy("service", "hod").agg(
        F.sum("is_ref").alias("c_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c_cur"),
    )
    hods = spark.range(24).select(F.col("id").cast("long").alias("hod"))
    frame = ev.select("service").distinct().crossJoin(F.broadcast(hods))
    f = (
        frame.join(counts, ["service", "hod"], "left")
        .select(
            "service",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
    )
    w = Window.partitionBy("service")
    t = f.withColumn("n_ref", F.sum("c_ref").over(w)).withColumn(
        "n_cur", F.sum("c_cur").over(w)
    )
    p = (F.col("c_ref") + 1) / (F.col("n_ref") + 24.0)
    qq = (F.col("c_cur") + 1) / (F.col("n_cur") + 24.0)
    return t.groupBy("service").agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.round(F.sum((p - qq) * F.log(p / qq)), 6).alias("psi"),
    )


_DRIFT_T = 0.02


@q(
    "streaming_drift_gate",
    f"""{_EV},
mid AS (SELECT (MIN(time_us) + MAX(time_us)) // 2 AS m FROM ev),
b AS (SELECT service, (time_us // 3600000000) % 24 AS hod
      FROM ev CROSS JOIN mid WHERE time_us <= m),
counts AS (SELECT service, hod, COUNT(*) AS c_ref
           FROM b GROUP BY service, hod),
tot AS (SELECT service, COUNT(*) AS n_ref FROM b GROUP BY service),
cur AS (SELECT event_id, service, (time_us // 3600000000) % 24 AS hod
        FROM ev CROSS JOIN mid WHERE time_us > m),
j AS (SELECT cur.event_id, cur.service, cur.hod,
             COALESCE(c.c_ref, 0) AS c_ref,
             COALESCE(t.n_ref, 0) AS n_ref
      FROM cur LEFT JOIN counts c
             ON cur.service = c.service AND cur.hod = c.hod
           LEFT JOIN tot t ON cur.service = t.service)
SELECT event_id, service, CAST(hod AS BIGINT) AS hod,
       (c_ref + 1) / (n_ref + 24.0) AS p_ref,
       (c_ref + 1) / (n_ref + 24.0) < {_DRIFT_T} AS flagged
FROM j""",
)
def streaming_drift_gate(spark: SparkSession, sf: str) -> DataFrame:
    """INGEST-TIME distribution-drift gate — the streaming sibling of
    psi_drift: the reference half of the stream trains a per-service
    hour-of-day Laplace baseline (the same 24 integer buckets), and
    every LIVE event is flagged at arrival when its bucket's baseline
    probability sits under {_DRIFT_T} — "this service does not
    normally emit at this hour", the cheap novelty screen you run
    before the heavyweight per-window PSI rollup.

    STATELESS streaming plan: the baseline is a model-sized static
    frame (|services| x 24 rows) broadcast into a stream-static left
    join — no state, no watermark, scales with source partitions;
    the midpoint is one bounded one-row collect. Laplace arithmetic
    is exact integer counts with one final division, identical
    expression trees both engines."""
    import tempfile
    import uuid as _uuid

    name = f"cat_sdg_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sdg_ck_")
    ev = load_events(spark, sf)
    mid = ev.agg(
        F.expr("(MIN(time_us) + MAX(time_us)) DIV 2").alias("m")
    ).first()["m"]
    hod = F.expr("(time_us DIV 3600000000) % 24").cast("long")
    ref = ev.filter(F.col("time_us") <= mid).select(
        "service", hod.alias("hod")
    )
    counts = ref.groupBy("service", "hod").agg(
        F.count(F.lit(1)).alias("c_ref")
    )
    tot = ref.groupBy("service").agg(F.count(F.lit(1)).alias("n_ref"))

    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    sev = normalize_events(raw).filter(F.col("time_us") > mid).select(
        "event_id", "service", hod.alias("hod")
    )
    p = (F.coalesce(F.col("c_ref"), F.lit(0)) + 1) / (
        F.coalesce(F.col("n_ref"), F.lit(0)) + 24.0
    )
    flagged = sev.join(
        F.broadcast(counts), ["service", "hod"], "left"
    ).join(F.broadcast(tot), ["service"], "left").select(
        "event_id",
        "service",
        "hod",
        p.alias("p_ref"),
        (p < F.lit(_DRIFT_T)).alias("flagged"),
    )
    q_ = (
        flagged.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_stable_drained",
    f"""{_EV}, c AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                   OR state IS DISTINCT FROM lag(state) OVER w
            THEN 1 ELSE 0 END AS chg
  FROM ev WINDOW w AS (PARTITION BY host, service ORDER BY time, event_id)
), r AS (
  SELECT *, SUM(chg) OVER (PARTITION BY host, service
                           ORDER BY time, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM c
)
SELECT host, service, event_id, "time", metric, state FROM (
  SELECT host, service, event_id, "time", metric, state,
         MAX("time") OVER wr - MIN("time") OVER wr AS span
  FROM r WINDOW wr AS (PARTITION BY host, service, run_id)
) WHERE span >= 7200.0""",
)
def streaming_stable_drained(spark: SparkSession, sf: str) -> DataFrame:
    """streaming_stable (streams.clj:1936-2031) drained VALUE oracle:
    in a single drained batch the wall-clock confirmation timer never
    enters — stability is proven purely by event-time span, which is
    EXACTLY the batch operator's run-length semantics — so the
    streaming state machine must reproduce stable_2h's oracle
    row-for-row (same dt, same (time, event_id) arrival order, chg
    breaking runs on lag-null like the batch eqNullSafe|isNull pair).
    The wall-clock lane (flush after dt of silence) is vector-tested
    through the interval harness (tests/test_reference_parity.py
    stable-test ports); this entry gives the op a driver hash row for
    the event-time lane."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_stable

    name = f"cat_sst_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sst_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_stable(
        normalize_events(raw), 7200.0, field="state", confirm_wallclock=False
    )
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "burst_interval_join",
    f"""{_EV},
crit AS (SELECT service, time_us AS s, time_us + 600000000 AS e
         FROM ev WHERE state = 'critical'),
ord AS (SELECT service, s, e,
          max(e) OVER (PARTITION BY service ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS pme
        FROM crit),
isl AS (SELECT service, s, e,
          SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
            OVER (PARTITION BY service ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS island
        FROM ord),
win AS (SELECT service, MIN(s) AS w_start_us, MAX(e) AS w_end_us
        FROM isl GROUP BY service, island)
SELECT w.service, w.w_start_us, w.w_end_us,
       COUNT(*) AS n_events,
       COUNT(DISTINCT ev.host) AS n_hosts,
       CAST(SUM(CAST(round(ev.metric * 100.0) AS BIGINT)) AS DOUBLE)
         / 100.0 AS metric_sum
FROM win w JOIN ev ON ev.service = w.service
                  AND ev.time_us >= w.w_start_us
                  AND ev.time_us < w.w_end_us
GROUP BY 1, 2, 3""",
)
def burst_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join at scale: every critical event opens a 10-minute
    burst window [t, t+600s); per-service windows merge via
    gaps-and-islands (operators/range_join.merge_intervals), then ALL
    of that service's events are range-joined into the merged windows
    by the bucket-explode equi-join (range_join.interval_join) and
    rolled up per window (count, distinct hosts, exact-decimal metric
    sum).  The "what happened around every outage" replay of the
    reference's index-at-arrival membership test (deps.clj:24-80).

    Scale shape: the naive range join is BroadcastNestedLoop —
    quadratic and broadcast-bound; here windows explode to the 600 s
    buckets they overlap (factor ~2 at these spans) and the join is a
    plain hash shuffle on (service, bucket) + residual filter, linear
    in events and AQE-skew-safe.  All boundaries integer µs: exact and
    partition-invariant."""
    from riemann_spark.operators.range_join import (
        interval_join,
        merge_intervals,
    )

    ev = load_events(spark, sf)
    crit = ev.filter(F.col("state") == "critical").select(
        "service",
        F.col("time_us").alias("w_start_us"),
        (F.col("time_us") + F.lit(600_000_000)).alias("w_end_us"),
    )
    wins = merge_intervals(crit, ["service"])
    joined = interval_join(
        ev.select("service", "host", "metric", "time_us"),
        wins,
        keys=["service"],
        bucket_us=600_000_000,
    )
    return joined.groupBy("service", "w_start_us", "w_end_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("host").alias("n_hosts"),
        msum("metric", 2).alias("metric_sum"),
    )


@q(
    "scd2_state_history",
    f"""{_EV},
runs AS (
  SELECT host, service, state, time_us, event_id,
         SUM(CASE WHEN prev IS NULL OR state IS DISTINCT FROM prev
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY host, service ORDER BY time_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS version
  FROM (SELECT host, service, state, time_us, event_id,
               lag(state) OVER (PARTITION BY host, service
                                ORDER BY time_us, event_id) AS prev
        FROM ev)),
iv AS (SELECT host, service, CAST(version AS BIGINT) AS version, state,
              MIN(time_us) AS valid_from_us,
              CAST(COUNT(*) AS BIGINT) AS n_events
       FROM runs GROUP BY host, service, version, state)
SELECT host, service, version, state, valid_from_us,
       lead(valid_from_us) OVER w AS valid_to_us, n_events,
       lead(valid_from_us) OVER w IS NULL AS is_current
FROM iv WINDOW w AS (PARTITION BY host, service ORDER BY version)""",
)
def scd2_state_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 state dimension built from the event stream: per
    (host, service) every run of equal states becomes one versioned
    row with [valid_from_us, valid_to_us) validity, its event count,
    and the open-interval is_current flag — the warehouse-standard
    history table behind "what was this service's state at time T"
    as-of joins, and the batch materialization of what changed-state
    (streams.clj:1655-1659) emits incrementally.

    Scale shape: ONE hash exchange on (host, service) serves the lag
    window, the run-numbering window, the run groupBy, and the lead
    window — Catalyst's subset-clustering rule turns the three
    downstream steps into within-partition re-sorts, so the whole
    history build is a single shuffle of the events scan regardless
    of corpus size. All boundaries integer µs: exact and
    partition-invariant."""
    ev = load_events(spark, sf)
    wk = Window.partitionBy("host", "service").orderBy("time_us", "event_id")
    prev = F.lag("state").over(wk)
    chg = F.when(prev.isNull() | (F.col("state") != prev), 1).otherwise(0)
    runs = ev.select(
        "host", "service", "state", "time_us", "event_id",
        F.sum(chg).over(
            wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("version"),
    )
    iv = runs.groupBy("host", "service", "version", "state").agg(
        F.min("time_us").alias("valid_from_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("host", "service").orderBy("version")
    nxt = F.lead("valid_from_us").over(wv)
    return iv.select(
        "host", "service", "version", "state", "valid_from_us",
        nxt.alias("valid_to_us"), "n_events",
        nxt.isNull().alias("is_current"),
    )


@q(
    "coverage_gaps",
    f"""{_EV},
nx AS (SELECT host, service, time_us,
              CAST(ttl * 1000000.0 AS BIGINT) AS ttl_us,
              lead(time_us) OVER (PARTITION BY host, service
                                  ORDER BY time_us, event_id) AS next_us
       FROM ev)
SELECT host, service, time_us AS gap_start_us, next_us AS gap_end_us,
       (next_us - time_us) / 1000000.0 AS gap_sec,
       (next_us - time_us) // ttl_us AS missed_beats
FROM nx WHERE next_us - time_us > 2 * ttl_us""",
)
def coverage_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Heartbeat-coverage audit: per (host, service) find every gap
    between consecutive events longer than 2× the earlier event's TTL
    and report the gap bounds, its length in seconds, and how many
    TTL-sized heartbeats went missing — the batch replay of the index
    reaper's expiry judgment (riemann index.clj:115-131 expire!),
    turned into the monitoring-coverage report a fleet audit wants
    ("which services went dark, when, for how long").

    Scale shape: one hash exchange on (host, service) + one
    within-partition sort feed the single lead() window; the gap
    predicate and arithmetic are pure integer-µs projections after
    it. Linear in events, no joins, partition-invariant."""
    ev = load_events(spark, sf)
    wk = Window.partitionBy("host", "service").orderBy("time_us", "event_id")
    ttl_us = (F.col("ttl") * F.lit(1000000.0)).cast("long")
    nx = ev.select(
        "host", "service", "time_us",
        ttl_us.alias("ttl_us"),
        F.lead("time_us").over(wk).alias("next_us"),
    )
    gap = F.col("next_us") - F.col("time_us")
    return nx.filter(gap > 2 * F.col("ttl_us")).select(
        "host", "service",
        F.col("time_us").alias("gap_start_us"),
        F.col("next_us").alias("gap_end_us"),
        (gap / F.lit(1000000.0)).alias("gap_sec"),
        F.expr("(next_us - time_us) div ttl_us").alias("missed_beats"),
    )


@q(
    "streaming_scd2_drained",
    f"""{_EV},
runs AS (
  SELECT host, service, state, time_us, event_id,
         SUM(CASE WHEN prev IS NULL OR state IS DISTINCT FROM prev
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY host, service ORDER BY time_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS version
  FROM (SELECT host, service, state, time_us, event_id,
               lag(state) OVER (PARTITION BY host, service
                                ORDER BY time_us, event_id) AS prev
        FROM ev)),
iv AS (SELECT host, service, CAST(version AS BIGINT) AS version, state,
              MIN(time_us) AS valid_from_us,
              CAST(COUNT(*) AS BIGINT) AS n_events
       FROM runs GROUP BY host, service, version, state),
hist AS (SELECT host, service, version, state, valid_from_us,
                lead(valid_from_us) OVER (PARTITION BY host, service
                                          ORDER BY version) AS valid_to_us,
                n_events
         FROM iv)
SELECT * FROM hist WHERE valid_to_us IS NOT NULL""",
)
def streaming_scd2_drained(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming SCD2 value-checked: the applyInPandasWithState run
    over the event stream must emit exactly the CLOSED intervals of
    the batch history (scd2_state_history minus the per-key open
    run, which stays in state — a changelog writer's posture)."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_scd2

    name = f"cat_scd2_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="scd2_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_scd2(normalize_events(raw))
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "event_funnel",
    """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
u1 AS (SELECT user_id,
              MIN(CASE WHEN event_type = 'view' THEN t END) AS t1
       FROM e GROUP BY user_id),
u2 AS (SELECT e.user_id, MIN(t) AS t2
       FROM e JOIN u1 USING (user_id)
       WHERE event_type = 'click' AND t > t1 AND t <= t1 + 604800000000
       GROUP BY e.user_id),
u3 AS (SELECT e.user_id, MIN(t) AS t3
       FROM e JOIN u2 USING (user_id)
       WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 604800000000
       GROUP BY e.user_id),
lv AS (SELECT u1.user_id,
              CASE WHEN t3 IS NOT NULL THEN 3
                   WHEN t2 IS NOT NULL THEN 2
                   WHEN t1 IS NOT NULL THEN 1
                   ELSE 0 END AS lvl
       FROM u1 LEFT JOIN u2 ON u2.user_id = u1.user_id
               LEFT JOIN u3 ON u3.user_id = u1.user_id),
agg AS (SELECT CAST(SUM(CASE WHEN lvl >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN lvl >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN lvl >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        FROM lv)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS name, n1 AS n_users,
         1.0 AS conv_from_prev FROM agg
  UNION ALL
  SELECT 2, 'click', n2, n2 / CAST(n1 AS DOUBLE) FROM agg
  UNION ALL
  SELECT 3, 'purchase', n3, n3 / CAST(n2 AS DOUBLE) FROM agg)""",
)
def event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (the ClickHouse windowFunnel shape,
    fixed-anchor variant): per user, the first 'view' anchors the
    chain; a 'click' counts if it lands in the 7 days after that
    view, a 'purchase' if it lands in the 7 days after that click.
    Emits per-stage reach and step conversion — the product-analytics
    staple over the same events table the monitoring operators read.

    Anchor semantics are deliberately first-event (MIN-based) rather
    than any-event sliding: every aggregate is a MIN/COUNT —
    associative, partition-invariant, engine-exact — where the
    sliding variant needs per-user ordered replay (that lane exists
    as sessionize/streaming_sessions for bounded windows).

    Scale shape: three user-keyed conditional MIN aggregates, each
    map-side-combining to one row per user, chained by user-keyed
    joins that reuse the same hash partitioning; the final rollup is
    a ONE-row aggregate. No windows, no sorts, linear in events."""
    raw = load_parquet(spark, f"{sf}/events.parquet")
    e = normalize_ts(raw, "ts").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("t"),
    )
    wk = F.lit(604800000000)
    u1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t1")
    )
    u2 = (
        e.join(u1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("t") > F.col("t1"))
            & (F.col("t") <= F.col("t1") + wk)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    u3 = (
        e.join(u2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("t") > F.col("t2"))
            & (F.col("t") <= F.col("t2") + wk)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    lv = (
        u1.join(u2, "user_id", "left")
        .join(u3, "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("lvl")
        )
    )
    agg = lv.agg(
        F.sum((F.col("lvl") >= 1).cast("int")).cast("long").alias("n1"),
        F.sum((F.col("lvl") >= 2).cast("int")).cast("long").alias("n2"),
        F.sum((F.col("lvl") >= 3).cast("int")).cast("long").alias("n3"),
    )
    # ONE pass over the one-row agg: exploding a literal 3-element
    # stage-struct array replaces three selects unioned, which tripled
    # the whole upstream lineage (18-Exchange plan -> ~6; ReusedExchange
    # deduped some but not all of it)
    def _stage(i, name, n_users, conv):
        return F.struct(
            F.lit(i).alias("stage"), F.lit(name).alias("name"),
            n_users.cast("long").alias("n_users"),
            conv.cast("double").alias("conv_from_prev"),
        )

    stages = F.array(
        _stage(1, "view", F.col("n1"), F.lit(1.0)),
        _stage(2, "click", F.col("n2"),
               F.col("n2") / F.col("n1").cast("double")),
        _stage(3, "purchase", F.col("n3"),
               F.col("n3") / F.col("n2").cast("double")),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.name", "s.n_users", "s.conv_from_prev"
    )


@q(
    "streaming_funnel_drained",
    f"""{_EV},
u1 AS (SELECT host, MIN(CASE WHEN service = 'view' THEN "time" END) AS t1
       FROM ev GROUP BY host),
u2 AS (SELECT ev.host, MIN("time") AS t2
       FROM ev JOIN u1 USING (host)
       WHERE service = 'click' AND "time" > t1
         AND "time" <= t1 + 604800.0
       GROUP BY ev.host),
u3 AS (SELECT ev.host, MIN("time") AS t3
       FROM ev JOIN u2 USING (host)
       WHERE service = 'purchase' AND "time" > t2
         AND "time" <= t2 + 604800.0
       GROUP BY ev.host)
SELECT host, CAST(1 AS BIGINT) AS stage, 'view' AS name, t1 AS stage_time
FROM u1 WHERE t1 IS NOT NULL
UNION ALL
SELECT host, 2, 'click', t2 FROM u2
UNION ALL
SELECT host, 3, 'purchase', t3 FROM u3""",
)
def streaming_funnel_drained(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming funnel value-checked: the per-user state machine's
    drained emission log must equal the batch fixed-anchor funnel's
    (t1, t2, t3) stage table — one row per stage advance, nothing
    for stages never reached."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_funnel

    name = f"cat_fnl_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="fnl_ck_")
    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    raw = normalize_ts(raw, "ts")
    stream = streaming_funnel(normalize_events(raw))
    q_ = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "watermark_sizing_report",
    f"""{_EV},
lt AS (SELECT service, time_us,
              MAX(time_us) OVER (PARTITION BY service ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                - time_us AS late_us
       FROM ev),
d AS (SELECT unnest([0, 10, 60, 300]) AS delay_s)
SELECT delay_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       SUM(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS drop_frac
FROM lt CROSS JOIN d GROUP BY delay_s""",
)
def watermark_sizing_report(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark sizing from observed disorder: per service, an
    event's lateness is how far it sits behind the running maximum
    event time in ARRIVAL order (event_id — the stream's delivery
    order); for each candidate allowed-lateness (0/10/60/300 s) the
    report counts the events a `withWatermark` of that delay would
    drop. This is the measurement that turns "pick a watermark" from
    folklore into data — the engine's own streaming operators
    (streaming/ops.py windowed aggs, the index reaper) consume
    exactly this delay parameter.

    Scale shape: ONE (service) exchange + arrival-ordered running max
    (the per-key posture a per-source-partition audit has at deploy —
    a single global arrival order would serialize); the 4-delay frame
    is a broadcast unnest; output is 4 rows. Integer µs lateness,
    exact integer counts, one final division."""
    ev = load_events(spark, sf)
    wk = Window.partitionBy("service").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lt = ev.select(
        "service",
        (F.max("time_us").over(wk) - F.col("time_us")).alias("late_us"),
    )
    d = spark.range(1).select(
        F.explode(F.array(F.lit(0), F.lit(10), F.lit(60), F.lit(300))).alias(
            "delay_s"
        )
    )
    dropped = (F.col("late_us") > F.col("delay_s") * 1000000).cast("int")
    return (
        lt.crossJoin(F.broadcast(d))
        .groupBy("delay_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(dropped).cast("long").alias("n_dropped"),
            (F.sum(dropped) / F.count(F.lit(1)).cast("double")).alias(
                "drop_frac"
            ),
        )
    )


@q(
    "funnel_latency",
    f"""{_EV},
u1 AS (SELECT host, MIN(CASE WHEN service = 'view' THEN "time" END) AS t1
       FROM ev GROUP BY host),
u2 AS (SELECT ev.host, MIN("time") AS t2
       FROM ev JOIN u1 USING (host)
       WHERE service = 'click' AND "time" > t1
         AND "time" <= t1 + 604800.0
       GROUP BY ev.host),
u3 AS (SELECT ev.host, MIN("time") AS t3
       FROM ev JOIN u2 USING (host)
       WHERE service = 'purchase' AND "time" > t2
         AND "time" <= t2 + 604800.0
       GROUP BY ev.host),
d AS (SELECT 'view->click' AS step, t2 - t1 AS dt
      FROM u1 JOIN u2 USING (host)
      UNION ALL
      SELECT 'click->purchase', t3 - t2 FROM u2 JOIN u3 USING (host))
SELECT step, CAST(COUNT(*) AS BIGINT) AS n_conversions,
       MIN(dt) AS min_s, MAX(dt) AS max_s,
       (list_sort(list(dt)))[(COUNT(*) + 1) // 2] AS median_s,
       CAST(SUM(CAST(round(dt * 1000000.0) AS BIGINT)) AS DOUBLE)
         / 1000000.0 / COUNT(*) AS mean_s
FROM d GROUP BY step""",
)
def funnel_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert per funnel step (view→click, click→purchase):
    conversion counts, min/max, the floor-index median (sorted-list
    element (n+1)//2 — the sorted_sample determinism contract, no
    interpolation to disagree on), and the µs-quantized mean. The
    latency companion every funnel report ships with.

    Scale shape: reuses event_funnel's three user-keyed MIN
    aggregates on one partitioning; the latency rollup is a 2-row
    output with the median's sorted list bounded by conversions per
    step (at deploy: swap for the histogram-sketch percentile lane
    the percentiles operators provide)."""
    raw = load_parquet(spark, f"{sf}/events.parquet")
    ev = normalize_events(normalize_ts(raw, "ts"))
    u1 = ev.groupBy("host").agg(
        F.min(F.when(F.col("service") == "view", F.col("time"))).alias("t1")
    )
    u2 = (
        ev.join(u1, "host")
        .filter(
            (F.col("service") == "click")
            & (F.col("time") > F.col("t1"))
            & (F.col("time") <= F.col("t1") + 604800.0)
        )
        .groupBy("host")
        .agg(F.min("time").alias("t2"))
    )
    u3 = (
        ev.join(u2, "host")
        .filter(
            (F.col("service") == "purchase")
            & (F.col("time") > F.col("t2"))
            & (F.col("time") <= F.col("t2") + 604800.0)
        )
        .groupBy("host")
        .agg(F.min("time").alias("t3"))
    )
    # one host-keyed join chain (u2 hosts all carry a non-null t1 by
    # construction; t3 is null when the purchase never landed), then
    # explode a 2-element step-struct array filtered to non-null dt —
    # replaces two aggregated join branches unioned, which doubled the
    # u1/u2 lineage (8-Exchange plan)
    base = u2.join(u1, "host").join(u3, "host", "left")
    pairs = F.filter(
        F.array(
            F.struct(
                F.lit("view->click").alias("step"),
                (F.col("t2") - F.col("t1")).alias("dt"),
            ),
            F.struct(
                F.lit("click->purchase").alias("step"),
                (F.col("t3") - F.col("t2")).alias("dt"),
            ),
        ),
        lambda s: s["dt"].isNotNull(),
    )
    d = base.select(F.explode(pairs).alias("p")).select("p.step", "p.dt")
    n = F.count(F.lit(1))
    return d.groupBy("step").agg(
        n.cast("long").alias("n_conversions"),
        F.min("dt").alias("min_s"),
        F.max("dt").alias("max_s"),
        F.element_at(
            F.array_sort(F.collect_list("dt")), ((n + 1) / 2).cast("int")
        ).alias("median_s"),
        (
            F.sum(F.round(F.col("dt") * 1000000.0).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / 1000000.0
            / n
        ).alias("mean_s"),
    )


@q(
    "cohort_retention",
    """
WITH f AS (SELECT user_id,
                  MIN(epoch_us(ts)) // 604800000000 AS cohort_w
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
      FROM events),
c0 AS (SELECT cohort_w, CAST(COUNT(*) AS BIGINT) AS cohort_size
       FROM f GROUP BY cohort_w)
SELECT f.cohort_w, a.w - f.cohort_w AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       MAX(cohort_size) AS cohort_size,
       COUNT(*) / CAST(MAX(cohort_size) AS DOUBLE) AS retention
FROM a JOIN f USING (user_id) JOIN c0 USING (cohort_w)
WHERE a.w >= f.cohort_w
GROUP BY f.cohort_w, week_offset""",
)
def cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the week of
    their first 'signup' event, and each (cohort week, weeks-since)
    cell counts the cohort members active in that week — the
    product-analytics staple beside event_funnel, over the same
    events the monitoring operators read.

    Scale shape: first-signup and distinct-activity both shuffle on
    user_id and the cohort join reuses that partitioning; weeks are
    exact integer epoch-µs divisions (no timezone/date-parse
    divergence possible); the cohort-size table is key-cardinality
    and broadcasts. Output is cohorts × offsets rows; one final
    division per cell."""
    raw = load_parquet(spark, f"{sf}/events.parquet")
    e = normalize_ts(raw, "ts").select(
        "user_id",
        F.col("event_type"),
        F.expr("unix_micros(ts) div 604800000000").alias("w"),
    )
    f = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_w"))
    )
    a = e.select("user_id", "w").distinct()
    c0 = f.groupBy("cohort_w").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    j = (
        a.join(f, "user_id")
        .filter(F.col("w") >= F.col("cohort_w"))
        .join(F.broadcast(c0), "cohort_w")
    )
    return j.groupBy(
        "cohort_w", (F.col("w") - F.col("cohort_w")).alias("week_offset")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.max("cohort_size").alias("cohort_size"),
        (
            F.count(F.lit(1)) / F.max("cohort_size").cast("double")
        ).alias("retention"),
    )


# ------------------------------------------------- round-8 additions

@q(
    "mad_outliers",
    f"""{_EV},
m AS (SELECT service,
        (list_sort(list(metric)))[(COUNT(*) + 1) // 2] AS med
      FROM ev WHERE metric IS NOT NULL GROUP BY service),
a AS (SELECT ev.event_id, ev.service, ev.metric, m.med
      FROM ev JOIN m USING (service) WHERE ev.metric IS NOT NULL),
d AS (SELECT service,
        (list_sort(list(abs(metric - med))))[(COUNT(*) + 1) // 2] AS mad
      FROM a GROUP BY service)
SELECT a.event_id, a.service, a.metric, a.med, d.mad,
       0.6745 * (a.metric - a.med) / d.mad AS rz
FROM a JOIN d USING (service)
WHERE d.mad > 0.0
  AND abs(0.6745 * (a.metric - a.med) / d.mad) > 3.5""",
)
def mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier detection by modified z-score (Iglewicz-Hoaglin
    0.6745*(x-median)/MAD, |rz| > 3.5) — the heavy-tail-safe sibling
    of anomaly_zscore: mean/stddev break on the very outliers being
    hunted, medians don't. Medians use the repo's floor-index
    convention (sorted-list element (n+1)//2 — no interpolation for
    engines to disagree on).

    Scale shape: two service-keyed aggregates on one partitioning +
    two model-sized broadcast joins back; the sorted list per service
    is the exact tier (at deploy: swap for the histogram-sketch
    median the percentiles lane provides, same shape as
    funnel_latency's documented swap). Zero corpus-sized shuffles
    beyond the one service exchange."""
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    n = F.count(F.lit(1))
    med_at = F.element_at(
        F.array_sort(F.collect_list("metric")), ((n + 1) / 2).cast("int")
    )
    m = ev.groupBy("service").agg(med_at.alias("med"))
    a = ev.join(F.broadcast(m), "service").select(
        "event_id", "service", "metric", "med"
    )
    mad_at = F.element_at(
        F.array_sort(F.collect_list(F.abs(F.col("metric") - F.col("med")))),
        ((n + 1) / 2).cast("int"),
    )
    d = a.groupBy("service").agg(mad_at.alias("mad"))
    rz = 0.6745 * (F.col("metric") - F.col("med")) / F.col("mad")
    return (
        a.join(F.broadcast(d), "service")
        .filter((F.col("mad") > 0.0) & (F.abs(rz) > 3.5))
        .select("event_id", "service", "metric", "med", "mad", rz.alias("rz"))
    )


@q(
    "session_funnel",
    f"""{_EV},
s AS (SELECT host, service, event_id, time_us,
        CASE WHEN lag(time_us) OVER w IS NULL
                  OR time_us - lag(time_us) OVER w > 1800000000
             THEN 1 ELSE 0 END AS nw
      FROM ev WINDOW w AS (PARTITION BY host ORDER BY time_us, event_id)),
sid AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY host ORDER BY time_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM s),
u1 AS (SELECT host, session_id,
              MIN(CASE WHEN service = 'view' THEN time_us END) AS t1
       FROM sid GROUP BY host, session_id),
u2 AS (SELECT sid.host, sid.session_id, MIN(time_us) AS t2
       FROM sid JOIN u1 USING (host, session_id)
       WHERE service = 'click' AND time_us > t1
       GROUP BY sid.host, sid.session_id),
u3 AS (SELECT sid.host, sid.session_id, MIN(time_us) AS t3
       FROM sid JOIN u2 USING (host, session_id)
       WHERE service = 'purchase' AND time_us > t2
       GROUP BY sid.host, sid.session_id),
agg AS (SELECT
   CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
   CAST(COUNT(t2) AS BIGINT) AS n2,
   CAST(COUNT(t3) AS BIGINT) AS n3
 FROM u1 LEFT JOIN u2 USING (host, session_id)
         LEFT JOIN u3 USING (host, session_id))
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS name, n1 AS n_sessions,
         1.0 AS conv_from_prev FROM agg
  UNION ALL
  SELECT 2, 'click', n2, n2 / CAST(n1 AS DOUBLE) FROM agg
  UNION ALL
  SELECT 3, 'purchase', n3, n3 / CAST(n2 AS DOUBLE) FROM agg)""",
)
def session_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Session-scoped conversion funnel: the fixed-anchor view ->
    click -> purchase chain of event_funnel, bounded by the SESSION
    instead of a 7-day window — conversions must complete within one
    30-minute-gap activity session (sessionize's islands), which is
    how product funnels are usually read day-to-day. Composes the two
    verified shapes: gaps-and-islands session ids, then per-(host,
    session) conditional MINs chained by strictly-after, then ONE
    one-row aggregate exploded into the literal stage array
    (event_funnel's single-agg plan).

    Scale shape (r14): ONE host-keyed exchange end-to-end. The three
    MIN chains are cascaded unbounded window MINs over (host,
    session_id) — t1 = min view time; t2 = min click time > t1; t3 =
    min purchase time > t2 — stacked directly on sessionize's host
    partitioning (the (host, session_id) clustering is satisfied by
    the subset rule), then ONE per-session dedup aggregate and the
    one-row rollup. The old plan planned the sessionize double-window
    subtree three times (12 Window nodes, 3 event scans) and joined
    u1/u2/u3 back twice each; the rewrite scans events once and has
    no joins at all."""
    ev = load_events(spark, sf)
    w = Window.partitionBy("host").orderBy("time_us", "event_id")
    nw = F.when(
        F.lag("time_us").over(w).isNull()
        | (F.col("time_us") - F.lag("time_us").over(w) > 1800000000),
        1,
    ).otherwise(0)
    sid = ev.select(
        "host", "service", "event_id", "time_us", nw.alias("nw")
    ).withColumn(
        "session_id",
        F.sum("nw").over(
            Window.partitionBy("host")
            .orderBy("time_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    wsess = Window.partitionBy("host", "session_id")
    # t1 null ⇒ time_us > t1 is null ⇒ WHEN misses ⇒ t2 null (the
    # old inner-join-with-u1 semantics); same chaining for t3.
    sid = (
        sid.withColumn(
            "t1",
            F.min(F.when(F.col("service") == "view", F.col("time_us"))).over(wsess),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("service") == "click")
                    & (F.col("time_us") > F.col("t1")),
                    F.col("time_us"),
                )
            ).over(wsess),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("service") == "purchase")
                    & (F.col("time_us") > F.col("t2")),
                    F.col("time_us"),
                )
            ).over(wsess),
        )
    )
    per_sess = sid.groupBy("host", "session_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"),
        F.min("t3").alias("t3"),
    )
    agg = per_sess.agg(
        F.sum(F.col("t1").isNotNull().cast("int")).cast("long").alias("n1"),
        F.count("t2").cast("long").alias("n2"),
        F.count("t3").cast("long").alias("n3"),
    )

    def _stage(i, name, n, conv):
        return F.struct(
            F.lit(i).alias("stage"), F.lit(name).alias("name"),
            n.cast("long").alias("n_sessions"),
            conv.cast("double").alias("conv_from_prev"),
        )

    stages = F.array(
        _stage(1, "view", F.col("n1"), F.lit(1.0)),
        _stage(2, "click", F.col("n2"), F.col("n2") / F.col("n1").cast("double")),
        _stage(3, "purchase", F.col("n3"), F.col("n3") / F.col("n2").cast("double")),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        "s.stage", "s.name", "s.n_sessions", "s.conv_from_prev"
    )


@q(
    "streaming_mad_gate",
    f"""{_EV},
mid AS (SELECT (MIN(time_us) + MAX(time_us)) // 2 AS m FROM ev),
b AS (SELECT service, metric FROM ev CROSS JOIN mid
      WHERE time_us <= m AND metric IS NOT NULL),
md AS (SELECT service,
         (list_sort(list(metric)))[(COUNT(*) + 1) // 2] AS med
       FROM b GROUP BY service),
dd AS (SELECT b.service,
         (list_sort(list(abs(b.metric - md.med))))[(COUNT(*) + 1) // 2]
           AS mad
       FROM b JOIN md USING (service) GROUP BY b.service),
live AS (SELECT event_id, service, metric FROM ev CROSS JOIN mid
         WHERE time_us > m AND metric IS NOT NULL)
SELECT live.event_id, live.service, live.metric, md.med, dd.mad,
       CASE WHEN dd.mad > 0.0
            THEN 0.6745 * (live.metric - md.med) / dd.mad END AS rz,
       dd.mad > 0.0
         AND abs(0.6745 * (live.metric - md.med) / dd.mad) > 3.5
         AS flagged
FROM live JOIN md USING (service) JOIN dd USING (service)""",
)
def streaming_mad_gate(spark: SparkSession, sf: str) -> DataFrame:
    """INGEST-TIME robust-outlier gate — the streaming sibling of
    mad_outliers, in streaming_drift_gate's posture: the reference
    half of the stream trains per-service (median, MAD) baselines
    (floor-index medians, the exact tier), and every LIVE event is
    scored at arrival by the modified z-score — |rz| > 3.5 flags,
    heavy-tail-safe where a trailing mean/stddev gate
    (anomaly_zscore) is itself skewed by the outliers being hunted.

    STATELESS streaming plan: the baseline is a model-sized static
    frame (|services| rows) broadcast into a stream-static join — no
    state, no watermark, scales with source partitions; retraining
    is redeploying the baseline frame, the same operational shape a
    quantizer or classifier gate has."""
    import tempfile
    import uuid as _uuid

    name = f"cat_smg_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="smg_ck_")
    ev = load_events(spark, sf)
    mid = ev.agg(
        F.expr("(MIN(time_us) + MAX(time_us)) DIV 2").alias("m")
    ).first()["m"]
    b = ev.filter(
        (F.col("time_us") <= mid) & F.col("metric").isNotNull()
    ).select("service", "metric")
    n = F.count(F.lit(1))
    md = b.groupBy("service").agg(
        F.element_at(
            F.array_sort(F.collect_list("metric")), ((n + 1) / 2).cast("int")
        ).alias("med")
    )
    dd = (
        b.join(F.broadcast(md), "service")
        .groupBy("service")
        .agg(
            F.element_at(
                F.array_sort(
                    F.collect_list(F.abs(F.col("metric") - F.col("med")))
                ),
                ((n + 1) / 2).cast("int"),
            ).alias("mad")
        )
    )
    base = md.join(dd, "service")

    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    sev = normalize_events(normalize_ts(raw, "ts")).filter(
        (F.col("time_us") > mid) & F.col("metric").isNotNull()
    ).select("event_id", "service", "metric")
    rz = 0.6745 * (F.col("metric") - F.col("med")) / F.col("mad")
    flagged = sev.join(F.broadcast(base), "service").select(
        "event_id",
        "service",
        "metric",
        "med",
        "mad",
        F.when(F.col("mad") > 0.0, rz).alias("rz"),
        ((F.col("mad") > 0.0) & (F.abs(rz) > 3.5)).alias("flagged"),
    )
    q_ = (
        flagged.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


_QM = (
    "CAST(SUM(CAST(round({x} * 1000000.0) AS BIGINT)) AS DOUBLE)"
    " / 1000000.0 / COUNT(*)"
)


@q(
    "cusum_alerts",
    f"""{_EV},
st AS (SELECT host, service,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {_QM.format(x='metric')} AS mu,
         {_QM.format(x='metric * metric')} AS m2
       FROM ev WHERE metric IS NOT NULL GROUP BY host, service),
p AS (SELECT host, service, n_events, mu,
             sqrt(greatest(m2 - mu * mu, 0.0)) AS sd FROM st),
d AS (SELECT ev.host, ev.service,
             CAST(round((ev.metric - p.mu - 0.5 * p.sd) * 1000000.0)
                  AS BIGINT) AS dq,
             CAST(round(5.0 * p.sd * 1000000.0) AS BIGINT) AS hq,
             ev.time_us, ev.event_id
      FROM ev JOIN p USING (host, service)
      WHERE ev.metric IS NOT NULL),
c0 AS (SELECT host, service, hq,
              row_number() OVER w AS rn,
              SUM(dq) OVER w AS cum
       FROM d
       WINDOW w AS (PARTITION BY host, service ORDER BY time_us, event_id
                    ROWS UNBOUNDED PRECEDING)),
c AS (SELECT host, service, hq, rn, cum,
             least(CAST(0 AS BIGINT),
                   MIN(cum) OVER (PARTITION BY host, service ORDER BY rn
                                  ROWS UNBOUNDED PRECEDING)) AS runmin
      FROM c0),  -- rn preserves (time_us, event_id) order: same fold
x AS (SELECT host, service, rn, hq, cum - runmin AS s,
             lag(cum - runmin, 1, CAST(0 AS BIGINT))
               OVER (PARTITION BY host, service ORDER BY rn) AS s_prev
      FROM c),
a AS (SELECT host, service,
             CAST(SUM(CASE WHEN s > hq AND s_prev <= hq
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
             MIN(CASE WHEN s > hq AND s_prev <= hq THEN rn END)
               AS first_alarm_pos
      FROM x GROUP BY host, service)
SELECT p.host, p.service, p.n_events, p.mu, p.sd,
       a.n_alarms, a.first_alarm_pos
FROM p JOIN a USING (host, service)""",
)
def cusum_alerts(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint alarms (Page 1954, one-sided positive
    scheme, non-restart form): per key, S_i = max(0, S_(i-1) + x_i -
    mu - k) with slack k = 0.5*sigma; a crossing of h = 5*sigma is an
    alarm — the small-persistent-shift detector a threshold or
    z-score gate misses (each sample individually unremarkable, the
    cumulative drift is not). Output per key: crossing count and the
    1-based position of the first alarm.

    The recursion has a closed form — S_i = cum_i - min(0,
    min_(j<=i) cum_j), the running sum minus its running minimum —
    so the whole detector is WINDOW algebra: no per-key array, no
    sequential fold, one (host, service) exchange shared by every
    pass. Increments ride a 1e-6 quantized-integer grid, so the
    windowed running sums are exact integers in both engines (a
    double running sum would diverge: DuckDB computes windowed
    aggregates via segment trees, reordering IEEE adds). Chosen over
    the fold form deliberately: the fold oracle hit a DuckDB 1.0.0
    executor bug (list_reduce results permuted across grouped rows at
    sf0.1 data volume, thread-count dependent — key-filtered runs
    correct, full runs misassociated; Spark and a Python replay
    agree), and the window form is the better 100 TB plan anyway."""
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    q6 = F.lit(1e6)

    def qmean(col):
        return (
            F.sum(F.round(col * q6).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / q6
            / F.count(F.lit(1))
        )

    st = ev.groupBy("host", "service").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        qmean(F.col("metric")).alias("mu"),
        qmean(F.col("metric") * F.col("metric")).alias("m2"),
    )
    p = st.select(
        "host", "service", "n_events", "mu",
        F.sqrt(
            F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0))
        ).alias("sd"),
    )
    # p is KEY-cardinality (one row per host x service) — never
    # broadcast it; the sort-merge join shares the same (host,
    # service) exchange every window below rides, and all four window
    # passes keep ONE sort order so Catalyst reuses the sort
    d = ev.join(p, ["host", "service"]).select(
        "host", "service", "time_us", "event_id",
        F.round((F.col("metric") - F.col("mu") - 0.5 * F.col("sd")) * q6)
        .cast("long").alias("dq"),
        F.round(5.0 * F.col("sd") * q6).cast("long").alias("hq"),
    )
    ww = Window.partitionBy("host", "service").orderBy("time_us", "event_id")
    w = ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select(
        "host", "service", "hq", "time_us", "event_id",
        F.row_number().over(ww).alias("rn"),
        F.sum("dq").over(w).alias("cum"),
    ).withColumn(
        "runmin",
        F.least(F.lit(0).cast("long"), F.min("cum").over(w)),
    )
    x = c.select(
        "host", "service", "rn", "hq", "time_us", "event_id",
        (F.col("cum") - F.col("runmin")).alias("s"),
    ).withColumn("s_prev", F.lag("s", 1, 0).over(ww))
    crossing = (F.col("s") > F.col("hq")) & (F.col("s_prev") <= F.col("hq"))
    a = x.groupBy("host", "service").agg(
        F.sum(crossing.cast("int")).cast("long").alias("n_alarms"),
        F.min(F.when(crossing, F.col("rn"))).alias("first_alarm_pos"),
    )
    return p.join(a, ["host", "service"]).select(
        "host", "service", "n_events", "mu", "sd",
        "n_alarms", "first_alarm_pos",
    )


@q(
    "streaming_cusum_drained",
    f"""{_EV},
st AS (SELECT host, service,
         {_QM.format(x='metric')} AS mu,
         {_QM.format(x='metric * metric')} AS m2
       FROM ev WHERE metric IS NOT NULL GROUP BY host, service),
p AS (SELECT host, service, mu,
             sqrt(greatest(m2 - mu * mu, 0.0)) AS sd FROM st),
d AS (SELECT ev.host, ev.service, ev.event_id,
             CAST(round((ev.metric - p.mu - 0.5 * p.sd) * 1000000.0)
                  AS BIGINT) AS dq,
             -- h = 2.5*sigma here (the batch report uses 5): the
             -- drained gate needs a healthy crossing set at sf0.01
             CAST(round(2.5 * p.sd * 1000000.0) AS BIGINT) AS hq,
             ev.time_us
      FROM ev JOIN p USING (host, service)
      WHERE ev.metric IS NOT NULL),
c0 AS (SELECT host, service, event_id, hq,
              row_number() OVER w AS rn,
              SUM(dq) OVER w AS cum
       FROM d
       WINDOW w AS (PARTITION BY host, service ORDER BY time_us, event_id
                    ROWS UNBOUNDED PRECEDING)),
c AS (SELECT host, service, event_id, hq, rn, cum,
             least(CAST(0 AS BIGINT),
                   MIN(cum) OVER (PARTITION BY host, service ORDER BY rn
                                  ROWS UNBOUNDED PRECEDING)) AS runmin
      FROM c0),
x AS (SELECT host, service, event_id, rn, hq, cum - runmin AS s,
             lag(cum - runmin, 1, CAST(0 AS BIGINT))
               OVER (PARTITION BY host, service ORDER BY rn) AS s_prev
      FROM c)
SELECT host, service, CAST(rn AS BIGINT) AS pos, event_id,
       CAST(s AS BIGINT) AS s_q
FROM x WHERE s > hq AND s_prev <= hq""",
)
def streaming_cusum_drained(spark: SparkSession, sf: str) -> DataFrame:
    """streaming_cusum value-checked: the stateful alert stream's
    drained emission log (per-key integer CUSUM on the 1e-6 grid,
    per-event baselines stream-static-joined) must equal the batch
    window algebra's crossing rows — same positions, same event ids,
    same exact integer statistic at the crossing. The recursion
    max(0, S + d) IS the closed form cum - min(0, running-min cum),
    so the two lanes are provably the same fold."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import streaming_cusum

    name = f"cat_scsm_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="scsm_ck_")
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    q6 = F.lit(1e6)

    def qmean(col):
        return (
            F.sum(F.round(col * q6).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / q6
            / F.count(F.lit(1))
        )

    st = ev.groupBy("host", "service").agg(
        qmean(F.col("metric")).alias("mu"),
        qmean(F.col("metric") * F.col("metric")).alias("m2"),
    )
    p = st.select(
        "host", "service", "mu",
        F.sqrt(
            F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0))
        ).alias("sd"),
    )

    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    sev = normalize_events(normalize_ts(raw, "ts")).filter(
        F.col("metric").isNotNull()
    ).join(F.broadcast(p), ["host", "service"])
    out = streaming_cusum(sev, h_sigma=2.5)
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


@q(
    "streaming_retrain_trigger_drained",
    f"""{_EV},
st AS (SELECT host, service,
         {_QM.format(x='metric')} AS mu,
         {_QM.format(x='metric * metric')} AS m2
       FROM ev WHERE metric IS NOT NULL GROUP BY host, service),
p AS (SELECT host, service,
             CAST(round(mu * 1000000.0) AS BIGINT) AS mu_q,
             CAST(round(sqrt(greatest(m2 - mu * mu, 0.0)) * 1000000.0)
                  AS BIGINT) AS sd_q
      FROM st),
w AS (SELECT host, service, time_us // 3600000000 AS b,
             CAST(SUM(CAST(round(metric * 1000000.0) AS BIGINT))
                  AS BIGINT) AS sum_q,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev WHERE metric IS NOT NULL GROUP BY host, service, b),
mx AS (SELECT host, service, MAX(b) AS maxb FROM w GROUP BY host, service),
c AS (SELECT w.host, w.service, w.b, w.sum_q, w.n,
             4 * abs(w.sum_q - w.n * p.mu_q) > 1 * w.n * p.sd_q AS drifted
      FROM w JOIN p USING (host, service) JOIN mx USING (host, service)
      WHERE w.b < mx.maxb),
r AS (SELECT *, SUM(CASE WHEN drifted THEN 0 ELSE 1 END)
                  OVER (PARTITION BY host, service ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS grp
      FROM c),
k AS (SELECT host, service, b, sum_q, n,
             row_number() OVER (PARTITION BY host, service, grp
                                ORDER BY b) AS consec
      FROM r WHERE drifted)
SELECT host, service, CAST(b AS BIGINT) AS window_id, n, sum_q
FROM k WHERE consec = 2""",
)
def streaming_retrain_trigger_drained(spark: SparkSession, sf: str) -> DataFrame:
    """streaming_retrain_trigger value-checked: the stateful trigger
    stream's drained emission log — per-key hourly windows, drift =
    |mean − mu| > sd/4 as pure integer algebra on the 1e-6 grid,
    trigger at the 2nd consecutive drifted CLOSED window — must equal
    the batch window algebra over the same series: the oracle rebuilds
    the closed-window sequence (each key's last window never closes —
    excluded on both sides by construction), marks drift with the
    identical integer inequality, and numbers consecutive drifts with
    a run-partitioned row_number. Green means the streaming fold and
    the relational closed form are the same function.

    Scale: the baseline is a model-sized broadcast; state is four
    scalars per key; emission is crossing-only (sparse at any rate)."""
    import tempfile
    import uuid as _uuid

    from riemann_spark.streaming.stateful_ops import (
        streaming_retrain_trigger,
    )

    name = f"cat_srt_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="srt_ck_")
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    q6 = F.lit(1e6)

    def qmean(col):
        return (
            F.sum(F.round(col * q6).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / q6
            / F.count(F.lit(1))
        )

    st = ev.groupBy("host", "service").agg(
        qmean(F.col("metric")).alias("mu"),
        qmean(F.col("metric") * F.col("metric")).alias("m2"),
    )
    p = st.select(
        "host", "service", "mu",
        F.sqrt(
            F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0))
        ).alias("sd"),
    )

    raw_schema = parquet_schema(spark, f"{sf}/events.parquet")
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    sev = normalize_events(normalize_ts(raw, "ts")).filter(
        F.col("metric").isNotNull()
    ).join(F.broadcast(p), ["host", "service"])
    out = streaming_retrain_trigger(sev, m_windows=2, frac_num=1, frac_den=4)
    q_ = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q_.processAllAvailable()
    q_.stop()
    return spark.table(name)


_HW_A, _HW_B, _HW_G, _HW_M = 0.2, 0.1, 0.3, 6


@q(
    "holt_winters_forecast",
    f"""{_EV.replace('WITH ', 'WITH RECURSIVE ', 1)},
hr AS (SELECT host, service,
              time_us // 3600000000 AS b,
              CAST(SUM(CAST(metric AS DECIMAL(38,6))) AS DOUBLE) AS y
       FROM ev WHERE metric IS NOT NULL GROUP BY host, service, b),
srt AS (SELECT host, service, y,
               row_number() OVER (PARTITION BY host, service ORDER BY b)
                 AS t
        FROM hr),
g AS (SELECT host, service,
             array_agg(y ORDER BY t) AS ys,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM srt GROUP BY host, service
      HAVING COUNT(*) >= 2 * {_HW_M}),
ini AS (SELECT host, service, ys, n,
          CAST(SUM(CASE WHEN t <= {_HW_M}
                   THEN CAST(round(y * 1000000.0) AS BIGINT) END) AS DOUBLE)
            / 1000000.0 / {_HW_M} AS l0,
          (CAST(SUM(CASE WHEN t > {_HW_M} AND t <= 2 * {_HW_M}
                    THEN CAST(round(y * 1000000.0) AS BIGINT) END) AS DOUBLE)
             / 1000000.0 / {_HW_M}
           - CAST(SUM(CASE WHEN t <= {_HW_M}
                     THEN CAST(round(y * 1000000.0) AS BIGINT) END) AS DOUBLE)
             / 1000000.0 / {_HW_M})
            / {_HW_M}.0 AS t0
        FROM srt JOIN g USING (host, service)
        WHERE t <= 2 * {_HW_M}
        GROUP BY host, service, ys, n),
rec AS (
  SELECT host, service, ys, n,
         CAST({_HW_M} AS BIGINT) AS t, l0 AS lv, t0 AS tr,
         list_transform(ys[1:{_HW_M}], v -> v - l0) AS ring
  FROM ini
  UNION ALL
  SELECT host, service, ys, n, t + 1,
         {_HW_A} * (ys[t + 1] - ring[1])
           + (1.0 - {_HW_A}) * (lv + tr),
         {_HW_B} * (({_HW_A} * (ys[t + 1] - ring[1])
                     + (1.0 - {_HW_A}) * (lv + tr)) - lv)
           + (1.0 - {_HW_B}) * tr,
         list_append(ring[2:],
           {_HW_G} * (ys[t + 1]
                      - ({_HW_A} * (ys[t + 1] - ring[1])
                         + (1.0 - {_HW_A}) * (lv + tr)))
             + (1.0 - {_HW_G}) * ring[1])
  FROM rec WHERE t < n)
SELECT host, service, n AS n_points,
       round(lv, 9) AS level, round(tr, 9) AS trend,
       round(lv + tr + ring[1], 9) AS forecast_next
FROM rec WHERE t = n""",
)
def holt_winters_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt-Winters additive seasonal forecast (the triple-exponential
    sibling of holt_forecast): per key the events roll up to an exact
    hourly series, then the standard three coupled recursions (level
    alpha={_HW_A}, trend beta={_HW_B}, season gamma={_HW_G}, period
    m={_HW_M}) run over it; output is the final level/trend and the
    one-step-ahead forecast level+trend+season — the capacity-planning
    operator a plain trend forecast gets wrong on anything with a
    daily rhythm. Keys need >= 2m points (init takes the first two
    periods: level = first-period mean, trend = period-mean slope,
    seasonals = first-period residuals).

    Engine-exactness: hourly sums are exact decimals, init means ride
    the 1e-6 quantized grid, and the recursion is evaluated in the
    identical scalar order on both sides — Spark folds the series
    with a struct accumulator; the oracle runs the same recursion as
    a RECURSIVE CTE (deliberately NOT a grouped list_reduce — the
    DuckDB 1.0.0 fold-permutation bug documented at cusum_alerts),
    one row per (key, step), ~n-m steps. Scale shape: the rollup and
    ordered collect share one (host, service) exchange; the fold is
    per-key linear over ~dozens of hourly points, never raw events."""
    ev = load_events(spark, sf).filter(F.col("metric").isNotNull())
    m = _HW_M
    hr = ev.groupBy(
        "host", "service",
        F.expr("time_us DIV 3600000000").alias("b"),
    ).agg(
        F.sum(F.col("metric").cast("decimal(38,6)"))
        .cast("double").alias("y")
    )
    # r14: the rank window (row_number over b) existed only to address
    # "first m / second m" rows for the init means — but those are
    # slices of the b-sorted array the same aggregate already collects,
    # and the means ride a 1e-6 integer grid, so a long-sum over the
    # slice is bit-identical to the old decimal conditional-sum in any
    # order. Dropping the window removes a Sort+Window pass; the plan
    # is two exchanges (hourly rollup, per-key collect), nothing else.
    q6 = F.lit(1e6)

    def qmean_slice(arr):
        return (
            F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, v: acc + F.round(v * q6).cast("long"),
            ).cast("double")
            / q6
            / float(m)
        )

    g = (
        hr.groupBy("host", "service")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "y"))), lambda s: s.y
            ).alias("ys"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 2 * m)
        .withColumn("l0", qmean_slice(F.slice("ys", 1, m)))
        .withColumn(
            "t0",
            (qmean_slice(F.slice("ys", m + 1, m)) - F.col("l0")) / float(m),
        )
    )

    a, b_, gm = F.lit(_HW_A), F.lit(_HW_B), F.lit(_HW_G)
    init = F.struct(
        F.col("l0").alias("lv"),
        F.col("t0").alias("tr"),
        F.transform(
            F.slice("ys", 1, m), lambda v: v - F.col("l0")
        ).alias("ring"),
    )

    def step(acc, y):
        lv2 = a * (y - F.element_at(acc["ring"], 1)) + (1.0 - a) * (
            acc["lv"] + acc["tr"]
        )
        tr2 = b_ * (lv2 - acc["lv"]) + (1.0 - b_) * acc["tr"]
        s2 = gm * (y - lv2) + (1.0 - gm) * F.element_at(acc["ring"], 1)
        return F.struct(
            lv2.alias("lv"),
            tr2.alias("tr"),
            F.concat(
                F.slice(acc["ring"], 2, m - 1), F.array(s2)
            ).alias("ring"),
        )

    r = F.aggregate(
        F.slice("ys", m + 1, F.size("ys") - m), init, step
    )
    return g.select(
        "host", "service", F.col("n").alias("n_points"),
        F.round(r["lv"], 9).alias("level"),
        F.round(r["tr"], 9).alias("trend"),
        F.round(r["lv"] + r["tr"] + F.element_at(r["ring"], 1), 9)
        .alias("forecast_next"),
    )
