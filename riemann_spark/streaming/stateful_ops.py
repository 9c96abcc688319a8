"""Custom stateful streaming operators (SURVEY §4 items 3-4 — the
pieces with no Catalyst/built-in equivalent).

All are per-key state machines written against the
``applyInPandasWithState`` contract and routed through
``state_api.apply_with_state``; each declares its state shape and
timeout mode in the ``state_schema``/``timeout`` it passes there.
Within a micro-batch, rows are processed in
(time, event_id) order — the deterministic stand-in for the
reference's arrival order; cross-batch disorder is handled by each
operator's own semantics (ewma's negative Δt branch, the index's
max-by-time).

- ``streaming_ewma``: half-life EWMA (streams.clj:979-1013) — exact
  port of the three Δt branches: decay r^Δt forward, back-decayed
  contribution for out-of-order events, plain accumulation at Δt=0.
- ``streaming_moving_event_window``: count-based sliding window
  (streams.clj:292-303) — last-n buffer per key, windowed sum/count
  emitted per event.
- ``streaming_top``: top-k with demotion (streams.clj:1015-1100) —
  the dual top/bottom split including the lazy demotion event when a
  key is bumped. Global k-sized state on one group: feed it the
  latest-per-key stream (the index output), not the raw firehose —
  the state is O(k), but the single group serializes; k is small by
  construction (alerting dashboards).
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from riemann_spark.streaming.state_api import apply_with_state

_EV_OUT = StructType(
    [
        StructField("host", StringType()),
        StructField("service", StringType()),
        StructField("event_id", LongType()),
        StructField("time", DoubleType()),
        StructField("metric", DoubleType()),
    ]
)


def _sorted_rows(pdfs: Iterator[pd.DataFrame], cols: list[str]) -> pd.DataFrame:
    parts = [pdf[cols] for pdf in pdfs]
    if not parts:
        return pd.DataFrame(columns=cols)
    out = pd.concat(parts, ignore_index=True)
    return out.sort_values(["time", "event_id"])


# ------------------------------------------------------------- ewma --

def streaming_ewma(sdf: DataFrame, halflife: float, keys: Sequence[str] = ("host", "service")) -> DataFrame:
    """Half-life EWMA per key (streams.clj:979-1013)."""
    r = math.exp(math.log(0.5) / halflife)  # c-existing
    c_new = 1.0 - r

    state_schema = StructType(
        [StructField("m", DoubleType()), StructField("t", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        # Reference emission contract (streams.clj:1012 merge event
        # m-new): the emitted event carries the STATE's time — the
        # ratcheted time-old for the negative/zero Δt branches, never
        # the out-of-order event's own earlier time (streams_test.clj:
        # 1283-1290 expects {:metric 0.875 :time 2} for the t=1
        # straggler) — and a nil-metric event passes through UNCHANGED
        # (m-new nil ⇒ merge is identity, state untouched).
        host, service = key
        m, t_state = state.get if state.exists else (0.0, None)
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            t_event = None if pd.isna(row.time) else float(row.time)
            if pd.isna(row.metric):
                out.append((host, service, int(row.event_id), t_event, None))
                continue
            t_new = t_event if t_event is not None else 0.0
            t_old = t_state if t_state is not None else t_new
            dt = t_new - t_old
            x = float(row.metric)
            if dt > 0:
                m = c_new * x + m * (r ** dt)
                t_state = t_new
            elif dt < 0:
                m = m + c_new * x * (r ** abs(dt))
                t_state = t_old
            else:
                m = m + c_new * x
                t_state = t_old
            out.append((host, service, int(row.event_id), t_state, m))
        state.update((m, t_state if t_state is not None else 0.0))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in _EV_OUT.fields])

    return apply_with_state(
        sdf, keys, update, _EV_OUT, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ---------------------------------------------- count sliding window --

def streaming_moving_event_window(
    sdf: DataFrame, n: int, keys: Sequence[str] = ("host", "service")
) -> DataFrame:
    """moving-event-window n, streaming: per-key last-n buffer, emits
    the trailing-window sum and count at every event."""
    out_schema = StructType(
        list(_EV_OUT.fields)
        + [StructField("window_sum", DoubleType()), StructField("window_n", LongType())]
    )
    state_schema = StructType([StructField("buf", ArrayType(DoubleType()))])

    def update(key, pdfs, state: GroupState):
        host, service = key
        (buf,) = state.get if state.exists else ([],)
        buf = list(buf)
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            if not pd.isna(row.metric):
                buf.append(float(row.metric))
                del buf[:-n]
            out.append(
                (
                    host,
                    service,
                    int(row.event_id),
                    float(row.time),
                    float(row.metric) if not pd.isna(row.metric) else None,
                    float(sum(buf)),
                    len(buf),
                )
            )
        state.update((buf,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ----------------------------------------------- time sliding window --

def streaming_moving_time_window(
    sdf: DataFrame, n_seconds: float, keys: Sequence[str] = ("host", "service")
) -> DataFrame:
    """moving-time-window n, streaming EXACT port (streams.clj:322-353):
    a sliding window of all events with times within the last n seconds,
    using the maximum event time seen so far as the present-time
    horizon. Every event that lands inside the window re-emits the
    ENTIRE buffer — one output row per (trigger event, buffered event),
    the flattened form of the reference's vector-of-events emission.

    Reference semantics preserved exactly:
    - the cutoff RATCHETS (``max cutoff (t - n)``) — a late event never
      moves the horizon backwards;
    - an event at or before the cutoff is dropped without emitting
      (``send?`` false);
    - events without times accrue in every window and always emit.

    State is the per-key horizon buffer: O(events in the last n
    seconds) per key, the same bound as the reference's atom. Within a
    micro-batch rows are processed in (time, event_id) order, so a
    drained single-batch run is a pure function of the event sequence
    and admits a relational oracle (per-key range self-join).

    DEPLOY CAVEAT — output volume, not state, is the bound that bites
    at scale: the contract re-emits the whole horizon buffer per
    event, so output is O(events x window density) — a key doing
    1k events/s through a 60 s window emits ~60M rows/s. That is
    faithful to the reference (each downstream child receives the full
    vector per event) but at 100x scale use this form ONLY when the
    full per-event vector is genuinely consumed (e.g. a per-event
    percentile over the raw window). If a fold is applied to the
    window, use the windowed-aggregate forms instead
    (operators/windows.py moving_time_window + a fold, or
    streaming groupBy over F.window) — those emit one row per
    (key, trigger) and keep output linear in events."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("trigger_event_id", LongType()),
            StructField("event_id", LongType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cutoff", DoubleType()),
            StructField("eids", ArrayType(LongType())),
            StructField("times", ArrayType(DoubleType())),
            StructField("metrics", ArrayType(DoubleType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        host, service = key
        if state.exists:
            cutoff, eids, times, metrics = state.get
            buf = list(zip(eids, times, metrics))
        else:
            cutoff, buf = 0.0, []
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            t = None if pd.isna(row.time) else float(row.time)
            cutoff = max(cutoff, (t if t is not None else 0.0) - n_seconds)
            send = t is None or t > cutoff
            if send:
                buf.append(
                    (
                        int(row.event_id),
                        t,
                        None if pd.isna(row.metric) else float(row.metric),
                    )
                )
                buf = [e for e in buf if e[1] is None or e[1] > cutoff]
                out.extend(
                    (host, service, int(row.event_id), eid, et, em)
                    for eid, et, em in buf
                )
        state.update(
            (
                cutoff,
                [e[0] for e in buf],
                [e[1] for e in buf],
                [e[2] for e in buf],
            )
        )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ---------------------------------------------------------- coalesce --

def streaming_coalesce(
    sdf: DataFrame, dt_seconds: float, keys: Sequence[str] = ("host", "service")
) -> DataFrame:
    """coalesce (streams.clj:1209-1241), streaming: remember the latest
    event per key; every ``dt`` seconds of WALL CLOCK each key re-emits
    its remembered event (expired entries once, then forgotten) — the
    reference's periodic whole-table snapshot, realized as per-key
    processing-time timers instead of a scheduler thread.

    Emission cadence is processing-time (the reference uses its timer
    pool, time.clj:129-140); content is deterministic, timing is not —
    so correctness checks assert content, tests poll."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
            StructField("event_id", LongType()),
            StructField("deadline", LongType()),
        ]
    )
    dt_ms = int(dt_seconds * 1000)

    def update(key, pdfs, state: GroupState):
        # The next-fire time is an ABSOLUTE deadline stored in state:
        # data invocations re-arm the timeout to (deadline - now), never
        # resetting the cadence — a key receiving events faster than dt
        # still snapshots every dt (the reference emits every dt
        # regardless of arrival rate, streams.clj:1227-1241). The
        # deadline only advances when the timer actually fires.
        host, service = key
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            st, metric, t, eid, _deadline = state.get
            if st == "expired":
                state.remove()  # emitted-once tombstone forgotten
            else:
                state.update((st, metric, t, eid, now + dt_ms))
                state.setTimeoutDuration(dt_ms)
            yield pd.DataFrame(
                [[host, service, st, metric, t]],
                columns=[f.name for f in out_schema.fields],
            )
            return
        stored = state.get if state.exists else None
        best = stored[:4] if stored is not None else None
        deadline = stored[4] if stored is not None else now + dt_ms
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state"])
        for row in rows.itertuples(index=False):
            cand = (
                row.state,
                None if pd.isna(row.metric) else float(row.metric),
                float(row.time),
                int(row.event_id),
            )
            if best is None or (cand[2], cand[3]) > (best[2], best[3]):
                best = cand
        if best is not None:
            state.update((*best, deadline))
            state.setTimeoutDuration(max(int(deadline - now), 1))
        return
        yield  # pragma: no cover — make this a generator

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# ------------------------------------------------ fixed event window --

def streaming_fixed_event_window(
    sdf: DataFrame, n: int, keys: Sequence[str] = ("host", "service")
) -> DataFrame:
    """fixed-event-window (streams.clj:305-320) + batch-by-count flush
    (streams.clj:1158-1185), streaming: buffer per key; every time the
    buffer reaches n events, emit one aggregated row (sum + first/last
    time) and reset. Partial windows stay buffered across micro-batches
    (checkpointed) until filled."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("window_id", LongType()),
            StructField("sum_metric", DoubleType()),
            StructField("n", LongType()),
            StructField("t_first", DoubleType()),
            StructField("t_last", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("buf_m", ArrayType(DoubleType())),
            StructField("buf_t", ArrayType(DoubleType())),
            StructField("win", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        host, service = key
        buf_m, buf_t, win = state.get if state.exists else ([], [], 0)
        buf_m, buf_t = list(buf_m), list(buf_t)
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            buf_m.append(0.0 if pd.isna(row.metric) else float(row.metric))
            buf_t.append(float(row.time))
            if len(buf_m) == n:
                out.append(
                    (host, service, win, float(sum(buf_m)), n, buf_t[0], buf_t[-1])
                )
                buf_m, buf_t = [], []
                win += 1
        state.update((buf_m, buf_t, win))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ---------------------------------------------------------- fill-in --

def streaming_fill_in_last(
    sdf: DataFrame,
    interval_seconds: float,
    update: dict | None = None,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """fill-in-last (streams.clj:712-751): pass every event through;
    whenever ``interval`` seconds of WALL CLOCK pass without an event
    for a key, emit a copy of the key's last event merged with
    ``update``, stamped with the current time and ``filled=true``.
    An expired event cancels the filler (state removed); the next live
    event re-creates it.

    Unlike coalesce, the timer is DEFERRED on every arrival (the
    reference calls ``defer d interval`` per event) — fillers appear
    only in real gaps. Filler cadence is processing-time like the
    reference's every!; tests assert content and poll."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
            StructField("filled", StringType()),  # "fill" | None
        ]
    )
    state_schema = StructType(
        [
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
            StructField("event_id", LongType()),
        ]
    )
    itv_ms = int(interval_seconds * 1000)
    update = update or {}
    cols = [f.name for f in out_schema.fields]

    def upd(key, pdfs, state: GroupState):
        host, service = key
        if state.hasTimedOut:
            st, metric, _t, _eid = state.get
            now = state.getCurrentProcessingTimeMs() / 1000.0
            state.setTimeoutDuration(itv_ms)  # every! — periodic until expired
            filler = {"state": st, "metric": metric, **update}
            yield pd.DataFrame(
                [[host, service, filler["state"], filler["metric"], now, "fill"]],
                columns=cols,
            )
            return
        last = state.get if state.exists else None
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state"])
        out = []
        for row in rows.itertuples(index=False):
            cand = (
                row.state if isinstance(row.state, str) else None,
                None if pd.isna(row.metric) else float(row.metric),
                float(row.time),
                int(row.event_id),
            )
            if last is None or (cand[2], cand[3]) > (last[2], last[3]):
                last = cand
            out.append([host, service, cand[0], cand[1], cand[2], None])
        if last is not None and last[0] == "expired":
            if state.exists:
                state.remove()  # cancel the deferrable (streams.clj:698-701)
        else:
            state.update(tuple(last))
            state.setTimeoutDuration(itv_ms)  # defer: gap measured from arrival
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        sdf, keys, upd, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# ------------------------------------------------------ batch n|dt --

def streaming_batch(
    sdf: DataFrame,
    n: int,
    dt_seconds: float,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """batch (streams.clj:1158-1185): buffer per key, flush when EITHER
    n events accumulate (immediate, ``reason="count"``) OR dt seconds
    of wall clock pass with a non-empty buffer (``reason="time"`` —
    part-time-simple's interval flush). Combines the count-flush of
    streaming_fixed_event_window with streaming_coalesce's absolute-
    deadline processing-time timer (the deadline only advances when
    the timer fires, so steady traffic cannot starve the time flush).

    Emits one aggregated row per flush: count, metric sum, first/last
    event time — the batch vector's shape without shipping the vector.
    """
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("batch_id", LongType()),
            StructField("n", LongType()),
            StructField("sum_metric", DoubleType()),
            StructField("t_first", DoubleType()),
            StructField("t_last", DoubleType()),
            StructField("reason", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("buf_m", ArrayType(DoubleType())),
            StructField("buf_t", ArrayType(DoubleType())),
            StructField("bid", LongType()),
            StructField("deadline", LongType()),
        ]
    )
    dt_ms = int(dt_seconds * 1000)
    cols = [f.name for f in out_schema.fields]

    def update(key, pdfs, state: GroupState):
        host, service = key
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            buf_m, buf_t, bid, _deadline = state.get
            buf_m, buf_t = list(buf_m), list(buf_t)
            state.update(([], [], bid + (1 if buf_m else 0), now + dt_ms))
            state.setTimeoutDuration(dt_ms)
            if buf_m:
                yield pd.DataFrame(
                    [
                        [
                            host,
                            service,
                            bid,
                            len(buf_m),
                            float(sum(buf_m)),
                            buf_t[0],
                            buf_t[-1],
                            "time",
                        ]
                    ],
                    columns=cols,
                )
            return
        if state.exists:
            buf_m, buf_t, bid, deadline = state.get
            buf_m, buf_t = list(buf_m), list(buf_t)
        else:
            buf_m, buf_t, bid, deadline = [], [], 0, now + dt_ms
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            buf_m.append(0.0 if pd.isna(row.metric) else float(row.metric))
            buf_t.append(float(row.time))
            if len(buf_m) >= n:
                out.append(
                    (host, service, bid, n, float(sum(buf_m)), buf_t[0], buf_t[-1], "count")
                )
                buf_m, buf_t = [], []
                bid += 1
        state.update((buf_m, buf_t, bid, deadline))
        state.setTimeoutDuration(max(int(deadline - now), 1))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# -------------------------------------------------------------- top --

TOP_OUT = StructType(
    [
        StructField("host", StringType()),
        StructField("service", StringType()),
        StructField("metric", DoubleType()),
        StructField("time", DoubleType()),
        StructField("stream", StringType()),  # top | bottom
        StructField("state", StringType()),   # ok | expired (dual mirror)
    ]
)

_TOP_STATE = StructType(
    [
        StructField("hosts", ArrayType(StringType())),
        StructField("services", ArrayType(StringType())),
        StructField("metrics", ArrayType(DoubleType())),
        StructField("times", ArrayType(DoubleType())),
    ]
)


def streaming_top(
    sdf: DataFrame, k: int, max_batch_rows: int = 100_000
) -> DataFrame:
    """top k (streams.clj:1015-1100): dual top/bottom streams with
    demotion. Every event yields a row on BOTH streams (one side the
    real event, the other its expired mirror — the `dual` trick,
    streams.clj:127-152); a bumped key additionally yields its
    demotion pair carrying the bumped event's OWN stored (metric,
    time). Expired / nil-metric inbound events remove their key and
    are forwarded to both streams (the reference passes expired events
    through both children after clearing state).

    CONTRACT (enforced): state is O(k) but the single group serializes
    every row through one task — feed this the latest-per-key stream
    (streaming_index output), NOT the raw firehose. A micro-batch
    delivering more than ``max_batch_rows`` rows trips a loud
    RuntimeError instead of silently becoming the cluster bottleneck."""

    def update(key, pdfs, state: GroupState):
        if state.exists:
            hosts, services, metrics, times = state.get
            top = {
                (h, s): (m, t)
                for h, s, m, t in zip(hosts, services, metrics, times)
            }
        else:
            top = {}
        rows = _sorted_rows(
            pdfs, ["event_id", "time", "metric", "host", "service", "state"]
        )
        if len(rows) > max_batch_rows:
            raise RuntimeError(
                f"streaming_top received {len(rows)} rows in one micro-batch "
                f"(limit {max_batch_rows}): it serializes on a single group — "
                "feed it the latest-per-key index stream, not the raw firehose"
            )
        out = []

        def emit(h, s, m, t, stream, st):
            out.append((h, s, m, t, stream, st))

        for row in rows.itertuples(index=False):
            ekey = (row.host, row.service)
            value = None if pd.isna(row.metric) else float(row.metric)
            t = float(row.time)
            ev_state = row.state if isinstance(row.state, str) else None
            if value is None or ev_state == "expired":
                # drop the key; the dual view (streams.clj:1063-1066):
                # already-expired events forward as-is to both streams,
                # nil-metric live events expire on top, stay real on
                # bottom (the dual falsy branch, streams.clj:127-152)
                top.pop(ekey, None)
                emit(row.host, row.service, value, t, "top", "expired")
                bottom_st = ev_state if ev_state is not None else "expired"
                emit(row.host, row.service, value, t, "bottom", bottom_st)
                continue
            in_top_before = ekey in top
            smallest = min(top, key=lambda kk: top[kk][0]) if top else None
            if (
                not in_top_before
                and len(top) >= k
                and smallest is not None
                and value <= top[smallest][0]
            ):
                # outside the top set: bottom gets e, top gets expired mirror
                emit(row.host, row.service, value, t, "bottom", "ok")
                emit(row.host, row.service, value, t, "top", "expired")
                continue
            top[ekey] = (value, t)
            bumped = None
            if len(top) > k:
                bumped = min(top, key=lambda kk: top[kk][0])
                bumped_val, bumped_t = top.pop(bumped)
            emit(row.host, row.service, value, t, "top", "ok")
            emit(row.host, row.service, value, t, "bottom", "expired")
            if bumped is not None and bumped != ekey:
                # lazy demotion: expired to top stream, real to bottom —
                # rows carry the bumped event's own stored metric AND time
                emit(bumped[0], bumped[1], bumped_val, bumped_t, "top", "expired")
                emit(bumped[0], bumped[1], bumped_val, bumped_t, "bottom", "ok")

        hs = list(top.keys())
        state.update(
            (
                [h for h, _ in hs],
                [s for _, s in hs],
                [top[kk][0] for kk in hs],
                [top[kk][1] for kk in hs],
            )
        )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in TOP_OUT.fields])

    one = sdf.withColumn("__g", F.lit(1))
    return apply_with_state(
        one, ("__g",), update, TOP_OUT, _TOP_STATE,
        timeout=GroupStateTimeout.NoTimeout,
        )


# --------------------------------------------------------- throttle --

def streaming_throttle(
    sdf: DataFrame, n: int, dt: float, keys: Sequence[str] = ("host", "service")
) -> DataFrame:
    """throttle (streams.clj:1102-1118), streaming: at most n events
    per key per fixed dt event-time window; extras are dropped
    immediately (no added latency, matching the reference's
    part-time-simple shape and the batch operator's time_bucket
    windows). State is two longs per key. Events arriving for an
    already-passed window (late, cross-batch) are dropped — the
    window's budget is closed, mirroring part-time-simple having
    moved on."""
    state_schema = StructType(
        [StructField("bucket", LongType()), StructField("sent", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        host, service = key
        bucket, sent = state.get if state.exists else (-(1 << 62), 0)
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            b = int(math.floor(float(row.time) / dt))
            if b > bucket:
                bucket, sent = b, 0
            elif b < bucket:
                continue
            if sent < n:
                sent += 1
                out.append(
                    (host, service, int(row.event_id), float(row.time),
                     None if pd.isna(row.metric) else float(row.metric))
                )
        state.update((bucket, sent))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in _EV_OUT.fields])

    return apply_with_state(
        sdf, keys, update, _EV_OUT, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ---------------------------------------------------------- changed --

def streaming_changed(
    sdf: DataFrame,
    field: str = "state",
    init: str | None = None,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """changed / changed-state (streams.clj:1417-1458), streaming:
    pass an event only when ``field`` differs from the key's previous
    value — alert edge detection. ``init`` seeds the comparison (the
    reference's :init option): with init set, a first event equal to
    init is suppressed; without it, the first event always passes.
    State is one string per key."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("event_id", LongType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
            StructField(field, StringType()),
        ]
    )
    state_schema = StructType([StructField("prev", StringType())])

    def update(key, pdfs, state: GroupState):
        host, service = key
        (prev,) = state.get if state.exists else (init,)
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", field])
        out = []
        for row in rows.itertuples(index=False):
            cur = getattr(row, field)
            cur = None if (cur is None or (isinstance(cur, float) and pd.isna(cur))) else str(cur)
            if cur != prev:
                out.append(
                    (host, service, int(row.event_id), float(row.time),
                     None if pd.isna(row.metric) else float(row.metric), cur)
                )
            prev = cur
        state.update((prev,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


def streaming_project(
    sdf: DataFrame,
    preds: Sequence,
    with_expiry: bool = False,
) -> DataFrame:
    """project / project* (streams.clj:2032-2101), streaming: a fixed
    basis of N predicates; the state holds the latest matching event
    per slot (latest by (time, event_id) — a stale out-of-order match
    never overwrites a newer one), and every matching event emits the
    current slot vector, exactly the reference's emit-on-any-update.

    Predicates are compiled to Column expressions and evaluated
    JVM-side BEFORE the state machine (boolean flag columns), so the
    Python state update reads flags — no per-row predicate
    interpretation in the slow path. Like the reference (and like
    streaming_top), project is a GLOBAL stream combinator: one state
    group holding N (time, id, metric) triples; feed it a
    pre-filtered stream (the flags filter is applied here), not the
    raw firehose — matching events serialize through one task by
    semantic necessity (each emission depends on every prior match).

    ``with_expiry=True`` adds the reference's slot self-expiry lane
    (streams.clj:2039-2056 clean-expire + streams_test.clj:1562-1572):
    slots carry (service, state, ttl) alongside the metric; when a
    matching event arrives, any occupied slot whose event has expired
    (state "expired", or time + ttl strictly before the wall clock)
    is emitted ONCE in expired form — service kept, state "expired",
    time = now, metric dropped — then cleared, exactly the
    reference's emit-expired-exactly-once contract. Expiry is lazy-
    on-arrival like the reference (project keeps no timers; coalesce
    owns the timer pattern). The default keeps the round-5 metric-
    slot schema byte-stable for the drained catalog query."""
    from riemann_spark.query import compile_query

    n = len(preds)
    cols = [
        (compile_query(p) if isinstance(p, str) else p).alias(f"pm{i}")
        for i, p in enumerate(preds)
    ]
    extra = ["service", "state", "ttl"] if with_expiry else []
    flagged = sdf.select("event_id", "time", "metric", *extra, *cols)
    any_match = None
    for i in range(n):
        c = F.col(f"pm{i}")
        any_match = c if any_match is None else (any_match | c)
    flagged = flagged.filter(any_match).withColumn("__g", F.lit(0))

    out_fields = [
        StructField("event_id", LongType()),
        StructField("time", DoubleType()),
    ] + (
        [
            StructField(f"slot{i}_{suffix}", typ)
            for i in range(n)
            for suffix, typ in (
                ("service", StringType()),
                ("state", StringType()),
                ("metric", DoubleType()),
                ("time", DoubleType()),
            )
        ]
        if with_expiry
        else [StructField(f"slot{i}", DoubleType()) for i in range(n)]
    )
    out_schema = StructType(out_fields)
    state_fields = [
        StructField("ts", ArrayType(DoubleType())),
        StructField("ids", ArrayType(LongType())),
        StructField("ms", ArrayType(DoubleType())),
    ] + (
        [
            StructField("svcs", ArrayType(StringType())),
            StructField("sts", ArrayType(StringType())),
            StructField("ttls", ArrayType(DoubleType())),
        ]
        if with_expiry
        else []
    )
    state_schema = StructType(state_fields)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            stored = [list(a) for a in state.get]
        else:
            stored = [[None] * n for _ in range(len(state_fields))]
        ts, ids, ms = stored[0], stored[1], stored[2]
        if with_expiry:
            svcs, sts, ttls = stored[3], stored[4], stored[5]
        cols_ = ["event_id", "time", "metric"] + extra + [f"pm{i}" for i in range(n)]
        rows = _sorted_rows(pdfs, cols_)
        out = []
        now_s = state.getCurrentProcessingTimeMs() / 1000.0
        for row in rows.itertuples(index=False):
            t, eid = float(row.time), int(row.event_id)
            m = None if pd.isna(row.metric) else float(row.metric)
            for i in range(n):
                if getattr(row, f"pm{i}") and (
                    ts[i] is None or (ts[i], ids[i]) < (t, eid)
                ):
                    ts[i], ids[i], ms[i] = t, eid, m
                    if with_expiry:
                        svcs[i] = (
                            row.service if isinstance(row.service, str) else None
                        )
                        sts[i] = (
                            row.state if isinstance(row.state, str) else None
                        )
                        ttls[i] = None if pd.isna(row.ttl) else float(row.ttl)
            if not with_expiry:
                out.append((eid, t, *ms))
                continue
            # clean-expire: emit expired slots ONCE, then clear them
            slot_cells = []
            for i in range(n):
                occupied = ts[i] is not None
                expired = occupied and (
                    sts[i] == "expired"
                    or (ttls[i] is not None and ts[i] + ttls[i] < now_s)
                )
                if expired:
                    slot_cells += [svcs[i], "expired", None, now_s]
                    ts[i] = ids[i] = ms[i] = svcs[i] = sts[i] = ttls[i] = None
                elif occupied:
                    slot_cells += [svcs[i], sts[i], ms[i], ts[i]]
                else:
                    slot_cells += [None, None, None, None]
            out.append((eid, t, *slot_cells))
        state.update(
            tuple([ts, ids, ms] + ([svcs, sts, ttls] if with_expiry else []))
        )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        flagged, ("__g",), update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


def streaming_anomaly_zscore(
    sdf: DataFrame,
    n_window: int = 20,
    min_prior: int = 5,
    threshold: float = 3.0,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """Trailing z-score anomaly detection, streaming: per key, a
    bounded buffer of the last ``n_window`` metrics scores each event
    against its priors' mean/stddev (the frame EXCLUDES the current
    event — no self-masking) and emits only |z| > threshold once
    ``min_prior`` priors exist. State is n_window doubles per key —
    O(1) in stream length.

    The mean/variance use the same quantize-to-1e-6-integers trick as
    the batch operator's decimal sums (metrics have 2-decimal
    granularity here; 1e-6 is lossless), so the emitted z equals the
    batch anomaly_zscore value bit-for-bit and the relational oracle
    checks the full emission log."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("event_id", LongType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
            StructField("z", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("buf", ArrayType(DoubleType()))])

    def update(key, pdfs, state: GroupState):
        host, service = key
        buf = list(state.get[0]) if state.exists else []
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric"])
        out = []
        for row in rows.itertuples(index=False):
            m = None if pd.isna(row.metric) else float(row.metric)
            if m is None:
                continue
            n = len(buf)
            if n >= min_prior:
                # exact integer sums, ONE rounding to double via int/int
                # true division — bit-identical to the batch operator's
                # DECIMAL(38,6) sums cast to double (both are the
                # nearest double of the same exact rational)
                q = [int(round(x * 1e6)) for x in buf]
                s1 = sum(q) / 10**6
                s2 = sum(x * x for x in q) / 10**12
                mean = s1 / n
                var = s2 / n - mean * mean
                # IEEE semantics, mirroring the SQL expression exactly:
                # sqrt(neg) -> nan, x/0 -> +-inf, 0/0 -> nan; SQL treats
                # nan as greater than any threshold, so nan/inf emit
                denom = math.sqrt(var) if var >= 0 else float("nan")
                if denom == 0.0:
                    z = (
                        float("nan")
                        if m == mean
                        else math.copysign(float("inf"), m - mean)
                    )
                else:
                    z = (m - mean) / denom
                if (z != z) or abs(z) > threshold:
                    out.append(
                        (host, service, int(row.event_id), float(row.time), m, z)
                    )
            buf.append(m)
            if len(buf) > n_window:
                buf.pop(0)
        state.update((buf,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ---------------------------------------- ingest-time minhash dedup --

def streaming_dedup_minhash(
    sdf: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time MinHash-LSH near-dup dedup — the streaming form of
    functions/dedup.lsh_candidate_pairs, keep-first within each band
    bucket (the RefinedWeb posture of segment_dedup_keep_first applied
    at the document level).

    The MinHash signature is a PURE PROJECTION
    (dedup.minhash_band_rows — see its docstring for the
    one-aggregate-pass shape discipline a ×20 probe forced), because
    an aggregation upstream of a stateful operator would break append
    mode; batch and streaming share the identical chunked-md5 hash
    family. Each doc explodes into n_hashes/band_size band rows;
    state per band bucket is ONE long — the minimum doc id ever seen
    in that bucket (the bucket's keeper). Every arriving row emits
    its bucket's claimant-so-far, so a doc is a near-duplicate iff
    any of its bands' claimants is an earlier doc: roll up downstream
    with min(claimant) per doc (kept iff it equals the doc's own id).

    Parallelism note: the signature projection runs in the SOURCE
    stage — its task count is the source's (Kafka partitions, file
    splits). A single-file test source serializes it; production
    sources are many-partition by construction.

    100 TB shape: state is O(distinct band hashes) longs — bounded by
    corpus novelty, not corpus size — and the only shuffle is the
    band-key exchange the stateful op needs anyway. Docs shorter than
    k tokens carry no shingles and bypass dedup (dropped here,
    mirroring the batch form where they never enter the sigs table).
    Within a micro-batch rows are processed in doc-id order, so a
    drained single-batch run equals the batch groupBy(band).min(doc)
    and admits a relational oracle.
    """
    from riemann_spark.functions.dedup import minhash_band_rows

    exploded = minhash_band_rows(sdf, n_hashes, band_size, k, id_col, text_col)

    out_schema = StructType(
        [
            StructField("band", StringType()),
            StructField("doc_id", LongType()),
            StructField("claimant", LongType()),
        ]
    )
    state_schema = StructType([StructField("claimant", LongType())])

    def update(key, pdfs, state: GroupState):
        (band,) = key
        claimant = int(state.get[0]) if state.exists else None
        parts = [pdf[["doc_id"]] for pdf in pdfs]
        rows = (
            pd.concat(parts, ignore_index=True).sort_values("doc_id")
            if parts
            else pd.DataFrame(columns=["doc_id"])
        )
        out = []
        for d in rows["doc_id"]:
            d = int(d)
            claimant = d if claimant is None else min(claimant, d)
            out.append((band, d, claimant))
        state.update((claimant,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        exploded, ["band"], update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# -------------------------------------------------- wall-clock rollup --

def streaming_rollup(
    sdf: DataFrame, n: int, dt_seconds: float,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """rollup (streams.clj:1120-1156), streaming: at most ``n``
    emissions per key per ``dt`` seconds of WALL CLOCK; the first n
    events of a window pass through immediately (one row each), the
    rest accumulate and flush as ONE aggregated row when the window
    ticks — alert suppression with a digest, the reference's
    part-time-simple composition (streams.clj:595-657).

    Faithful budget semantics: a non-empty flush CONSUMES one unit of
    the next window's budget (part-time-simple's reset returns
    ``[1 []]`` when the buffer carried over — streams_test.clj:1375-1399
    pins this), so a steadily-rolled key keeps digesting instead of
    alternating pass/digest. The dt cadence is anchored at the key's
    first event and advances only when the timer fires, like
    streaming_batch's absolute deadline.

    Output: pass-through rows carry ``rolled = null``; digest rows
    carry the count, metric sum and [t_first, t_last] of the rolled
    tail — the vector's shape without shipping the vector. Expired
    events are ordinary events here (they pass or roll like any other,
    streams_test.clj:1387-1398).

    Scale: state is the rolled tail's aggregate + one deadline per key
    (O(1) — the buffer stores sums, not events); emission is at most
    n+1 rows per key per window. The timer re-arms only while state
    exists; a flushed-and-quiet key re-arms from its next event."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
            StructField("state", StringType()),
            StructField("n_rolled", LongType()),
            StructField("sum_metric", DoubleType()),
            StructField("t_first", DoubleType()),
            StructField("t_last", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("sent", LongType()),
            StructField("buf_n", LongType()),
            StructField("buf_sum", DoubleType()),
            StructField("buf_t0", DoubleType()),
            StructField("buf_t1", DoubleType()),
            StructField("last_state", StringType()),
            StructField("deadline", LongType()),
        ]
    )
    dt_ms = int(dt_seconds * 1000)
    cols = [f.name for f in out_schema.fields]

    def update(key, pdfs, state: GroupState):
        host, service = key
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            sent, bn, bsum, bt0, bt1, bstate, deadline = state.get
            if not bn and not sent:
                state.remove()  # idle window: go quiet, don't tick forever
                return
            if bn:
                yield pd.DataFrame(
                    [[host, service, now / 1000.0, None, bstate,
                      bn, bsum, bt0, bt1]],
                    columns=cols,
                )
            # reset: a carried-over flush consumes next window's budget
            state.update((1 if bn else 0, 0, 0.0, None, None, None,
                          now + dt_ms))
            state.setTimeoutDuration(dt_ms)
            return
        if state.exists:
            sent, bn, bsum, bt0, bt1, bstate, deadline = state.get
        else:
            sent, bn, bsum, bt0, bt1, bstate = 0, 0, 0.0, None, None, None
            deadline = now + dt_ms
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state"])
        out = []
        for row in rows.itertuples(index=False):
            m = None if pd.isna(row.metric) else float(row.metric)
            st = row.state if isinstance(row.state, str) else None
            t = float(row.time)
            sent += 1
            if sent <= n:
                out.append((host, service, t, m, st, None, None, None, None))
            else:
                bn += 1
                bsum += m if m is not None else 0.0
                bt0 = t if bt0 is None else bt0
                bt1 = t
                bstate = st
        state.update((sent, bn, bsum, bt0, bt1, bstate, deadline))
        state.setTimeoutDuration(max(int(deadline - now), 1))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# ---------------------------------------------------- wall-clock rate --

def streaming_rate_interval(
    sdf: DataFrame, interval: float,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """rate (streams.clj:841-883), the WALL-CLOCK form: sum metrics
    over each ``interval`` seconds of processing time and emit
    sum/interval every tick, using the most recent event as the
    template. Faithful reference details, pinned by
    streams_test.clj:1099-1121 (rate-without-input, rate-expiration):

    - emission continues through EMPTY intervals (metric 0) — inbound
      ttls are credited +interval and every tick debits interval, so
      under steady flow in≡out and in silence the emitted ttl decays;
    - the poller stops when (last time+ttl) passes — the
      periodically-until-expired wrapper (streams.clj:499-540) — or
      when an expired event arrives; a later live event restarts it;
    - nil-metric events don't touch the template or the sum.

    This is the alerting-cadence sibling of streaming_rate
    (streaming/ops.py) — THE deploy path for rate-at-scale is that
    event-time watermarked form; this one exists for configs that
    need the reference's wall-clock contract (dashboards expecting a
    tick every interval regardless of traffic). State is O(1) per key;
    ticks re-arm only while un-expired, so idle keys go quiet instead
    of leaking timers."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
            StructField("ttl", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t_host", StringType()),
            StructField("t_service", StringType()),
            StructField("t_state", StringType()),
            StructField("ttl", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("deadline", LongType()),
            StructField("expires", DoubleType()),  # null = never
        ]
    )
    itv_ms = int(interval * 1000)
    cols = [f.name for f in out_schema.fields]

    def update(key, pdfs, state: GroupState):
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            th, ts, tst, ttl, sm, deadline, expires = state.get
            if expires is not None and expires < now / 1000.0:
                state.remove()  # most recent event expired: stop
                return
            new_ttl = ttl - interval if ttl is not None else None
            yield pd.DataFrame(
                [[th, ts, tst, sm / interval, now / 1000.0, new_ttl]],
                columns=cols,
            )
            state.update((th, ts, tst, new_ttl, 0.0, deadline + itv_ms,
                          expires))
            state.setTimeoutDuration(max(int(deadline + itv_ms - now), 1))
            return
        cur = state.get if state.exists else None
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state",
                                   "host", "service", "ttl"])
        stopped = False
        for row in rows.itertuples(index=False):
            st = row.state if isinstance(row.state, str) else None
            if st == "expired":
                stopped = True  # cancel the poller (streams.clj:524-528)
                continue
            stopped = False
            m = None if pd.isna(row.metric) else float(row.metric)
            if m is None:
                continue
            ttl_in = None if pd.isna(row.ttl) else float(row.ttl)
            t_in = None if pd.isna(row.time) else float(row.time)
            expires = (t_in + ttl_in) if (ttl_in is not None and
                                          t_in is not None) else None
            if cur is None:
                cur = (row.host, row.service, st,
                       ttl_in + interval if ttl_in is not None else None,
                       m, now + itv_ms, expires)
            else:
                # a restart after an expired-stop re-anchors the cadence
                deadline = cur[5] if cur[5] is not None else now + itv_ms
                cur = (row.host, row.service, st,
                       ttl_in + interval if ttl_in is not None else cur[3],
                       cur[4] + m, deadline, expires)
        if cur is None:
            return
        if stopped:
            # template kept, timer NOT re-armed; null deadline marks it
            state.update((*cur[:5], None, cur[6]))
            return
        state.update(cur)
        state.setTimeoutDuration(max(int(cur[5] - now), 1))
        return
        yield  # pragma: no cover — make this a generator

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# -------------------------------------- wall-clock constant sampler --

def streaming_interpolate_constant(
    sdf: DataFrame, interval: float,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """interpolate-constant (streams.clj:753-774): emit a constant
    stream of copies of the key's latest event every ``interval``
    seconds of WALL CLOCK, starting when an event arrives (the
    reference's delay-0 first tick forwards it immediately) and
    stopping when an expired event arrives (forwarded immediately,
    state cleared) or the latest event's ttl lapses
    (periodically-until-expired, streams.clj:499-540). Events between
    ticks only update the template — they are NOT forwarded
    (streams_test.clj:932-980 pins all five vectors, including
    no-fill-during-expired-times).

    The downsampler the reference docs pair with graphite egress:
    output cadence is fixed at 1/interval per key regardless of input
    rate. State is O(1) per key; idle (expired) keys hold no timer."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("time", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("state", StringType()),
            StructField("metric", DoubleType()),
            StructField("deadline", LongType()),
            StructField("expires", DoubleType()),  # null = never
        ]
    )
    itv_ms = int(interval * 1000)
    cols = [f.name for f in out_schema.fields]

    def update(key, pdfs, state: GroupState):
        host, service = key
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            st, metric, deadline, expires = state.get
            if expires is not None and expires < now / 1000.0:
                state.remove()  # latest event's ttl lapsed: stop
                return
            yield pd.DataFrame(
                [[host, service, st, metric, now / 1000.0]],
                columns=cols,
            )
            state.update((st, metric, deadline + itv_ms, expires))
            state.setTimeoutDuration(max(int(deadline + itv_ms - now), 1))
            return
        cur = state.get if state.exists else None
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state", "ttl"])
        out = []
        for row in rows.itertuples(index=False):
            st = row.state if isinstance(row.state, str) else None
            m = None if pd.isna(row.metric) else float(row.metric)
            t = None if pd.isna(row.time) else float(row.time)
            ttl = None if pd.isna(row.ttl) else float(row.ttl)
            expires = (t + ttl) if (t is not None and ttl is not None) else None
            if st == "expired":
                # forward immediately, clean up, stop the poller
                out.append([host, service, st, m, t])
                cur = None
                continue
            if cur is None:
                # delay-0 first tick: forward immediately, start ticking
                out.append([host, service, st, m, now / 1000.0])
                cur = (st, m, now + itv_ms, expires)
            else:
                cur = (st, m, cur[2], expires)
        if cur is not None:
            state.update(cur)
            state.setTimeoutDuration(max(int(cur[2] - now), 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# --------------------------------------------- wall-clock derivative --

def streaming_ddt_interval(
    sdf: DataFrame, n: float,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """ddt-real (streams.clj:776-807) — ``(ddt n)``: every ``n``
    seconds of WALL CLOCK, emit the rate of change between the last
    sampled event of this interval and of the previous one. Reference
    details pinned by streams_test.clj:1009-1038 (ddt-interval-test):

    - the delay-0 first tick swallows the first event into the sample
      history without emitting (no pair yet);
    - within an interval only the LATEST metric-bearing event is
      sampled (head replacement); nil-metric events are ignored;
    - an empty interval re-samples the previous event in both slots —
      dt 0 emits metric 0 at the tick time (the zeroes contract);
    - the derivative divides by EVENT-time dt, stamped at tick time;
    - the poller stops on expiry like every wall-clock op
      (periodically-until-expired).

    The event-time sibling is analytics.ddt_real (bucket-sampled,
    oracle-gated) — THE batch/deploy path; this form exists for the
    reference's wall-clock emission contract. State is O(1)/key."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("e1_t", DoubleType()),
            StructField("e1_m", DoubleType()),
            StructField("e2_t", DoubleType()),
            StructField("e2_m", DoubleType()),
            StructField("cur_t", DoubleType()),
            StructField("cur_m", DoubleType()),
            StructField("deadline", LongType()),
            StructField("expires", DoubleType()),  # null = never
        ]
    )
    itv_ms = int(n * 1000)
    cols = [f.name for f in out_schema.fields]

    def update(key, pdfs, state: GroupState):
        host, service = key
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            e1_t, e1_m, e2_t, e2_m, cur_t, cur_m, deadline, expires = state.get
            if expires is not None and expires < now / 1000.0:
                state.remove()
                return
            if cur_t is not None:
                e1_t, e1_m, e2_t, e2_m = e2_t, e2_m, cur_t, cur_m
            else:
                e1_t, e1_m = e2_t, e2_m  # empty interval: zero emission
            out = None
            if e1_t is not None and e2_t is not None:
                dt = e2_t - e1_t
                m = 0.0 if dt == 0 else (e2_m - e1_m) / dt
                out = [[host, service, now / 1000.0, m]]
            state.update((e1_t, e1_m, e2_t, e2_m, None, None,
                          deadline + itv_ms, expires))
            state.setTimeoutDuration(max(int(deadline + itv_ms - now), 1))
            if out:
                yield pd.DataFrame(out, columns=cols)
            return
        cur = state.get if state.exists else None
        rows = _sorted_rows(pdfs, ["event_id", "time", "metric", "state", "ttl"])
        stopped = False
        for row in rows.itertuples(index=False):
            st = row.state if isinstance(row.state, str) else None
            if st == "expired":
                stopped = True
                continue
            stopped = False
            m = None if pd.isna(row.metric) else float(row.metric)
            t = None if pd.isna(row.time) else float(row.time)
            ttl = None if pd.isna(row.ttl) else float(row.ttl)
            expires = (t + ttl) if (t is not None and ttl is not None) else None
            if cur is None:
                if m is None:
                    continue
                # poller start: the delay-0 tick shifts the first
                # event straight into the e2 sample slot, no emission
                cur = (None, None, t, m, None, None, now + itv_ms, expires)
            else:
                deadline = cur[6] if cur[6] is not None else now + itv_ms
                if m is not None:
                    cur = (*cur[:4], t, m, deadline, expires)
                else:
                    cur = (*cur[:6], deadline, expires)  # poller liveness only
        if cur is None:
            return
        if stopped:
            state.update((*cur[:6], None, cur[7]))
            return
        state.update(cur)
        state.setTimeoutDuration(max(int(cur[6] - now), 1))
        return
        yield  # pragma: no cover — make this a generator

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.ProcessingTimeTimeout,
        )


# -------------------------------------------- streaming bottom-k sample --

def streaming_bottomk(
    sdf: DataFrame,
    k: int = 200,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time exact-k uniform sampling — the streaming form of
    the batch bottom-k sampler (plans/catalog_ml.bottomk_sample;
    Cohen & Kaplan 2007 bottom-k sketch): each arriving row gets a
    deterministic md5 priority (SAME salt as the batch query, so a
    drained run reproduces it bit-for-bit) and every shard keeps the
    k smallest (priority, id) pairs it has ever seen. Bottom-k state
    is MERGEABLE, so the global sample is the k smallest of the
    n_shards·k shard survivors — a post-drain rollup over a bounded
    frame, never the stream.

    Each invocation emits the shard's full current membership tagged
    with a monotonically increasing version; downstream keeps each
    shard's max version and ranks the union. State is exactly k
    doubles + k longs per shard regardless of stream length; the
    shard key is md5-uniform so no shard ever hotspots. At 100 TB
    the stream never shuffles except the shard-key exchange the
    state op needs anyway."""
    from riemann_spark.functions.sketches import hash_fraction

    did = F.col(id_col).cast("string")
    rows = sdf.select(
        F.col(id_col).cast("long").alias("doc_id"),
        hash_fraction(F.concat(did, F.lit("|bk"))).alias("priority"),
        (
            F.conv(
                F.substring(F.md5(F.concat(did, F.lit("|shard"))), 1, 8),
                16,
                10,
            ).cast("long")
            % n_shards
        ).alias("shard"),
    )

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("version", LongType()),
            StructField("doc_id", LongType()),
            StructField("priority", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("version", LongType()),
            StructField("prios", ArrayType(DoubleType())),
            StructField("ids", ArrayType(LongType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (shard,) = key
        if state.exists:
            version, prios, ids = state.get
            pairs = [(float(p), int(i)) for p, i in zip(prios, ids)]
        else:
            version, pairs = 0, []
        parts = [pdf[["doc_id", "priority"]] for pdf in pdfs]
        if parts:
            rows_ = pd.concat(parts, ignore_index=True).sort_values("doc_id")
            pairs.extend(
                (float(r.priority), int(r.doc_id))
                for r in rows_.itertuples(index=False)
            )
        pairs.sort()
        del pairs[k:]
        version += 1
        state.update(
            (version, [p for p, _ in pairs], [i for _, i in pairs])
        )
        out = [(int(shard), version, i, p) for p, i in pairs]
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return apply_with_state(
        rows, ["shard"], update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ------------------------------------------------------- stable --

def streaming_stable(
    sdf: DataFrame,
    dt: float,
    field: str = "state",
    keys: Sequence[str] = ("host", "service"),
    confirm_wallclock: bool = True,
) -> DataFrame:
    """stable (streams.clj:1936-2031): pass on events whose ``field``
    value has persisted for at least ``dt`` seconds — the
    spike/flap suppressor. Exact port of the reference state machine:

    - same value, empty buffer → stable, event passes immediately;
    - same value, buffering → append; if the buffer now spans >= dt
      of EVENT time, flush it (stability proven by events alone);
    - changed value → drop the old buffer, start a new one with this
      event (the dropped events are the transient);
    - WALL-CLOCK confirmation (the interval-vector lane): ``once!``
      at buffer-head time + dt — if no contradicting event arrived by
      then, the buffered run was stable, flush it. The reference
      leaks one task per buffered head and lets stale ones no-op
      (streams.clj:2019-2027 "let them all fight it out"); GroupState
      carries ONE timer per key, re-armed to head+dt every
      invocation, which fires at exactly the deadline the newest
      relevant task would — stale deadlines are superseded instead of
      no-opping.

    The timed-out flush re-checks ``dt <= now - head.time`` exactly
    like the reference's timeout closure, so a fire racing a fresh
    buffer is a no-op there and here. State is O(buffered events in
    one dt window) per key."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("event_id", LongType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
            StructField("state", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("prev", StringType()),
            StructField("has_prev", LongType()),
            StructField("b_eids", ArrayType(LongType())),
            StructField("b_times", ArrayType(DoubleType())),
            StructField("b_metrics", ArrayType(DoubleType())),
            StructField("b_states", ArrayType(StringType())),
        ]
    )
    cols = [f.name for f in out_schema.fields]
    rows = sdf.select(
        *keys,
        "event_id",
        "time",
        "metric",
        "state",
        F.col(field).cast("string").alias("sval"),
    )

    def upd(key, pdfs, state: GroupState):
        host, service = (list(key) + [None, None])[:2]
        now_s = state.getCurrentProcessingTimeMs() / 1000.0
        if state.exists:
            prev, has_prev, b_eids, b_times, b_metrics, b_states = state.get
            buf = [
                [int(e), float(t), None if m is None else float(m), s]
                for e, t, m, s in zip(b_eids, b_times, b_metrics, b_states)
            ]
        else:
            prev, has_prev, buf = None, 0, []
        out = []
        if state.hasTimedOut:
            # the reference timeout closure: flush iff the head is
            # >= dt old by the (virtual) wall — otherwise a newer
            # buffer replaced the one this task was armed for
            if buf and dt <= now_s - buf[0][1]:
                out = [[host, service, e, t, m, s] for e, t, m, s in buf]
                buf = []
        else:
            batch = _sorted_rows(pdfs, ["event_id", "time", "metric", "state", "sval"])
            for row in batch.itertuples(index=False):
                v = None if pd.isna(row.sval) else str(row.sval)
                ev = [
                    int(row.event_id),
                    float(row.time),
                    None if pd.isna(row.metric) else float(row.metric),
                    row.state if isinstance(row.state, str) else None,
                ]
                if has_prev and v == prev:
                    if not buf:
                        out.append([host, service, *ev])  # stable: pass now
                    else:
                        buf.append(ev)
                        if dt <= ev[1] - buf[0][1]:
                            out.extend([host, service, *e] for e in buf)
                            buf = []
                else:
                    prev, has_prev, buf = v, 1, [ev]
        state.update(
            (
                prev,
                has_prev,
                [e[0] for e in buf],
                [e[1] for e in buf],
                [e[2] for e in buf],
                [e[3] for e in buf],
            )
        )
        if buf and confirm_wallclock:
            # deadline anchored at buffer-head EVENT time + dt; when the
            # head is already older than dt of wall clock (a replay of
            # history), fire at the next tick (1 ms — GroupState
            # requires a positive duration). confirm_wallclock=False
            # disables this lane entirely: a DRAINED replay of
            # historical events must prove stability by event-time
            # span alone (the batch operator's semantics), because its
            # wall clock says every historical buffer is "old".
            state.setTimeoutDuration(
                max(1, int(round((buf[0][1] + dt) * 1000)) - state.getCurrentProcessingTimeMs())
            )
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        rows, keys, upd, out_schema, state_schema,
        # NoTimeout when the wall-clock lane is off: registering
        # ProcessingTimeTimeout makes the micro-batch engine schedule
        # state-cleanup batches forever (processAllAvailable never
        # drains), and with no timer ever armed they do nothing
        timeout=(
            GroupStateTimeout.ProcessingTimeTimeout
            if confirm_wallclock
            else GroupStateTimeout.NoTimeout
        ),
        )


# --------------------------------------------------- clock-skew --

def streaming_clock_skew(sdf: DataFrame) -> DataFrame:
    """clock-skew (streams.clj:2159-2196), streaming: track what time
    each host thinks it is (its latest event time plus the wall time
    elapsed since that event ARRIVED), compare every event to the
    MEDIAN of those projected clocks, and pass the event on with
    metric = its time minus the median clock — hosts running ahead
    emit positive metrics, hosts behind negative.

    Port notes: arrival stamps are ``getCurrentProcessingTimeMs`` at
    the invocation (within a micro-batch all rows share one stamp —
    the batch analogue of the reference's per-event ``unix-time``);
    the median is ``middle`` = sorted[n // 2], the reference's
    upper-median fold; an expired event passes through untouched and
    tombstones its host's clock entry (coalesce-with-event drops it).
    Like the reference — which serializes every event through one
    coalesce atom — this is a GLOBAL combinator: one state group of
    O(hosts) entries; feed it a latest-per-host stream, not the raw
    firehose."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("event_id", LongType()),
            StructField("time", DoubleType()),
            StructField("metric", DoubleType()),
            StructField("state", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("hosts", ArrayType(StringType())),
            StructField("times", ArrayType(DoubleType())),
            StructField("arrs", ArrayType(DoubleType())),
        ]
    )
    cols = [f.name for f in out_schema.fields]
    rows = sdf.select(
        "host", "event_id", "time", "metric", "state"
    ).withColumn("__g", F.lit(0))

    def upd(key, pdfs, state: GroupState):
        now_s = state.getCurrentProcessingTimeMs() / 1000.0
        if state.exists:
            hosts, times, arrs = state.get
            clocks = {
                h: (float(t), float(a))
                for h, t, a in zip(hosts, times, arrs)
            }
        else:
            clocks = {}
        batch = _sorted_rows(pdfs, ["host", "event_id", "time", "metric", "state"])
        out = []
        for row in batch.itertuples(index=False):
            h = row.host if isinstance(row.host, str) else None
            st = row.state if isinstance(row.state, str) else None
            t = float(row.time)
            if st == "expired":
                clocks.pop(h, None)
                out.append(
                    [h, int(row.event_id), t,
                     None if pd.isna(row.metric) else float(row.metric), st]
                )
                continue
            clocks[h] = (t, now_s)
            proj = sorted(ct + (now_s - ca) for ct, ca in clocks.values())
            delta = t - proj[len(proj) // 2] if proj else 0.0
            out.append([h, int(row.event_id), t, delta, st])
        state.update(
            (
                list(clocks.keys()),
                [v[0] for v in clocks.values()],
                [v[1] for v in clocks.values()],
            )
        )
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        rows, ("__g",), upd, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# --------------------------------------------------- token budget --

def streaming_token_budget(
    sdf: DataFrame,
    budget: int,
    count_col=None,
    part_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time per-source token budget meter — the mixing-recipe
    enforcement point: a training mix allots each source a token
    budget (e.g. "web 60 %, code 25 %, books 15 % of N tokens"), and
    ingestion must know, AT ARRIVAL, whether a document still fits or
    the source's allotment is spent. State per source is ONE running
    long; each arriving doc emits (cum_tokens including itself,
    within_budget = cum <= budget), so downstream either admits the
    doc or routes it to the overflow lake.

    Docs are processed in deterministic ``id_col`` order within a
    batch (the corpus analogue of (time, event_id) arrival order), so
    a drained run reproduces the batch window cumulative sum exactly
    — the oracle is SUM OVER (PARTITION BY source ORDER BY doc_id).
    Scale: state is O(sources), the stream shuffles once on the
    source key (the state op's own exchange); counting is a JVM
    projection fused into the scan."""
    from riemann_spark.functions.text import token_count

    rows = sdf.select(
        F.col(part_col).alias("part"),
        F.col(id_col).cast("long").alias("doc_id"),
        (count_col if count_col is not None else token_count("text"))
        .cast("long")
        .alias("n_tok"),
    )
    out_schema = StructType(
        [
            StructField("part", StringType()),
            StructField("doc_id", LongType()),
            StructField("n_tok", LongType()),
            StructField("cum_tokens", LongType()),
            StructField("within_budget", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("cum", LongType())])
    cols = [f.name for f in out_schema.fields]

    def upd(key, pdfs, state: GroupState):
        (part,) = key
        cum = state.get[0] if state.exists else 0
        parts = [pdf[["doc_id", "n_tok"]] for pdf in pdfs]
        out = []
        if parts:
            batch = pd.concat(parts, ignore_index=True).sort_values("doc_id")
            for row in batch.itertuples(index=False):
                cum += int(row.n_tok)
                out.append(
                    [part, int(row.doc_id), int(row.n_tok), cum,
                     cum <= budget]
                )
        state.update((cum,))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        rows, ("part",), upd, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


# ------------------------------------------------- url seen-filter --

def streaming_url_gate(sdf: DataFrame, n_shards: int = 8) -> DataFrame:
    """Ingest-time seen-URL filter — the crawl-frontier question
    ("have we fetched this URL?") answered AT ARRIVAL with BOUNDED
    state: each shard keeps one 2^20-bit Bloom filter (128 KiB,
    sketches.py geometry: 4 disjoint 20-bit md5 chunks); an arriving
    url whose 4 bits are all already set is flagged seen_probable and
    dropped from the keep stream, then (either way) inserts its bits.
    False-positive drops are the deliberate Bloom trade — at 1 M
    inserts per shard FP ≈ (1-e^(-4M/2^20))^4, and shards scale the
    capacity linearly — false NEGATIVES never happen, so no duplicate
    URL ever passes.

    Unlike an exact seen-set (state grows with the corpus — the thing
    that cannot ship at 100 TB), Bloom state is O(n_shards · 128 KiB)
    FOREVER. Rows are processed in doc_id order (arrival-order
    analogue, same contract as streaming_token_budget), which makes
    the drained decision set-wise reproducible: a doc is
    seen_probable iff every one of its bits was first set by a
    strictly earlier doc — the exact formulation the SQL oracle
    replays without sequential state. The md5 is computed JVM-side;
    Python only parses hex chunks and flips bits."""
    rows = sdf.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("url"),
        F.md5("url").alias("h"),
        (
            F.conv(F.substring(F.md5("url"), 21, 8), 16, 10).cast("long")
            % n_shards
        ).alias("shard"),
    )
    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("doc_id", LongType()),
            StructField("url", StringType()),
            StructField("seen_probable", BooleanType()),
            StructField("kept", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("bloom", BinaryType())])
    cols = [f.name for f in out_schema.fields]

    def upd(key, pdfs, state: GroupState):
        (shard,) = key
        blob = bytearray(state.get[0]) if state.exists else bytearray(1 << 17)
        parts = [pdf[["doc_id", "url", "h"]] for pdf in pdfs]
        out = []
        if parts:
            batch = pd.concat(parts, ignore_index=True).sort_values("doc_id")
            for row in batch.itertuples(index=False):
                pos = [int(row.h[5 * i : 5 * i + 5], 16) for i in range(4)]
                seen = all(blob[p >> 3] >> (p & 7) & 1 for p in pos)
                for p in pos:
                    blob[p >> 3] |= 1 << (p & 7)
                out.append(
                    [int(shard), int(row.doc_id), row.url, seen, not seen]
                )
        state.update((bytes(blob),))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return apply_with_state(
        rows, ("shard",), upd, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
        )


def streaming_scd2(
    sdf: DataFrame,
    keys: Sequence[str] = ("host", "service"),
) -> DataFrame:
    """SCD-type-2 interval emission: per key, every run of equal
    states becomes one versioned row emitted WHEN THE RUN CLOSES (a
    differing state arrives) — the streaming producer of
    scd2_state_history's closed intervals. The open run stays in
    state and is never emitted: the current version lives in the
    serving index (streaming_coalesce / the index), history lands in
    the lake. Reference seam: changed-state (streams.clj:1655-1659)
    with the validity interval materialized instead of the edge
    event. State per key: one (prev, version, valid_from_us,
    n_events) tuple — bounded regardless of stream length."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("version", LongType()),
            StructField("state", StringType()),
            StructField("valid_from_us", LongType()),
            StructField("valid_to_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("prev", StringType()),
            StructField("version", LongType()),
            StructField("valid_from_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        host, service = key
        if state.exists:
            prev, version, vfrom, n = state.get
        else:
            prev, version, vfrom, n = None, 0, 0, 0
        rows = _sorted_rows(pdfs, ["event_id", "time", "time_us", "state"])
        out = []
        for row in rows.itertuples(index=False):
            cur = row.state
            cur = (
                None
                if (cur is None or (isinstance(cur, float) and pd.isna(cur)))
                else str(cur)
            )
            t_us = int(row.time_us)
            # version == 0 marks "no run open yet" — NULL is a regular
            # state value (IS DISTINCT FROM semantics, matching the
            # batch scd2_state_history oracle), so a run of NULL states
            # versions and emits like any other.
            if version == 0:
                prev, version, vfrom, n = cur, 1, t_us, 1
            elif cur == prev:
                n += 1
            else:
                out.append(
                    (host, service, int(version), prev, int(vfrom), t_us, int(n))
                )
                prev, version, vfrom, n = cur, version + 1, t_us, 1
        state.update((prev, int(version), int(vfrom), int(n)))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
    )


def streaming_funnel(
    sdf: DataFrame,
    stages: Sequence[str] = ("view", "click", "purchase"),
    window_s: float = 604800.0,
    keys: Sequence[str] = ("host",),
) -> DataFrame:
    """Stateful conversion funnel (fixed-anchor windowFunnel, the
    streaming twin of the event_funnel catalog query): per key, the
    first stages[0] event anchors the chain and each later stage
    counts when it lands strictly after the previous stage's time and
    within ``window_s`` of it. Emits ONE row per stage advance —
    (stage index, stage name, the advancing event's time) — so the
    drained emission log IS the batch funnel's per-user (t1, t2, t3)
    table. State per key: the reached stage + its anchor time, two
    scalars regardless of stream length."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("stage", LongType()),
            StructField("name", StringType()),
            StructField("stage_time", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("stage", LongType()), StructField("t", DoubleType())]
    )
    stage_of = {s: i for i, s in enumerate(stages)}

    def update(key, pdfs, state: GroupState):
        (host,) = key
        stage, t_anchor = state.get if state.exists else (0, 0.0)
        rows = _sorted_rows(pdfs, ["event_id", "time", "service"])
        out = []
        for row in rows.itertuples(index=False):
            svc = row.service
            if svc not in stage_of:
                continue
            want = stage_of[svc] + 1  # 1-based stage this event could reach
            t = float(row.time)
            if stage == 0 and want == 1:
                stage, t_anchor = 1, t
                out.append((host, 1, svc, t))
            elif want == stage + 1 and t > t_anchor and t <= t_anchor + window_s:
                stage, t_anchor = want, t
                out.append((host, want, svc, t))
        state.update((int(stage), float(t_anchor)))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum(
    sdf: DataFrame,
    keys: Sequence[str] = ("host", "service"),
    k_sigma: float = 0.5,
    h_sigma: float = 5.0,
) -> DataFrame:
    """Stateful CUSUM alert stream — the streaming twin of the batch
    cusum_alerts window algebra: per key, S := max(0, S + dq) on the
    1e-6 quantized-integer grid, emitting ONE row per upward crossing
    of the threshold (S_new > hq while S_old <= hq). Input events must
    carry per-key ``mu``/``sd`` baseline columns (a stream-static
    broadcast join upstream — streaming_mad_gate's posture; the batch
    query derives them from the full series). State per key: the
    integer S plus the event ordinal — two scalars regardless of
    stream length, exactly what Page's scheme keeps on a control
    chart."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("pos", LongType()),
            StructField("event_id", LongType()),
            StructField("s_q", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("s", LongType()), StructField("i", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        host, service = key
        s, i = state.get if state.exists else (0, 0)
        rows = _sorted_rows(
            pdfs, ["event_id", "time", "metric", "mu", "sd"]
        )
        out = []
        def rq(v: float) -> int:
            # HALF_UP away from zero — Spark's F.round / DuckDB round();
            # Python's round() is banker's and would diverge on exact .5
            return (
                int(math.floor(v * 1e6 + 0.5))
                if v >= 0
                else -int(math.floor(-v * 1e6 + 0.5))
            )

        for row in rows.itertuples(index=False):
            # mu/sd can be null for keys the upstream stream-static
            # baseline left-join missed — skip, don't floor(nan)
            if any(v is None or pd.isna(v) for v in (row.metric, row.mu, row.sd)):
                continue
            i += 1
            dq = rq(row.metric - row.mu - k_sigma * row.sd)
            hq = rq(h_sigma * row.sd)
            s_new = max(0, s + dq)
            if s_new > hq and s <= hq:
                out.append((host, service, int(i), int(row.event_id), s_new))
            s = s_new
        state.update((int(s), int(i)))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
    )


def streaming_retrain_trigger(
    sdf: DataFrame,
    keys: Sequence[str] = ("host", "service"),
    m_windows: int = 2,
    frac_num: int = 1,
    frac_den: int = 4,
) -> DataFrame:
    """Stateful RETRAIN trigger — the composition VERDICT r8 #6 asked
    for: per-key hourly windows are folded in event-time order; a
    CLOSED window is *drifted* when its mean metric sits more than
    ``sd * frac_num/frac_den`` from the key's baseline mean (mu/sd
    ride every row via an upstream stream-static broadcast join —
    streaming_cusum's posture), and when ``m_windows`` CONSECUTIVE
    observed windows drift, ONE trigger row fires at the crossing —
    the "stop serving this quantizer / retrain the classifier" signal
    that embedding_drift_report computes in batch.

    The drift test is pure integer algebra on the 1e-6 quantized
    grid: |mean - mu| > sd·num/den  ⟺  den·|sum_q − n·mu_q| >
    num·n·sd_q — no division, engine-exact. State per key: the open
    window id, its (sum_q, n), and the consecutive-drift counter —
    four scalars regardless of stream length. A key's final window
    never closes (no later event arrives), so the drained value set
    covers every window except each key's last — mirrored in the
    oracle.

    Ordering contract (same as streaming_cusum's running sum): rows
    sort by (time, event_id) WITHIN each micro-batch, and batches are
    assumed event-time ordered across the boundary — a cross-batch
    straggler older than the open window would close it early and
    reopen a stale window id. At deploy, bound disorder upstream with
    a watermark-delayed feed (the fill-in/coalesce lanes' posture);
    the closed-window algebra models in-order arrival."""
    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("service", StringType()),
            StructField("window_id", LongType()),
            StructField("n", LongType()),
            StructField("sum_q", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("b", LongType()),
            StructField("sum_q", LongType()),
            StructField("n", LongType()),
            StructField("consec", LongType()),
        ]
    )

    def rq(v: float) -> int:
        # HALF_UP away from zero — Spark F.round / DuckDB round()
        return (
            int(math.floor(v * 1e6 + 0.5))
            if v >= 0
            else -int(math.floor(-v * 1e6 + 0.5))
        )

    # 'no open window yet' sentinel: far below any reachable hourly
    # bucket (a plain -1 would collide with the legitimate window id
    # of pre-epoch events, time_us in [-7200s, -3600s) under
    # toward-zero truncation)
    NO_WINDOW = -(1 << 62)

    def update(key, pdfs, state: GroupState):
        host, service = key
        b, sum_q, n, consec = (
            state.get if state.exists else (NO_WINDOW, 0, 0, 0)
        )
        rows = _sorted_rows(
            pdfs, ["event_id", "time", "time_us", "metric", "mu", "sd"]
        )
        out = []
        for row in rows.itertuples(index=False):
            if any(
                v is None or pd.isna(v)
                for v in (row.metric, row.mu, row.sd)
            ):
                continue
            # truncate toward ZERO, not floor — the oracle's DuckDB
            # '//' and the repo's batch DIV convention both truncate,
            # so a pre-epoch event (time_us in [-3600s, 0)) must land
            # in window 0, not Python-floor's -1
            t_us = int(row.time_us)
            rb = (
                -((-t_us) // 3_600_000_000)
                if t_us < 0
                else t_us // 3_600_000_000
            )
            if b != NO_WINDOW and rb != b:
                mu_q, sd_q = rq(row.mu * 1.0), rq(row.sd * 1.0)
                drifted = (
                    frac_den * abs(sum_q - n * mu_q)
                    > frac_num * n * sd_q
                )
                consec = consec + 1 if drifted else 0
                if drifted and consec == m_windows:
                    out.append(
                        (host, service, int(b), int(n), int(sum_q))
                    )
                sum_q, n = 0, 0
            b = rb
            sum_q += rq(row.metric)
            n += 1
        state.update((int(b), int(sum_q), int(n), int(consec)))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return apply_with_state(
        sdf, keys, update, out_schema, state_schema,
        timeout=GroupStateTimeout.NoTimeout,
    )
