"""Expected outputs, computed in plain Python from the generated inputs.

None of these calls the engine, and none is a stored copy of an earlier
output: each restates the documented semantics and recomputes the
answer from the same seeded inputs the program was given.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal

DEFAULT_TTL = 60.0  # the index's TTL for events that carry none

# ------------------------------------------------------------ wire_ingest
#
# The config under test:
#   (where (>= metric 0)
#     (default :state "ok"
#       (tag "bench"
#         (by [:host :service] (rate 3600 (tap :rate)))
#         index)))


def _piped(events: list[dict]):
    for e in events:
        if e["metric"] is None or e["metric"] < 0:
            continue
        tags = ["bench"] + [t for t in dict.fromkeys(e["tags"] or ()) if t != "bench"]
        yield {**e, "state": e["state"] if e["state"] is not None else "ok", "tags": tags}


def wire_index(events: list[dict]) -> dict:
    """[host, service] -> the latest passing event (times are strictly
    increasing per key, so the latest is unique)."""
    out: dict = {}
    for e in _piped(events):
        k = (e["host"], e["service"])
        if k not in out or e["time_us"] > out[k]["time_us"]:
            out[k] = e
    return {
        k: (e["state"], e["description"], e["metric"], tuple(e["tags"]),
            e["time_us"] / 1e6, e["ttl"])
        for k, e in out.items()
    }


def wire_rate(events: list[dict]) -> dict:
    """(host, service, window start) -> exact decimal sum / 3600."""
    sums: dict = {}
    for e in _piped(events):
        w = float(math.floor(e["time_us"] / 1e6 / 3600.0) * 3600)
        k = (e["host"], e["service"], w)
        sums[k] = sums.get(k, Decimal(0)) + Decimal(repr(e["metric"]))
    return {k: float(s) / 3600.0 for k, s in sums.items()}


# ----------------------------------------------------------- stream_index


def stream_replay(batches: list[list[dict]], no_data_batches: int) -> Counter:
    """The streaming index's documented semantics, batch by batch.

    - Batch b sees the watermark ``max(time of batches < b)`` (0 ms in
      the first batch); the watermark delay is zero.
    - A key with input takes the newest of its state and its rows by
      ``(time, event_id)`` (last write wins). A newest row with
      ``state="expired"`` is a tombstone: the key is removed, nothing is
      emitted. Otherwise the key's new latest event is emitted and its
      timer is set to ``max((time + ttl) * 1000, watermark + 1)`` ms.
    - After the keys with input, every other key whose timer is below
      the watermark fires once: it emits ``{state="expired",
      time=watermark}`` and is removed.
    - ``no_data_batches`` batches without input follow the backlog (the
      engine reports how many it ran); they only fire timers.

    Returns the multiset of emitted (host, service, state, metric,
    time, ttl) rows."""
    state: dict = {}  # key -> (state, metric, time, ttl, event_id, timer_ms)
    out: Counter = Counter()
    max_ms = None
    for rows in list(batches) + [[]] * no_data_batches:
        wm = 0 if max_ms is None else max_ms
        by_key: dict = {}
        for r in rows:
            by_key.setdefault((r["host"], r["service"]), []).append(r)
        for k, rs in by_key.items():
            best = state.get(k)
            for r in rs:
                cand = (r["state"], r["metric"], r["time"], r["ttl"], r["event_id"])
                if best is None or (cand[2], cand[4]) > (best[2], best[4]):
                    best = cand
            if best[0] == "expired":
                state.pop(k, None)
                continue
            ttl = best[3] if best[3] is not None else DEFAULT_TTL
            timer = max(int((best[2] + ttl) * 1000), wm + 1)
            state[k] = best[:5] + (timer,)
            out[(k[0], k[1], best[0], best[1], best[2], best[3])] += 1
        for k in [k for k, s in state.items() if k not in by_key and s[5] < wm]:
            del state[k]
            out[(k[0], k[1], "expired", None, wm / 1000.0, None)] += 1
        if rows:
            top = max(int(r["time"] * 1000) for r in rows)
            max_ms = top if max_ms is None else max(max_ms, top)
    return out


# ------------------------------------------------------------ index_query


def python_index(events: list[dict]) -> list[dict]:
    """Latest event per [host, service] by (time, event_id); a
    ``state="expired"`` winner is a tombstone and leaves the index."""
    latest: dict = {}
    for e in events:
        k = (e["host"], e["service"])
        if k not in latest or (e["time_us"], e["event_id"]) > (
            latest[k]["time_us"], latest[k]["event_id"]
        ):
            latest[k] = e
    return [e for e in latest.values() if e["state"] != "expired"]


def query_filter(kind: str, p: tuple):
    """The Python filter of each query template in inputs.query_list,
    written from the query language's documented semantics; every
    field the templates touch is non-null in the generated index."""
    if kind == "point":
        return lambda e: e["host"] == p[0] and e["service"] == p[1]
    if kind == "state":
        return lambda e: e["state"] == p[0] and e["service"] != p[1]
    if kind == "range":
        return lambda e: p[0] <= e["metric"] < p[1]
    if kind == "tagged":
        return lambda e: p[0] in e["tags"] and e["state"] == p[1]
    if kind == "like":  # =~ with a trailing % is a prefix match
        return lambda e: e["host"].startswith(p[0])
    if kind == "not":
        return lambda e: not (e["state"] == "ok" or e["metric"] < p[1]) and e["service"] == p[0]
    if kind == "wide":
        return lambda e: e["metric"] > p[0] or ("t0" in e["tags"] and "t1" in e["tags"])
    raise ValueError(kind)


def event_key(e: dict) -> tuple:
    """The comparable content of one event, as generated or as decoded
    by the benchmark's own wire reader."""
    return (
        e["host"], e["service"], e.get("state"), e.get("description"),
        e["metric"], tuple(e.get("tags") or ()), e["time_us"], e.get("ttl"),
    )
