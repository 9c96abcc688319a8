"""Virtual-clock test harness: the reference's ``run-stream-intervals``
(/root/reference/src/riemann/test.clj:218-236) for this engine's
stateful streaming operators.

The reference tests wall-clock emission (rate/rollup/batch cadence,
ttl decay, fillers) under ``riemann.time.controlled``: events alternate
with advance-intervals and scheduled tasks fire deterministically. The
Spark analogue of "scheduled task" is the processing-time timer, so
this harness drives an operator's REAL update closure (captured via the
``state_api._capture_hook`` seam) against a controlled clock: each
advance fires due timers in deadline order, exactly what the
micro-batch engine does with real time, minus the wall.

GroupState semantics reproduced faithfully:
- timers do NOT persist across invocations — any invocation that wants
  a (new) timeout must call ``setTimeoutDuration``/``setTimeoutTimestamp``
  again, so the harness clears the key's deadline before every
  invocation and lets the update re-arm;
- a timed-out invocation sees ``hasTimedOut`` and an empty row iterator;
- ``getCurrentProcessingTimeMs`` is the virtual now.

Use it to port reference interval vectors 1:1 (tests/
test_reference_parity.py) — and to test user-written stateful ops the
same way.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

import pandas as pd

from riemann_spark.streaming import state_api


class _VState:
    """GroupState surface over the harness's virtual clock + timers."""

    def __init__(self, harness: "IntervalHarness", key: tuple):
        self._h = harness
        self._key = key
        self._v: tuple | None = None
        self.hasTimedOut = False

    @property
    def exists(self) -> bool:
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v) -> None:
        self._v = tuple(v)

    def remove(self) -> None:
        self._v = None

    def getCurrentProcessingTimeMs(self) -> int:
        return self._h.now_ms

    def getCurrentWatermarkMs(self) -> int:
        return self._h.now_ms

    def setTimeoutDuration(self, ms: int) -> None:
        self._h.deadlines[self._key] = self._h.now_ms + int(ms)

    def setTimeoutTimestamp(self, ts_ms: int) -> None:
        self._h.deadlines[self._key] = int(ts_ms)


class IntervalHarness:
    """Holds the virtual clock, per-key states and armed timers for one
    captured update closure."""

    def __init__(self, update: Callable, key_fields: Sequence[str]):
        self._update = update
        self._key_fields = tuple(key_fields)
        self.now_ms = 0
        self.states: dict[tuple, _VState] = {}
        self.deadlines: dict[tuple, int] = {}
        self.out: list[dict] = []
        self._next_id = 0

    def _state(self, key: tuple) -> _VState:
        if key not in self.states:
            self.states[key] = _VState(self, key)
        return self.states[key]

    def _collect(self, frames) -> None:
        for pdf in frames:
            for rec in pdf.to_dict("records"):
                self.out.append(
                    {k: (None if pd.isna(v) else v) if not isinstance(v, (list, tuple))
                     else v for k, v in rec.items()}
                )

    def send(self, event: dict, row_fields: Sequence[str]) -> None:
        ev = dict(event)
        ev.setdefault("time", self.now_ms / 1000.0)
        ev.setdefault("event_id", self._next_id)
        self._next_id += 1
        key = tuple(ev.get(f, 0) for f in self._key_fields)
        row = {f: [ev.get(f)] for f in row_fields}
        st = self._state(key)
        st.hasTimedOut = False
        # GroupState: un-re-armed timers do not survive the invocation
        self.deadlines.pop(key, None)
        self._collect(self._update(key, iter([pd.DataFrame(row)]), st))

    def advance(self, dt_seconds: float) -> None:
        """Move the clock forward, firing due timers at their armed
        times in order — time.controlled's ``advance!``."""
        target = self.now_ms + int(round(dt_seconds * 1000))
        while True:
            due = [(d, k) for k, d in self.deadlines.items() if d <= target]
            if not due:
                break
            d, key = min(due)
            self.now_ms = d
            self.deadlines.pop(key)
            st = self._state(key)
            st.hasTimedOut = True
            self._collect(self._update(key, iter(()), st))
        self.now_ms = target


def run_stream_intervals(
    build: Callable[[Any], Any],
    seq: Sequence,
    row_fields: Sequence[str] = ("event_id", "time", "metric", "state"),
    key_fields: Sequence[str] | None = None,
    close_expired: bool = False,
) -> list[dict]:
    """Apply a seq of alternating event dicts and intervals (seconds,
    None = no advance) to the stateful operator that ``build``
    constructs; returns the emitted rows as dicts in emission order.

    ``build`` receives a permissive DataFrame stand-in and must call
    the operator under test (which registers its update closure through
    ``apply_with_state``). ``close_expired`` sends the reference
    harness's trailing ``{:state "expired"}`` closer."""

    class _AnySdf:
        columns = [
            "host", "service", "state", "description", "metric", "tags",
            "time", "ttl", "event_id", "doc_id", "text",
        ]

        def __getattr__(self, name):
            return lambda *a, **k: self

    captured: dict[str, Any] = {}

    def hook(keys, update, out_schema, state_schema, timeout):
        captured["update"] = update
        captured["keys"] = tuple(keys)

    prev = state_api._capture_hook
    state_api._capture_hook = hook
    try:
        build(_AnySdf())
    finally:
        state_api._capture_hook = prev
    if "update" not in captured:
        raise RuntimeError("build() never reached apply_with_state")

    h = IntervalHarness(
        captured["update"],
        captured["keys"] if key_fields is None else key_fields,
    )
    items = list(seq)
    i = 0
    while i < len(items):
        h.send(items[i], row_fields)
        if i + 1 < len(items) and items[i + 1] is not None:
            h.advance(float(items[i + 1]))
        i += 2
    if close_expired:
        h.send({"state": "expired"}, row_fields)
    return h.out
