"""state_api adapter: the one seam every stateful operator routes
through, and a contract script per operator driven on the
applyInPandasWithState GroupState surface."""

from __future__ import annotations

import inspect

import pytest

from riemann_spark.streaming import index_stream, stateful_ops


def test_all_call_sites_route_through_adapter():
    """No operator may call applyInPandasWithState directly — the
    adapter is the single seam."""
    for mod in (stateful_ops, index_stream):
        src = inspect.getsource(mod)
        direct = [
            line
            for line in src.splitlines()
            if ".applyInPandasWithState(" in line
        ]
        assert not direct, f"direct call left in {mod.__name__}: {direct}"


class _FakeLegacyState:
    """The applyInPandasWithState GroupState subset our operators use."""

    def __init__(self, now_ms=0):
        self._v = None
        self._now = now_ms
        self.hasTimedOut = False
        self.timeout_set_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def getCurrentProcessingTimeMs(self):
        return self._now

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = int(ms)

    # event-time lane (index_stream reaper)
    def getCurrentWatermarkMs(self):
        return getattr(self, "_wm", 0)

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_set_ms = int(ts_ms)


def _capture_update(monkeypatch, build):
    """Invoke an operator builder with apply_with_state stubbed out,
    returning the REAL update closure it registered."""
    import riemann_spark.streaming.stateful_ops as so

    cap = {}

    def fake_apply(sdf, keys, update, out_schema, state_schema, **kw):
        cap["update"] = update
        return sdf

    monkeypatch.setattr(so, "apply_with_state", fake_apply)
    build()
    return cap["update"]


def test_tws_shim_timer_lane_streaming_coalesce(monkeypatch):
    """Timer surface with the REAL streaming_coalesce update fn: a data
    invocation buffers and arms the timeout to the absolute deadline, a
    timed-out invocation emits the snapshot row and re-arms; the
    'expired' tombstone is emitted once, then the state is removed."""
    import pandas as pd

    from riemann_spark.streaming.stateful_ops import streaming_coalesce

    update = _capture_update(monkeypatch, lambda: streaming_coalesce(None, 2.0))
    key = ("h1", "svc")
    st = _FakeLegacyState(now_ms=1000)

    rows = pd.DataFrame(
        {"event_id": [0], "time": [1.0], "metric": [5.0], "state": ["ok"]}
    )
    out = list(update(key, iter([rows]), st))
    assert out == []  # data invocations buffer, emission is timer-driven
    assert st.exists and st.get[:3] == ("ok", 5.0, 1.0)
    assert st.timeout_set_ms == 3000 - 1000  # deadline now + dt

    # timer fires: snapshot emitted, timeout re-armed for the next dt
    st._now, st.hasTimedOut, st.timeout_set_ms = 3000, True, None
    out = list(update(key, iter(()), st))
    assert len(out) == 1 and out[0].iloc[0]["metric"] == 5.0
    assert st.timeout_set_ms == 2000

    # expired tombstone: emitted once, then state removed
    st.update(("expired", 5.0, 1.0, 0, 5000))
    st._now = 5000
    out = list(update(key, iter(()), st))
    assert len(out) == 1 and out[0].iloc[0]["state"] == "expired"
    assert not st.exists


# ----------------------- one contract script per stateful operator

class _FakeSdf:
    """Permissive stand-in for the streaming DataFrame: builders may
    project/filter/flag before apply_with_state; every method chains
    back to self, so the REAL update closure is still captured."""

    columns = [
        "host", "service", "state", "description", "metric", "tags",
        "time", "ttl", "event_id", "doc_id", "text",
    ]

    def __getattr__(self, name):
        return lambda *a, **k: self


def _pdf(**cols):
    import pandas as pd

    return pd.DataFrame(dict(cols))


def _data(df, now=0, wm=0):
    return ("data", df, now, wm)


def _fire(now=0, wm=0):
    return ("timeout", None, now, wm)


def _state_table_cases():
    """One executable contract script per stateful operator:
    (builder, key, script). Scripts span 2+ invocations so state is
    carried, and timer ops include a timed-out leg."""
    import riemann_spark.streaming.stateful_ops as so
    from pyspark.sql import functions as F

    FAKE = _FakeSdf()
    return {
        "streaming_ewma": (
            lambda: so.streaming_ewma(FAKE, 10.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 5.0], metric=[1.0, 2.0])),
             _data(_pdf(event_id=[2], time=[15.0], metric=[4.0]))],
        ),
        "streaming_moving_event_window": (
            lambda: so.streaming_moving_event_window(FAKE, 3), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                        metric=[1.0, 2.0, 3.0])),
             _data(_pdf(event_id=[3], time=[3.0], metric=[4.0]))],
        ),
        "streaming_moving_time_window": (
            lambda: so.streaming_moving_time_window(FAKE, 10.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 5.0], metric=[1.0, 2.0])),
             _data(_pdf(event_id=[2], time=[12.0], metric=[3.0]))],
        ),
        "streaming_coalesce": (
            lambda: so.streaming_coalesce(FAKE, 2.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0], time=[1.0], metric=[5.0], state=["ok"]),
                   now=1000),
             _fire(now=3000),
             _data(_pdf(event_id=[1], time=[2.0], metric=[6.0], state=["ok"]),
                   now=3500),
             _fire(now=5500)],
        ),
        "streaming_fixed_event_window": (
            lambda: so.streaming_fixed_event_window(FAKE, 2), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                        metric=[1.0, 2.0, 3.0])),
             _data(_pdf(event_id=[3], time=[3.0], metric=[4.0]))],
        ),
        "streaming_fill_in_last": (
            lambda: so.streaming_fill_in_last(FAKE, 5.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0], time=[1.0], metric=[1.0], state=["ok"]),
                   now=0),
             _fire(now=7000),
             _data(_pdf(event_id=[1], time=[9.0], metric=[None],
                        state=["expired"]), now=9000)],
        ),
        "streaming_batch": (
            lambda: so.streaming_batch(FAKE, 3, 10.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0], metric=[1.0, 2.0]),
                   now=0),
             _fire(now=11000),
             _data(_pdf(event_id=[2, 3, 4], time=[12.0, 13.0, 14.0],
                        metric=[3.0, 4.0, 5.0]), now=12000)],
        ),
        "streaming_top": (
            lambda: so.streaming_top(FAKE, 2), (1,),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                        metric=[1.0, 5.0, 3.0],
                        host=["a", "b", "c"], service=["s", "s", "s"],
                        state=["ok", "ok", "ok"])),
             _data(_pdf(event_id=[3], time=[3.0], metric=[None],
                        host=["b"], service=["s"], state=["expired"]))],
        ),
        "streaming_throttle": (
            lambda: so.streaming_throttle(FAKE, 2, 10.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                        metric=[1.0, 2.0, 3.0])),
             _data(_pdf(event_id=[3], time=[11.0], metric=[4.0]))],
        ),
        "streaming_changed": (
            lambda: so.streaming_changed(FAKE), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0], metric=[1.0, 2.0],
                        state=["ok", "critical"])),
             _data(_pdf(event_id=[2, 3], time=[2.0, 3.0], metric=[3.0, 4.0],
                        state=["critical", "ok"]))],
        ),
        "streaming_project": (
            lambda: so.streaming_project(
                FAKE, [F.col("metric") > 2, F.col("metric") < 2]
            ),
            (0,),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0], metric=[1.0, 5.0],
                        pm0=[False, True], pm1=[True, False])),
             _data(_pdf(event_id=[2], time=[2.0], metric=[7.0],
                        pm0=[True], pm1=[False]))],
        ),
        "streaming_anomaly_zscore": (
            lambda: so.streaming_anomaly_zscore(
                FAKE, n_window=5, min_prior=2, threshold=0.5
            ),
            ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                        metric=[1.0, 2.0, 3.0])),
             _data(_pdf(event_id=[3], time=[3.0], metric=[10.0]))],
        ),
        "streaming_dedup_minhash": (
            lambda: so.streaming_dedup_minhash(FAKE), ("band_x",),
            [_data(_pdf(doc_id=[5, 3])),
             _data(_pdf(doc_id=[7, 1]))],
        ),
        "streaming_bottomk": (
            lambda: so.streaming_bottomk(FAKE, k=2), (0,),
            [_data(_pdf(doc_id=[5, 3], priority=[0.5, 0.3])),
             _data(_pdf(doc_id=[7, 1], priority=[0.7, 0.1]))],
        ),
        "streaming_rollup": (
            lambda: so.streaming_rollup(FAKE, 1, 2.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1, 2], time=[0.0, 0.0, 0.0],
                        metric=[1.0, 2.0, 3.0],
                        state=["ok", "ok", "ok"]), now=0),
             _fire(now=2000),
             _data(_pdf(event_id=[3], time=[2.0], metric=[4.0],
                        state=["ok"]), now=2100),
             _fire(now=4000)],
        ),
        "streaming_ddt_interval": (
            lambda: so.streaming_ddt_interval(FAKE, 1.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0], time=[0.0], metric=[1.0],
                        state=["ok"], ttl=[None]), now=0),
             _data(_pdf(event_id=[1], time=[1.0], metric=[3.0],
                        state=["ok"], ttl=[None]), now=500),
             _fire(now=1000),
             _fire(now=2000)],
        ),
        "streaming_interpolate_constant": (
            lambda: so.streaming_interpolate_constant(FAKE, 1.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0], time=[0.0], metric=[1.0],
                        state=["ok"], ttl=[None]), now=0),
             _fire(now=1000),
             _data(_pdf(event_id=[1], time=[2.0], metric=[None],
                        state=["expired"], ttl=[None]), now=2000)],
        ),
        "streaming_rate_interval": (
            lambda: so.streaming_rate_interval(FAKE, 1.0), ("h1", "svc"),
            [_data(_pdf(event_id=[0], time=[0.0], metric=[1.0],
                        state=["ok"], host=["h1"], service=["svc"],
                        ttl=[3.0]), now=0),
             _fire(now=1000),
             _fire(now=2000)],
        ),
        "streaming_stable": (
            lambda: so.streaming_stable(FAKE, 2.0, field="state"),
            ("h1", "svc"),
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0],
                        metric=[1.0, 2.0], state=["ok", "ok"],
                        sval=["ok", "ok"]), now=1000),
             _fire(now=2000),
             _data(_pdf(event_id=[2], time=[3.0], metric=[3.0],
                        state=["crit"], sval=["crit"]), now=3000)],
        ),
        "streaming_clock_skew": (
            lambda: so.streaming_clock_skew(FAKE), (0,),
            [_data(_pdf(event_id=[0, 1], time=[1.0, 3.0],
                        metric=[None, None], state=["ok", "ok"],
                        host=["foo", "bar"]), now=1000),
             _data(_pdf(event_id=[2], time=[9.0], metric=[None],
                        state=["ok"], host=["baz"]), now=2000)],
        ),
        "streaming_token_budget": (
            lambda: so.streaming_token_budget(FAKE, 10), ("s0",),
            [_data(_pdf(doc_id=[0, 1], n_tok=[4, 5])),
             _data(_pdf(doc_id=[2], n_tok=[3]))],
        ),
        "streaming_url_gate": (
            lambda: so.streaming_url_gate(FAKE), (0,),
            [_data(_pdf(doc_id=[0, 1], url=["a.com/p", "b.com/q"],
                        h=["ab" * 16, "cd" * 16])),
             _data(_pdf(doc_id=[2], url=["a.com/p"], h=["ab" * 16]))],
        ),
        "streaming_funnel": (
            lambda: so.streaming_funnel(FAKE, window_s=10.0), ("u1",),
            # view anchors; click advances inside the window; the
            # second batch's purchase lands outside click+10 -> no emit
            [_data(_pdf(event_id=[0, 1, 2],
                        time=[0.0, 5.0, 6.0],
                        service=["click", "view", "click"])),
             _data(_pdf(event_id=[3], time=[17.0],
                        service=["purchase"]))],
        ),
        "streaming_cusum": (
            lambda: so.streaming_cusum(FAKE), ("h1", "svc"),
            # mu=0, sd=1 baselines ride the rows; slack 0.5, h=5.0:
            # the first batch accumulates S to 5.5e6 > 5e6 (crossing
            # emitted), the second batch stays above without a new
            # crossing then decays
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0],
                        metric=[3.0, 3.5], mu=[0.0, 0.0],
                        sd=[1.0, 1.0])),
             _data(_pdf(event_id=[2, 3], time=[2.0, 3.0],
                        metric=[1.0, -4.0], mu=[0.0, 0.0],
                        sd=[1.0, 1.0]))],
        ),
        "streaming_retrain_trigger": (
            lambda: so.streaming_retrain_trigger(FAKE), ("h1", "svc"),
            # mu=0, sd=1 baselines; hour-1 window mean 10 and hour-2
            # window mean 10 both drift (|mean| > sd/4) -> the hour-2
            # close in the second batch is the 2nd consecutive drift
            # and fires ONE trigger for window 1
            [_data(_pdf(event_id=[0, 1, 2],
                        time=[0.0, 1.0, 3600.0],
                        time_us=[0, 1_000_000, 3_600_000_000],
                        metric=[10.0, 10.0, 10.0],
                        mu=[0.0, 0.0, 0.0], sd=[1.0, 1.0, 1.0])),
             _data(_pdf(event_id=[3],
                        time=[7200.0],
                        time_us=[7_200_000_000],
                        metric=[0.0],
                        mu=[0.0], sd=[1.0]))],
        ),
        "streaming_scd2": (
            lambda: so.streaming_scd2(FAKE), ("h1", "svc"),
            # run carried across batches: ok×2, then critical closes
            # the ok run and ok closes the critical run
            [_data(_pdf(event_id=[0, 1], time=[0.0, 1.0],
                        time_us=[0, 1000000], state=["ok", "ok"])),
             _data(_pdf(event_id=[2, 3], time=[2.0, 3.0],
                        time_us=[2000000, 3000000],
                        state=["critical", "ok"]))],
        ),
    }


def _run_script(update, key, script, state):
    out = []
    for kind, df, now, wm in script:
        state._now, state._wm = now, wm
        state.hasTimedOut = kind == "timeout"
        rows = iter([df.copy()]) if df is not None else iter(())
        out.extend(list(update(key, rows, state)))
    return out


STATEFUL_OPS = sorted(
    name for name, _ in inspect.getmembers(stateful_ops)
    if name.startswith("streaming_")
)


@pytest.mark.parametrize("op", STATEFUL_OPS)
def test_tws_shim_contract_full_state_table(spark, monkeypatch, op):
    """Every streaming_* operator in stateful_ops has a contract
    script, and the REAL update fn it registers emits on that script
    with state carried across invocations on the GroupState surface."""
    cases = _state_table_cases()
    assert op in cases, f"no contract script for {op}"
    build, key, script = cases[op]
    update = _capture_update(monkeypatch, build)

    out = _run_script(update, key, script, _FakeLegacyState())
    assert out, f"{op}: contract script produced no emissions"


def test_streaming_cusum_skips_null_baseline(monkeypatch):
    """A key the upstream stream-static baseline left-join missed
    carries null mu/sd; those rows must be skipped (like a null
    metric), not crash the executor with math.floor(nan)."""
    import riemann_spark.streaming.stateful_ops as so

    update = _capture_update(
        monkeypatch, lambda: so.streaming_cusum(_FakeSdf())
    )
    script = [
        _data(_pdf(event_id=[0, 1, 2], time=[0.0, 1.0, 2.0],
                   metric=[3.0, 3.5, 9.9],
                   mu=[0.0, None, 0.0],
                   sd=[1.0, 1.0, None])),
        _data(_pdf(event_id=[3], time=[3.0], metric=[3.0],
                   mu=[0.0], sd=[1.0])),
    ]
    out = _run_script(update, ("h1", "svc"), script, _FakeLegacyState())
    # only rows 0 and 3 count: S = 2.5e6 after batch 1, crossing at
    # row 3 (S -> 5.0e6... = 2.5+2.5) stays <= h=5e6 -> no emission;
    # the point is it RAN and skipped the two null-baseline rows
    assert all(len(df) == 0 or (df["s_q"] <= 10_000_000).all() for df in out)


def test_streaming_index_keep_keys_string_and_unknown(spark):
    """keep_keys as a bare string must mean that ONE field — not be
    exploded into characters by tuple() — and unknown names raise."""
    import pytest as _pytest

    from riemann_spark.streaming.index_stream import streaming_index

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "cast(value as long) as event_id", "'h' as host",
            "'s' as service", "'ok' as state",
            "cast(value as double) as metric",
            "cast(unix_timestamp(timestamp) as double) as time",
            "60.0 as ttl",
        )
    )
    # bare string: builds without error (would raise on field-name
    # validation if exploded into ('m','e','t','r','i','c'))
    streaming_index(sdf, keep_keys="metric")
    with _pytest.raises(ValueError, match="uncarryable"):
        streaming_index(sdf, keep_keys="nope")
    with _pytest.raises(ValueError, match="uncarryable"):
        streaming_index(sdf, keep_keys=("metric", "bogus"))


def test_tws_shim_contract_index_reaper():
    """index_stream's event-time TTL reaper: the upsert arms
    setTimeoutTimestamp at time+ttl, the watermark-driven fire emits
    the synthetic expired row and clears state."""
    from riemann_spark.streaming.index_stream import _update

    script = [
        _data(_pdf(event_id=[0], time=[1.0], metric=[2.0],
                   state=["ok"], ttl=[2.0]), wm=0),
        _fire(wm=5000),
    ]
    legacy = _FakeLegacyState()
    out = _run_script(_update, ("h1", "svc"), script, legacy)

    assert len(out) == 2
    assert out[1].iloc[0]["state"] == "expired"
    assert legacy._v is None  # the reaper cleared the key
    assert legacy.timeout_set_ms == 3000


def test_streaming_scd2_matches_reference_fold_property():
    """Property: for ANY state sequence, streaming_scd2's emission log
    (driven event-by-event through the virtual-clock harness, so state
    crosses an invocation boundary between every pair of events)
    equals a direct fold over the sequence — one closed interval per
    state change, carrying the run's version, bounds, and count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from riemann_spark.streaming.stateful_ops import streaming_scd2
    from riemann_spark.streaming.testkit import run_stream_intervals

    # None is a REGULAR state value (IS DISTINCT FROM semantics, like
    # the batch scd2_state_history oracle): a run of NULLs versions and
    # emits like any other run.
    seqs = st.lists(
        st.sampled_from(["ok", "warning", "critical", None]),
        min_size=0,
        max_size=40,
    )

    @settings(max_examples=60, deadline=None)
    @given(states=seqs)
    def prop(states):
        seq = []
        for i, s in enumerate(states):
            seq.append(
                {"host": "h", "service": "s", "event_id": i,
                 "time": float(i), "time_us": i * 1000000, "state": s}
            )
            seq.append(None)
        out = run_stream_intervals(
            lambda sdf: streaming_scd2(sdf),
            seq,
            row_fields=("event_id", "time", "time_us", "state"),
        )
        exp, prev, ver, vfrom, n = [], None, 0, 0, 0
        for i, s in enumerate(states):
            t = i * 1000000
            if ver == 0:
                prev, ver, vfrom, n = s, 1, t, 1
            elif s == prev:
                n += 1
            else:
                exp.append((ver, prev, vfrom, t, n))
                prev, ver, vfrom, n = s, ver + 1, t, 1
        got = [
            (r["version"], r["state"], r["valid_from_us"],
             r["valid_to_us"], r["n_events"])
            for r in out
        ]
        assert got == exp

    prop()


def test_streaming_funnel_matches_reference_fold_property():
    """Property: for ANY event-type sequence with ANY gaps, the funnel
    state machine's emission log (one invocation per event) equals the
    direct fixed-anchor fold — stage advances only on the next stage,
    strictly after and within the window of the previous one."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from riemann_spark.streaming.stateful_ops import streaming_funnel
    from riemann_spark.streaming.testkit import run_stream_intervals

    seqs = st.lists(
        st.tuples(
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.floats(min_value=0.25, max_value=30.0),
        ),
        min_size=0,
        max_size=30,
    )

    @settings(max_examples=60, deadline=None)
    @given(evs=seqs)
    def prop(evs):
        w = 20.0
        t, seq, times = 0.0, [], []
        for i, (svc, dt) in enumerate(evs):
            t += dt
            times.append(t)
            seq.append(
                {"host": "u", "event_id": i, "time": t, "service": svc}
            )
            seq.append(None)
        out = run_stream_intervals(
            lambda sdf: streaming_funnel(sdf, window_s=w),
            seq,
            row_fields=("event_id", "time", "service"),
            key_fields=("host",),
        )
        stages = {"view": 1, "click": 2, "purchase": 3}
        exp, stage, anchor = [], 0, 0.0
        for (svc, _dt), t_i in zip(evs, times):
            want = stages.get(svc)
            if want is None:
                continue
            if stage == 0 and want == 1:
                stage, anchor = 1, t_i
                exp.append((1, svc, t_i))
            elif want == stage + 1 and anchor < t_i <= anchor + w:
                stage, anchor = want, t_i
                exp.append((want, svc, t_i))
        got = [(r["stage"], r["name"], r["stage_time"]) for r in out]
        assert got == exp

    prop()


def test_interval_harness_controlled_clock_semantics():
    """Ports time/controlled_test.clj (clock-test :11-18, once-test
    :20-34, every-test :36-52) against our virtual-clock harness
    (streaming/testkit.py IntervalHarness — the run-stream-intervals
    stand-in every interval-vector test drives): due timers fire in
    deadline order exactly once, an un-re-armed timer is cancelled,
    and a self-re-arming timer (every!) repeats on its period."""
    import pandas as pd

    from riemann_spark.streaming.testkit import IntervalHarness

    fired: list[tuple] = []

    def update(key, pdfs, state):
        if state.hasTimedOut:
            fired.append((key[0], h.now_ms / 1000.0))
            if key[0] == "every":
                # every! 1s period: re-arm relative to the fire time
                state.setTimeoutTimestamp(h.now_ms + 1000)
            else:
                state.remove()
            return iter(())
        for pdf in pdfs:
            for rec in pdf.to_dict("records"):
                if rec["arm_ms"] is not None:
                    state.update((1,))
                    state.setTimeoutTimestamp(int(rec["arm_ms"]))
        return iter(())

    h = IntervalHarness(update, ("k",))
    # clock: negative/zero advance keeps time monotone at 0
    assert h.now_ms == 0

    # once!: three one-shot timers at 1s, 2s, 3s
    for k, at in (("o1", 1000), ("o2", 2000), ("o3", 3000)):
        h.send({"k": k, "arm_ms": at}, ("k", "arm_ms"))
    h.advance(0.5)
    assert fired == []                       # nothing due yet
    h.advance(2.0)                           # clock -> 2.5
    assert fired == [("o1", 1.0), ("o2", 2.0)]  # in deadline order
    # cancel once3: an invocation that does not re-arm drops the timer
    h.send({"k": "o3", "arm_ms": None}, ("k", "arm_ms"))
    h.advance(3.0)
    assert [f for f in fired if f[0] == "o3"] == []

    # every!: first fire at 6s, then every 1s (harness clock is 5.5)
    fired.clear()
    h.send({"k": "every", "arm_ms": 6000}, ("k", "arm_ms"))
    h.advance(3.0)                           # clock -> 8.5
    assert fired == [("every", 6.0), ("every", 7.0), ("every", 8.0)]
