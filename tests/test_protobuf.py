"""Protobuf Msg wire-codec golden cases (transport.clj:107-132,
common.clj:91-112 decode-msg semantics)."""

from __future__ import annotations

import pytest

import struct

from riemann_spark.sources.protobuf import (
    decode_event,
    decode_msg,
    encode_event,
    encode_msg,
)


def rt(e: dict) -> dict:
    return decode_msg(encode_msg([e]))["events"][0]


def test_string_fields_and_tags():
    e = rt(
        {
            "host": "h",
            "service": "svc",
            "state": "ok",
            "description": "d",
            "tags": ["a", "b", "ünïcode"],
            "time": 7.0,
        }
    )
    assert (e["host"], e["service"], e["state"], e["description"]) == ("h", "svc", "ok", "d")
    assert e["tags"] == ["a", "b", "ünïcode"]


def test_metric_sint64_zigzag_negative():
    # integral metrics ride metric_sint64 (zigzag); negatives stay exact
    for m in (0, 1, -1, 42, -(2**62), 2**62):
        assert rt({"metric": m, "time": 0.0})["metric"] == m


def test_metric_double_precedence_over_float():
    # non-integral → metric_d; decode must prefer d over the f32 echo
    e = rt({"metric": 3.141592653589793, "time": 0.0})
    assert e["metric"] == 3.141592653589793  # f32 would give 3.1415927


def test_time_micros_preferred_and_exact():
    e = rt({"time_us": 1700000000123456})
    assert e["time_us"] == 1700000000123456
    assert e["time"] == 1700000000123456 / 1e6


def test_time_seconds_only_fallback():
    # a frame carrying only whole-second time (field 1), no micros
    raw = b"\x08\x2a"  # field 1 varint = 42
    e = decode_event(raw)
    assert e["time"] == 42.0 and e["time_us"] == 42_000_000


def test_ttl_crosses_float32():
    e = rt({"ttl": 60.0, "time": 0.0})
    assert e["ttl"] == struct.unpack("<f", struct.pack("<f", 60.0))[0]


def test_attributes_roundtrip():
    e = rt({"attributes": {"k1": "v1", "k2": None}, "time": 0.0})
    assert e["attributes"] == {"k1": "v1", "k2": None}


def test_msg_envelope_ok_error_query():
    m = decode_msg(encode_msg(ok=True, error="nope", query='state = "ok"'))
    assert m["ok"] is True and m["error"] == "nope" and m["query"] == 'state = "ok"'
    assert m["events"] == []


def test_multi_event_msg_fans_out():
    evs = [{"service": f"s{i}", "time": float(i)} for i in range(5)]
    m = decode_msg(encode_msg(evs))
    assert [e["service"] for e in m["events"]] == ["s0", "s1", "s2", "s3", "s4"]


def test_nil_metric_absent():
    e = rt({"service": "s", "time": 0.0})
    assert e["metric"] is None


def test_spark_roundtrip_mapinpandas(spark):
    from riemann_spark.sources import events_to_msg_binary, msg_binary_to_events
    from tests.conftest import events

    df = events(
        spark,
        {"metric": 1.5, "time": 1.0, "host": "a", "service": "x"},
        {"metric": -7.0, "time": 2.0, "host": "b", "service": "y"},
        {"metric": None, "time": 3.0, "host": "c", "service": "z"},
    )
    back = msg_binary_to_events(events_to_msg_binary(df))
    rows = {r.host: (r.metric, r.time) for r in back.collect()}
    assert rows == {"a": (1.5, 1.0), "b": (-7.0, 2.0), "c": (None, 3.0)}


# ---------------------------------------------------------------- #
# property: encode→decode is the identity on the event model

@pytest.mark.slow
def test_wire_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    txt = st.text(min_size=0, max_size=40)
    metric = st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )
    ev = st.fixed_dictionaries(
        {},
        optional={
            "host": txt,
            "service": txt,
            "state": txt,
            "description": txt,
            "metric": metric,
            "tags": st.lists(txt, max_size=4),
            "time_us": st.integers(min_value=0, max_value=2**53),
            "ttl": st.floats(min_value=0, max_value=1e6, allow_nan=False),
            "attributes": st.dictionaries(
                st.text(min_size=1, max_size=10), txt, max_size=3
            ),
        },
    )

    @settings(max_examples=300, deadline=None)
    @given(e=ev)
    def run(e):
        got = decode_msg(encode_msg([e]))["events"][0]
        for k in ("host", "service", "state", "description"):
            assert got.get(k) == e.get(k, None)
        assert got["tags"] == e.get("tags", [])
        assert got["attributes"] == e.get("attributes", {})
        if "time_us" in e:
            assert got["time_us"] == e["time_us"]
        m = e.get("metric")
        if m is None:
            assert got["metric"] is None
        elif isinstance(m, int) or (isinstance(m, float) and m.is_integer() and abs(m) < 2**63):
            assert got["metric"] == int(m)  # sint64 precedence
        else:
            assert got["metric"] == m  # double field, exact
        if "ttl" in e:
            assert got["ttl"] == struct.unpack("<f", struct.pack("<f", e["ttl"]))[0]

    run()


def test_decode_dead_letter_split(spark):
    from riemann_spark.sources.protobuf import (
        encode_msg,
        msg_binary_to_events_with_errors,
    )

    good = encode_msg([{"host": "h1", "service": "s", "metric": 1.5, "time": 10.0}])
    # wire type 7 is invalid; varint field id 1 → decode raises
    bad = bytes([0x0F, 0xFF, 0xFF])
    df = spark.createDataFrame([(good,), (bad,), (good,)], "msg binary")
    ok, dead = msg_binary_to_events_with_errors(df)
    assert ok.count() == 2
    assert {r.host for r in ok.collect()} == {"h1"}
    dl = dead.collect()
    assert len(dl) == 1
    assert bytes(dl[0].msg) == bad and "ValueError" in dl[0].error


def test_event_less_frame_decodes_to_no_rows(spark):
    """A ``Msg{ok}`` frame carries no events (a Kafka topic may carry
    one; the servers spool only event-bearing Msgs). Alone in a
    partition it decodes to 0 rows on both decode paths, and beside an
    event frame it adds none."""
    from riemann_spark.sources.protobuf import (
        encode_msg,
        msg_binary_to_events,
        msg_binary_to_events_with_errors,
    )

    empty = spark.createDataFrame([(encode_msg(ok=True),)], "msg binary")
    assert msg_binary_to_events(empty).collect() == []
    assert msg_binary_to_events_with_errors(empty)[0].collect() == []

    good = encode_msg([{"host": "h1", "service": "s", "metric": 1.5, "time": 10.0}])
    mixed = spark.sparkContext.parallelize(
        [(encode_msg(ok=True),), (good,)], 2
    ).toDF("msg binary")
    assert [r.host for r in msg_binary_to_events(mixed).collect()] == ["h1"]


def _states_msg(events: list[dict]) -> bytes:
    """A Msg carrying its events in the legacy ``states`` field (4)."""
    from riemann_spark.sources.protobuf import _msg_field

    return b"".join(_msg_field(4, encode_event(e)) for e in events)


def test_states_decode_as_events_through_the_bridge(spark):
    """transport.clj handle streams ``states`` as well as ``events``: a
    states-only Msg decodes to one row per state."""
    from riemann_spark.sources.protobuf import msg_binary_to_events

    frame = _states_msg([{"host": "s1", "service": "svc", "metric": 2.0, "time": 5.0}])
    assert decode_msg(frame)["states"][0]["host"] == "s1"
    df = spark.createDataFrame([(frame,)], "msg binary")
    got = [(r.host, r.metric, r.time) for r in msg_binary_to_events(df).collect()]
    assert got == [("s1", 2.0, 5.0)]


@pytest.mark.parametrize(
    "buf",
    [
        b"\x32\x05\x22\x01h",  # Msg announces a 5-byte event, carries 3
        b"\x32\x04\x22\x05ho",  # event host announces 5 bytes, carries 2
        b"\x2a\x04\x0a\x07ab",  # query string announces 7 bytes, carries 2
        b"\x32\x05\x4a\x03\x0a\x05k",  # attribute key overruns its attribute
    ],
    ids=["event", "event_field", "query", "attribute"],
)
def test_truncated_length_delimited_field_raises(buf):
    with pytest.raises(ValueError, match="truncated"):
        decode_msg(buf)


def test_truncated_frame_goes_to_the_dead_letter_side(spark):
    from riemann_spark.sources.protobuf import msg_binary_to_events_with_errors

    good = encode_msg([{"host": "h1", "service": "s", "time": 10.0}])
    bad = b"\x32\x05\x22\x01h"
    df = spark.createDataFrame([(good,), (bad,)], "msg binary")
    ok, dead = msg_binary_to_events_with_errors(df)
    assert [r.host for r in ok.collect()] == ["h1"]
    (dl,) = dead.collect()
    assert bytes(dl.msg) == bad and "truncated" in dl.error
