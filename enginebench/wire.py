"""A minimal riemann ``Msg`` writer and reader, written for the benchmark.

The load generator encodes its frames and decodes acks and query replies
with this module, never with ``riemann_spark.sources.protobuf``, so a
fault in the engine's codec cannot cancel itself out on both ends.

Only the fields the benchmark sends or reads are handled (the public
``io.riemann.riemann`` proto):

    Event: time=1 (int64 s), state=2, service=3, host=4, description=5,
           tags=7 (repeated), ttl=8 (float), time_micros=10 (int64),
           metric_sint64=13 (zigzag), metric_d=14 (double)
    Msg:   ok=2 (bool), error=3, query=5 {string=1}, events=6 (repeated)
"""

from __future__ import annotations

import struct


def _varint(n: int) -> bytes:
    n &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _key(field: int, wire_type: int) -> bytes:
    return _varint(field << 3 | wire_type)


def _bytes_field(field: int, b: bytes) -> bytes:
    return _key(field, 2) + _varint(len(b)) + b


def encode_event(e: dict) -> bytes:
    """``e`` holds host, service, state, description (str or None),
    metric (float), tags (list of str), ttl (float), time_us (int)."""
    out = bytearray()
    t_us = e["time_us"]
    out += _key(1, 0) + _varint(t_us // 1_000_000)
    for field, name in ((2, "state"), (3, "service"), (4, "host"), (5, "description")):
        if e.get(name) is not None:
            out += _bytes_field(field, e[name].encode())
    for t in e.get("tags") or ():
        out += _bytes_field(7, t.encode())
    if e.get("ttl") is not None:
        out += _key(8, 5) + struct.pack("<f", e["ttl"])
    out += _key(10, 0) + _varint(t_us)
    m = e.get("metric")
    if m is not None:
        if float(m).is_integer():
            n = int(m)
            out += _key(13, 0) + _varint((n << 1) ^ (n >> 63))
        else:
            out += _key(14, 1) + struct.pack("<d", m)
    return bytes(out)


def encode_msg(events: list[dict] = (), query: str | None = None) -> bytes:
    out = bytearray()
    if query is not None:
        out += _bytes_field(5, _bytes_field(1, query.encode()))
    for e in events:
        out += _bytes_field(6, encode_event(e))
    return bytes(out)


def frame(payload: bytes) -> bytes:
    """The TCP transport's 4-byte big-endian length prefix."""
    return struct.pack(">I", len(payload)) + payload


def _read_varint(b: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        c = b[i]
        i += 1
        n |= (c & 0x7F) << shift
        if c < 0x80:
            return n, i
        shift += 7


def _fields(b: bytes):
    i = 0
    while i < len(b):
        key, i = _read_varint(b, i)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _read_varint(b, i)
        elif wt == 1:
            v, i = b[i : i + 8], i + 8
        elif wt == 5:
            v, i = b[i : i + 4], i + 4
        elif wt == 2:
            ln, i = _read_varint(b, i)
            v, i = b[i : i + ln], i + ln
        else:
            raise ValueError(f"wire type {wt}")
        yield field, wt, v


def _signed(n: int) -> int:
    return n - (1 << 64) if n >= 1 << 63 else n


def decode_event(b: bytes) -> dict:
    e: dict = {"tags": []}
    t_s = t_us = sint = dbl = None
    for field, _, v in _fields(b):
        if field == 1:
            t_s = _signed(v)
        elif field == 2:
            e["state"] = v.decode()
        elif field == 3:
            e["service"] = v.decode()
        elif field == 4:
            e["host"] = v.decode()
        elif field == 5:
            e["description"] = v.decode()
        elif field == 7:
            e["tags"].append(v.decode())
        elif field == 8:
            e["ttl"] = struct.unpack("<f", v)[0]
        elif field == 10:
            t_us = _signed(v)
        elif field == 13:
            sint = (v >> 1) ^ -(v & 1)
        elif field == 14:
            dbl = struct.unpack("<d", v)[0]
    e["time_us"] = t_us if t_us is not None else (None if t_s is None else t_s * 1_000_000)
    e["metric"] = float(sint) if sint is not None else dbl
    return e


def decode_msg(b: bytes) -> dict:
    m: dict = {"ok": None, "error": None, "events": []}
    for field, _, v in _fields(b):
        if field == 2:
            m["ok"] = bool(v)
        elif field == 3:
            m["error"] = v.decode()
        elif field == 6:
            m["events"].append(decode_event(v))
    return m
