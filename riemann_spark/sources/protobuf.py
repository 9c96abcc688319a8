"""Riemann protobuf ``Msg`` wire codec — pure Python, no protobuf lib.

The reference's primary wire format: its TCP/UDP transports frame
protobuf ``Msg`` objects (/root/reference/src/riemann/transport.clj:
107-132 installs ProtobufDecoder(Proto$Msg); common.clj:91-112
decode-msg → events). The schema is the public ``io.riemann.riemann``
proto shipped with the riemann clients:

    message Attribute { required string key = 1; optional string value = 2; }
    message Query     { optional string string = 1; }
    message Event {
      optional int64  time          = 1;
      optional string state         = 2;
      optional string service       = 3;
      optional string host          = 4;
      optional string description   = 5;
      repeated string tags          = 7;
      optional float  ttl           = 8;
      repeated Attribute attributes = 9;
      optional int64  time_micros   = 10;
      optional sint64 metric_sint64 = 13;
      optional double metric_d      = 14;
      optional float  metric_f      = 15;
    }
    message Msg {
      optional bool   ok     = 2;
      optional string error  = 3;
      repeated State  states = 4;   // legacy alias of Event, same shape
      optional Query  query  = 5;
      repeated Event  events = 6;
    }

The container ships no protobuf library, so the wire format itself
(varint / zigzag / fixed64 / fixed32 / length-delimited — the public
protobuf encoding spec) is implemented here directly. Semantics match
the reference client codec:

- encode: integral metric → metric_sint64 (+ metric_f for legacy
  readers); non-integral → metric_d (+ metric_f). time is written as
  both whole seconds (field 1) and exact microseconds (field 10).
- decode: metric precedence sint64 > double > float; time prefers
  time_micros/1e6 over whole-second time (common.clj decode order).

Spark integration is ``mapInPandas`` over Arrow batches — the codec is
a per-row byte-string transform at the serialization boundary (the
same place the reference runs its Netty codec), not a query operator;
everything downstream of decode is Column-only. (The TCP/UDP servers
decode on arrival instead; both build rows with ``event_columns``.)
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------------ #
# wire primitives (protobuf encoding spec)

_VARINT, _FIX64, _LEN, _FIX32 = 0, 1, 2, 5


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _int64(n: int) -> bytes:
    # two's-complement 64-bit varint (negative int64 → 10 bytes)
    return _uvarint(n & 0xFFFFFFFFFFFFFFFF)


def _to_signed64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n


def _zigzag64(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag64(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wt: int) -> bytes:
    return _uvarint((field << 3) | wt)


def _f32(x: float) -> bytes:
    # C float conversion semantics: overflow saturates to ±inf (what a
    # real protobuf runtime emits for a double too large for float32)
    try:
        return struct.pack("<f", x)
    except OverflowError:
        return struct.pack("<f", math.inf if x > 0 else -math.inf)


def _str_field(field: int, s: str) -> bytes:
    b = s.encode("utf-8")
    return _tag(field, _LEN) + _uvarint(len(b)) + b


def _msg_field(field: int, b: bytes) -> bytes:
    return _tag(field, _LEN) + _uvarint(len(b)) + b


# ------------------------------------------------------------------ #
# Event / Msg codec

def encode_event(e: dict) -> bytes:
    """Encode an event dict to ``Event`` wire bytes. Recognized keys:
    host service state description tags(list[str]) ttl metric
    time (float seconds) time_us (int micros, preferred if present)
    attributes (dict[str,str])."""
    out = bytearray()
    t_us = e.get("time_us")
    t = e.get("time")
    if t_us is None and t is not None:
        t_us = int(round(float(t) * 1e6))
    if t_us is not None:
        out += _tag(1, _VARINT) + _int64(int(t_us) // 1000000)
    for field, key in ((2, "state"), (3, "service"), (4, "host"), (5, "description")):
        v = e.get(key)
        if v is not None:
            out += _str_field(field, str(v))
    for tg in e.get("tags") or ():
        out += _str_field(7, str(tg))
    ttl = e.get("ttl")
    if ttl is not None:
        out += _tag(8, _FIX32) + _f32(float(ttl))
    for k, v in (e.get("attributes") or {}).items():
        a = _str_field(1, str(k))
        if v is not None:
            a += _str_field(2, str(v))
        out += _msg_field(9, a)
    if t_us is not None:
        out += _tag(10, _VARINT) + _int64(int(t_us))
    m = e.get("metric")
    if m is not None and not (isinstance(m, float) and math.isnan(m)):
        if isinstance(m, int) or (isinstance(m, float) and m.is_integer() and abs(m) < 2**63):
            out += _tag(13, _VARINT) + _int64(_zigzag64(int(m)))
        else:
            out += _tag(14, _FIX64) + struct.pack("<d", float(m))
        out += _tag(15, _FIX32) + _f32(float(m))
    return bytes(out)


_STR_FIELDS = {2: "state", 3: "service", 4: "host", 5: "description"}


def decode_event(buf: bytes) -> dict:
    """Decode ``Event`` wire bytes → event dict (decode-msg semantics:
    metric precedence sint64 > double > float; time prefers micros).

    Hot path: every wire read inlines the one-byte-varint fast case
    (tags and lengths here are almost always < 128)."""
    e: dict = {"tags": [], "attributes": {}}
    sint = mtrc_d = mtrc_f = None
    t_s = t_us = None
    i, n = 0, len(buf)
    read_uv, unpack = _read_uvarint, struct.unpack_from
    while i < n:
        key = buf[i]
        if key < 0x80:
            i += 1
        else:
            key, i = read_uv(buf, i)
        field, wt = key >> 3, key & 7
        if wt == _VARINT:
            v = buf[i]
            if v < 0x80:
                i += 1
            else:
                v, i = read_uv(buf, i)
            if field == 1:
                t_s = _to_signed64(v)
            elif field == 10:
                t_us = _to_signed64(v)
            elif field == 13:
                sint = _unzigzag64(v)
        elif wt == _FIX64:
            (d,) = unpack("<d", buf, i)
            i += 8
            if field == 14:
                mtrc_d = d
        elif wt == _FIX32:
            (f32,) = unpack("<f", buf, i)
            i += 4
            if field == 8:
                e["ttl"] = f32
            elif field == 15:
                mtrc_f = f32
        elif wt == _LEN:
            ln = buf[i]
            if ln < 0x80:
                i += 1
            else:
                ln, i = read_uv(buf, i)
            j = i + ln
            if j > n:
                raise ValueError("truncated length-delimited field")
            chunk = buf[i:j]
            i = j
            name = _STR_FIELDS.get(field)
            if name is not None:
                e[name] = chunk.decode("utf-8")
            elif field == 7:
                e["tags"].append(chunk.decode("utf-8"))
            elif field == 9:
                k = v = None
                j = 0
                while j < ln:
                    ak, j = _read_uvarint(chunk, j)
                    aln, j = _read_uvarint(chunk, j)
                    if j + aln > ln:
                        raise ValueError("truncated attribute field")
                    s = chunk[j : j + aln].decode("utf-8")
                    j += aln
                    if ak >> 3 == 1:
                        k = s
                    else:
                        v = s
                if k is not None:
                    e["attributes"][k] = v
        else:
            raise ValueError(f"unsupported wire type {wt}")
    if t_us is not None:
        e["time"] = t_us / 1e6
        e["time_us"] = t_us
    elif t_s is not None:
        e["time"] = float(t_s)
        e["time_us"] = t_s * 1000000
    e["metric"] = sint if sint is not None else (mtrc_d if mtrc_d is not None else mtrc_f)
    return e


def encode_msg(
    events: list[dict] | None = None,
    ok: bool | None = None,
    error: str | None = None,
    query: str | None = None,
) -> bytes:
    """Encode a ``Msg`` (the TCP frame payload: transport.clj:107-132)."""
    out = bytearray()
    if ok is not None:
        out += _tag(2, _VARINT) + _uvarint(1 if ok else 0)
    if error is not None:
        out += _str_field(3, error)
    if query is not None:
        out += _msg_field(5, _str_field(1, query))
    for e in events or ():
        out += _msg_field(6, encode_event(e))
    return bytes(out)


def msg_events(m: dict) -> list[dict]:
    """The events a decoded Msg carries: ``events``, then the legacy
    ``states`` (transport.clj handle streams both)."""
    return m["events"] + m["states"]


def decode_msg(buf: bytes) -> dict:
    """Decode ``Msg`` wire bytes → {ok, error, query, events, states}."""
    m: dict = {"ok": None, "error": None, "query": None, "events": [], "states": []}
    i, n = 0, len(buf)
    read_uv = _read_uvarint
    while i < n:
        key = buf[i]
        if key < 0x80:
            i += 1
        else:
            key, i = read_uv(buf, i)
        field, wt = key >> 3, key & 7
        if wt == _VARINT:
            v, i = read_uv(buf, i)
            if field == 2:
                m["ok"] = bool(v)
        elif wt == _LEN:
            ln = buf[i]
            if ln < 0x80:
                i += 1
            else:
                ln, i = read_uv(buf, i)
            j = i + ln
            if j > n:
                raise ValueError("truncated length-delimited field")
            chunk = buf[i:j]
            i = j
            if field == 3:
                m["error"] = chunk.decode("utf-8")
            elif field == 5:
                j = 0
                while j < ln:
                    qk, j = _read_uvarint(chunk, j)
                    qln, j = _read_uvarint(chunk, j)
                    if j + qln > ln:
                        raise ValueError("truncated query field")
                    if qk >> 3 == 1:
                        m["query"] = chunk[j : j + qln].decode("utf-8")
                    j += qln
            elif field == 6:
                m["events"].append(decode_event(chunk))
            elif field == 4:
                m["states"].append(decode_event(chunk))
        elif wt == _FIX64:
            i += 8
        elif wt == _FIX32:
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
    return m


# ------------------------------------------------------------------ #
# Spark boundary

_ENC_SCHEMA = StructType([StructField("msg", BinaryType())])

DECODED_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("service", StringType()),
        StructField("state", StringType()),
        StructField("description", StringType()),
        StructField("metric", DoubleType()),
        StructField("tags", ArrayType(StringType())),
        StructField("time", DoubleType()),
        StructField("time_us", LongType()),
        StructField("ttl", DoubleType()),
        StructField("attributes", MapType(StringType(), StringType())),
    ]
)

_EV_COLS = [
    "host",
    "service",
    "state",
    "description",
    "metric",
    "tags",
    "time",
    "time_us",  # exact integer micros preferred by encode_event
    "ttl",
]


def events_to_msg_binary(df: DataFrame) -> DataFrame:
    """Encode each event row into a single-event ``Msg`` frame
    (binary column ``msg``) — the sink/egress half of the TCP
    transport, Arrow-batched."""
    cols = [c for c in _EV_COLS if c in df.columns]

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip over column arrays: ~10x cheaper than to_dict("records")
            series = [pdf[c].to_numpy() for c in cols]
            msgs = [
                encode_msg([{k: _clean(v) for k, v in zip(cols, vals)}])
                for vals in zip(*series)
            ]
            yield pd.DataFrame({"msg": msgs})

    from riemann_spark.operators.skew import spread_for_python

    return spread_for_python(df.select(*cols)).mapInPandas(enc, _ENC_SCHEMA)


def event_columns(events: Iterable[dict]) -> dict[str, list]:
    """The one event-to-row mapping: decoded event dicts to
    DECODED_SCHEMA columns, one python list per column (pandas and
    Arrow each assemble a list as a single array, no per-row boxing)."""
    cols: list[list] = [[] for _ in DECODED_SCHEMA.names]
    for e in events:
        g = e.get
        m, t = g("metric"), g("ttl")
        cols[0].append(g("host"))
        cols[1].append(g("service"))
        cols[2].append(g("state"))
        cols[3].append(g("description"))
        cols[4].append(None if m is None else float(m))
        cols[5].append(g("tags") or [])
        cols[6].append(g("time"))
        cols[7].append(g("time_us"))
        cols[8].append(None if t is None else float(t))
        cols[9].append(g("attributes") or {})
    return dict(zip(DECODED_SCHEMA.names, cols))


def _decoded_batches(
    batches: Iterator[pd.DataFrame], bin_col: str, skip_bad: bool
) -> Iterator[pd.DataFrame]:
    """Fan ``Msg`` frames out to one DECODED_SCHEMA row per event. A
    batch whose frames carry no events (e.g. a lone ``Msg{ok}``) yields
    nothing: its empty columns would build as float64, which Arrow
    cannot convert to the list/map fields. ``skip_bad`` drops
    undecodable frames instead of raising."""
    for pdf in batches:
        events: list[dict] = []
        for buf in pdf[bin_col]:
            if type(buf) is not bytes:  # Arrow usually hands bytes already
                buf = bytes(buf)
            try:
                events += msg_events(decode_msg(buf))
            except Exception:
                if not skip_bad:
                    raise
        if events:
            yield pd.DataFrame(event_columns(events))


def msg_binary_to_events(df: DataFrame, bin_col: str = "msg") -> DataFrame:
    """Decode ``Msg`` frames into event rows (ingest half). Multi-event
    frames fan out to one row per event, matching decode-msg."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decoded_batches(batches, bin_col, skip_bad=False)

    from riemann_spark.operators.skew import spread_for_python

    return spread_for_python(df.select(bin_col)).mapInPandas(dec, DECODED_SCHEMA)


_DEAD_SCHEMA = StructType(
    [
        StructField("msg", BinaryType()),
        StructField("error", StringType()),
    ]
)


def msg_binary_to_events_with_errors(
    df: DataFrame, bin_col: str = "msg"
) -> tuple[DataFrame, DataFrame]:
    """Decode with an exception stream (streams.clj:81-121
    call-rescue; transport.clj catches codec errors per connection):
    well-formed frames → events, undecodable frames → a dead-letter
    frame carrying the raw bytes and the error, instead of poisoning
    the whole partition. Two passes over the frame stream, each
    mapInPandas — both sides stay distributed; at 100 TB the dead
    side is ~empty and costs only the shared decode attempt."""

    def dec_ok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decoded_batches(batches, bin_col, skip_bad=True)

    def dec_dead(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bad, errs = [], []
            for buf in pdf[bin_col]:
                if type(buf) is not bytes:
                    buf = bytes(buf)
                try:
                    decode_msg(buf)
                except Exception as exc:  # noqa: BLE001 — the dead letter IS the handler
                    bad.append(buf)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {
                    "msg": pd.Series(bad, dtype="object"),
                    "error": pd.Series(errs, dtype="object"),
                }
            )

    from riemann_spark.operators.skew import spread_for_python

    src = spread_for_python(df.select(bin_col))
    return src.mapInPandas(dec_ok, DECODED_SCHEMA), src.mapInPandas(
        dec_dead, _DEAD_SCHEMA
    )


def _clean(v):
    """Arrow→Python normalization at the codec boundary: numpy scalars
    to native int/float (isinstance checks in encode_event rely on
    it), ndarrays to lists, NaN to absent."""
    import numpy as np

    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return [str(x) for x in v]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v
