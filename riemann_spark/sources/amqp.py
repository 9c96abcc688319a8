"""AMQP 0-9-1 wire transport — the reference's rabbitmq forwarder
(/root/reference/src/riemann/rabbitmq.clj:1-76) without a vendor
client library.

The reference publishes each event as a JSON message to a declared
topic exchange (default name "riemann", routing key "riemann.events",
content-type application/json; rabbitmq.clj:60-76). This module
implements the published AMQP 0-9-1 framing (the OASIS spec's General
Frame Format §2.3.5 and the classes the forwarder touches) in pure
stdlib, the same playbook as the Kafka RecordBatch codec:

- frame codec: method / content-header / content-body frames, field
  tables (the RabbitMQ dialect's S/t/I/F types), bit-packed flags;
- ``AmqpPublisher``: a blocking client that performs the
  connection.start → tune → open → channel.open → exchange.declare
  handshake and publishes one message per event, mirroring
  rabbitmq.clj's ``(le/declare …)`` + ``(lb/publish …)`` sequence;
- ``LoopbackAmqpBroker``: an in-process broker speaking the
  server side of the same handshake, with topic-pattern bindings
  (``*`` one word, ``#`` any words) and basic.consume/deliver — so
  the publish → route → deliver round trip is testable without
  RabbitMQ, like the riemann TCP forwarder's loopback server;
- a ``rabbitmq`` sink registration lives in streaming/sinks.py.

A live-broker test (tests/test_amqp.py) runs the publisher against
$AMQP_URL where one exists and skips in-container, like the Kafka
live test.
"""

from __future__ import annotations

import json
import socket
import socketserver
import struct
import threading
from collections import deque
from typing import Any

PROTOCOL_HEADER = b"AMQP\x00\x00\x09\x01"
FRAME_METHOD, FRAME_HEADER, FRAME_BODY, FRAME_HEARTBEAT = 1, 2, 3, 8
FRAME_END = 0xCE

# (class, method) ids used by the forwarder's handshake + publish path
CONN_START, CONN_START_OK = (10, 10), (10, 11)
CONN_TUNE, CONN_TUNE_OK = (10, 30), (10, 31)
CONN_OPEN, CONN_OPEN_OK = (10, 40), (10, 41)
CONN_CLOSE, CONN_CLOSE_OK = (10, 50), (10, 51)
CHAN_OPEN, CHAN_OPEN_OK = (20, 10), (20, 11)
EXCH_DECLARE, EXCH_DECLARE_OK = (40, 10), (40, 11)
QUEUE_DECLARE, QUEUE_DECLARE_OK = (50, 10), (50, 11)
QUEUE_BIND, QUEUE_BIND_OK = (50, 20), (50, 21)
BASIC_CONSUME, BASIC_CONSUME_OK = (60, 20), (60, 21)
BASIC_PUBLISH, BASIC_DELIVER = (60, 40), (60, 60)


# ----------------------------------------------------- wire primitives

def _shortstr(s: str) -> bytes:
    b = s.encode()
    if len(b) > 255:
        raise ValueError("shortstr > 255 bytes")
    return bytes([len(b)]) + b


def _longstr(b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + b


def encode_table(t: dict) -> bytes:
    """RabbitMQ-dialect field table: S longstr, t bool, I int32,
    F nested table."""
    body = bytearray()
    for k, v in t.items():
        body += _shortstr(k)
        if isinstance(v, bool):
            body += b"t" + (b"\x01" if v else b"\x00")
        elif isinstance(v, int):
            body += b"I" + struct.pack(">i", v)
        elif isinstance(v, dict):
            body += b"F" + encode_table(v)
        else:
            body += b"S" + _longstr(str(v).encode())
    return _longstr(bytes(body))


def decode_table(buf: bytes, pos: int) -> tuple[dict, int]:
    (n,) = struct.unpack_from(">I", buf, pos)
    pos += 4
    end, out = pos + n, {}
    while pos < end:
        klen = buf[pos]
        key = buf[pos + 1 : pos + 1 + klen].decode()
        pos += 1 + klen
        typ = buf[pos : pos + 1]
        pos += 1
        if typ == b"t":
            out[key] = buf[pos] != 0
            pos += 1
        elif typ == b"I":
            (out[key],) = struct.unpack_from(">i", buf, pos)
            pos += 4
        elif typ == b"S":
            (sn,) = struct.unpack_from(">I", buf, pos)
            out[key] = buf[pos + 4 : pos + 4 + sn].decode()
            pos += 4 + sn
        elif typ == b"F":
            out[key], pos = decode_table(buf, pos)
        else:
            raise ValueError(f"unsupported field type {typ!r}")
    return out, end


def _frame(ftype: int, channel: int, payload: bytes) -> bytes:
    return struct.pack(">BHI", ftype, channel, len(payload)) + payload + bytes([FRAME_END])


def method_frame(channel: int, cm: tuple[int, int], args: bytes = b"") -> bytes:
    return _frame(FRAME_METHOD, channel, struct.pack(">HH", *cm) + args)


def content_frames(
    channel: int, body: bytes, content_type: str = "application/json",
    frame_max: int = 131072,
) -> bytes:
    """Content header (class 60, content-type property) + body frames,
    split at frame_max like a spec-compliant peer."""
    header = struct.pack(">HHQH", 60, 0, len(body), 0x8000) + _shortstr(content_type)
    out = _frame(FRAME_HEADER, channel, header)
    step = max(frame_max - 8, 1)
    for i in range(0, len(body), step):
        out += _frame(FRAME_BODY, channel, body[i : i + step])
    # body-size 0 → header frame only: spec peers send NO body frame,
    # and a stray empty FRAME_BODY would sit in the peer's reader
    # buffer and corrupt its next read_method.
    return out


class _FrameReader:
    """Incremental frame parser over a blocking socket."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = bytearray()

    def _fill(self, n: int) -> None:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("peer closed")
            self._buf += chunk

    def read_frame(self) -> tuple[int, int, bytes]:
        self._fill(7)
        ftype, channel, size = struct.unpack_from(">BHI", self._buf, 0)
        self._fill(7 + size + 1)
        payload = bytes(self._buf[7 : 7 + size])
        if self._buf[7 + size] != FRAME_END:
            raise ValueError("missing frame-end octet")
        del self._buf[: 7 + size + 1]
        return ftype, channel, payload

    def read_method(self) -> tuple[int, tuple[int, int], bytes]:
        while True:
            ftype, channel, payload = self.read_frame()
            if ftype == FRAME_HEARTBEAT:
                continue
            if ftype != FRAME_METHOD:
                raise ValueError(f"expected method frame, got type {ftype}")
            cm = struct.unpack_from(">HH", payload, 0)
            return channel, (cm[0], cm[1]), payload[4:]


# ------------------------------------------------------------- client

class AmqpPublisher:
    """The forwarder side of rabbitmq.clj: connect, open channel 1,
    declare the exchange, publish one JSON message per event."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        port: int = 5672,
        vhost: str = "/",
        exchange: str = "riemann",
        exchange_type: str = "topic",
        durable: bool = False,
        username: str = "guest",
        password: str = "guest",
    ):
        self.exchange = exchange
        self._sock = socket.create_connection((host, port), timeout=10)
        self._r = _FrameReader(self._sock)
        self._sock.sendall(PROTOCOL_HEADER)
        _, cm, _args = self._r.read_method()
        if cm != CONN_START:
            raise ValueError(f"expected connection.start, got {cm}")
        props = encode_table({"product": "riemann-spark", "platform": "python"})
        sasl = b"\x00" + username.encode() + b"\x00" + password.encode()
        self._sock.sendall(
            method_frame(
                0, CONN_START_OK,
                props + _shortstr("PLAIN") + _longstr(sasl)
                + _shortstr("en_US"),
            )
        )
        _, cm, args = self._r.read_method()
        if cm != CONN_TUNE:
            raise ValueError(f"expected connection.tune, got {cm}")
        chan_max, self.frame_max, heartbeat = struct.unpack_from(">HIH", args, 0)
        self.frame_max = min(self.frame_max or 131072, 131072)
        self._sock.sendall(
            method_frame(0, CONN_TUNE_OK, struct.pack(">HIH", chan_max, self.frame_max, 0))
        )
        self._sock.sendall(method_frame(0, CONN_OPEN, _shortstr(vhost) + b"\x00\x00"))
        _, cm, _args = self._r.read_method()
        if cm != CONN_OPEN_OK:
            raise ValueError(f"expected connection.open-ok, got {cm}")
        self._sock.sendall(method_frame(1, CHAN_OPEN, b"\x00"))
        _, cm, _args = self._r.read_method()
        if cm != CHAN_OPEN_OK:
            raise ValueError(f"expected channel.open-ok, got {cm}")
        bits = 0x02 if durable else 0x00
        self._sock.sendall(
            method_frame(
                1, EXCH_DECLARE,
                b"\x00\x00" + _shortstr(exchange) + _shortstr(exchange_type)
                + bytes([bits]) + encode_table({}),
            )
        )
        _, cm, _args = self._r.read_method()
        if cm != EXCH_DECLARE_OK:
            raise ValueError(f"expected exchange.declare-ok, got {cm}")

    def publish(
        self, payload: bytes, routing_key: str = "riemann.events",
        content_type: str = "application/json",
    ) -> None:
        self._sock.sendall(
            method_frame(
                1, BASIC_PUBLISH,
                b"\x00\x00" + _shortstr(self.exchange) + _shortstr(routing_key)
                + b"\x00",
            )
            + content_frames(1, payload, content_type, self.frame_max)
        )

    def publish_event(self, event: dict, routing_key: str = "riemann.events") -> None:
        """rabbitmq.clj's default message-formatter: one JSON object
        per event."""
        self.publish(json.dumps(event, sort_keys=True).encode(), routing_key)

    # -- consume side (closes the loop for loopback round-trip tests;
    #    the reference forwarder itself is publish-only) --

    def queue_declare(self, queue: str) -> None:
        self._sock.sendall(
            method_frame(1, QUEUE_DECLARE, b"\x00\x00" + _shortstr(queue)
                         + b"\x00" + encode_table({}))
        )
        _, cm, _args = self._r.read_method()
        if cm != QUEUE_DECLARE_OK:
            raise ValueError(f"expected queue.declare-ok, got {cm}")

    def queue_bind(self, queue: str, pattern: str) -> None:
        self._sock.sendall(
            method_frame(1, QUEUE_BIND, b"\x00\x00" + _shortstr(queue)
                         + _shortstr(self.exchange) + _shortstr(pattern)
                         + b"\x00" + encode_table({}))
        )
        _, cm, _args = self._r.read_method()
        if cm != QUEUE_BIND_OK:
            raise ValueError(f"expected queue.bind-ok, got {cm}")

    def consume(self, queue: str) -> None:
        self._sock.sendall(
            method_frame(1, BASIC_CONSUME, b"\x00\x00" + _shortstr(queue)
                         + _shortstr("") + b"\x02" + encode_table({}))  # no-ack
        )
        _, cm, _args = self._r.read_method()
        if cm != BASIC_CONSUME_OK:
            raise ValueError(f"expected basic.consume-ok, got {cm}")

    def get_message(self, timeout: float = 5.0) -> tuple[str, str, bytes]:
        """Blocking read of one basic.deliver → (routing_key,
        content_type, body)."""
        self._sock.settimeout(timeout)
        _, cm, args = self._r.read_method()
        if cm != BASIC_DELIVER:
            raise ValueError(f"expected basic.deliver, got {cm}")
        n = args[0]
        p = 1 + n + 8 + 1  # consumer-tag, delivery-tag, redelivered
        en = args[p]
        p += 1 + en  # exchange
        rn = args[p]
        rkey = args[p + 1 : p + 1 + rn].decode()
        ftype, _ch, payload = self._r.read_frame()
        if ftype != FRAME_HEADER:
            raise ValueError("expected content header")
        _cls, _w, body_size, flags = struct.unpack_from(">HHQH", payload, 0)
        ctype = ""
        if flags & 0x8000:
            cn = payload[14]
            ctype = payload[15 : 15 + cn].decode()
        body = b""
        while len(body) < body_size:
            ftype, _ch, payload = self._r.read_frame()
            if ftype != FRAME_BODY:
                raise ValueError("expected content body")
            body += payload
        return rkey, ctype, body

    def close(self) -> None:
        try:
            self._sock.sendall(
                method_frame(0, CONN_CLOSE, struct.pack(">H", 200) + _shortstr("bye")
                             + struct.pack(">HH", 0, 0))
            )
            self._sock.settimeout(1)
            try:
                self._r.read_method()  # close-ok
            except Exception:
                pass
        finally:
            self._sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


# ------------------------------------------------------------- broker

def topic_match(pattern: str, key: str) -> bool:
    """AMQP topic-exchange binding match: '.'-separated words,
    ``*`` = exactly one word, ``#`` = zero or more words."""
    pw, kw = pattern.split("."), key.split(".")

    def rec(p: int, k: int) -> bool:
        if p == len(pw):
            return k == len(kw)
        if pw[p] == "#":
            return any(rec(p + 1, j) for j in range(k, len(kw) + 1))
        if k == len(kw):
            return False
        if pw[p] == "*" or pw[p] == kw[k]:
            return rec(p + 1, k + 1)
        return False

    return rec(0, 0)


class LoopbackAmqpBroker:
    """Minimal in-process AMQP 0-9-1 broker: one vhost, topic
    exchanges, queues with bindings, publish routing and
    basic.consume → basic.deliver. Captures every publish in
    ``published`` for assertion (exchange, routing_key, content_type,
    body)."""

    def __init__(self):
        self.published: list[dict[str, Any]] = []
        self.auth: list[tuple[str, str]] = []  # (username, password) per conn
        self.queues: dict[str, deque] = {}
        self.bindings: list[tuple[str, str, str]] = []  # (exchange, pattern, queue)
        self._consumers: dict[str, tuple[Any, int, str]] = {}  # queue -> (wfile, chan, tag)
        self._lock = threading.Lock()
        self._delivery_tag = 0
        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                try:
                    broker._serve(self.request)
                except (ConnectionError, OSError, ValueError):
                    pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server(("127.0.0.1", 0), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "LoopbackAmqpBroker":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()

    # -- per-connection protocol loop --
    def _serve(self, sock: socket.socket) -> None:
        r = _FrameReader(sock)
        r._fill(8)
        if bytes(r._buf[:8]) != PROTOCOL_HEADER:
            sock.sendall(PROTOCOL_HEADER)  # spec: reply with supported version
            return
        del r._buf[:8]
        sock.sendall(
            method_frame(
                0, CONN_START,
                bytes([0, 9]) + encode_table({"product": "loopback-broker"})
                + _longstr(b"PLAIN") + _longstr(b"en_US"),
            )
        )
        pending_publish: dict | None = None
        body_needed = 0
        while True:
            ftype, channel, payload = r.read_frame()
            if ftype == FRAME_HEARTBEAT:
                continue
            if ftype == FRAME_METHOD:
                cm = struct.unpack_from(">HH", payload, 0)
                args = payload[4:]
                if cm == CONN_START_OK:
                    # record the PLAIN credentials so auth tests can
                    # assert what the publisher actually sent
                    _props, p = decode_table(args, 0)
                    _mech, p = self._read_shortstr(args, p)
                    (rn,) = struct.unpack_from(">I", args, p)
                    resp = args[p + 4 : p + 4 + rn]
                    parts = resp.split(b"\x00")
                    if len(parts) == 3:
                        with self._lock:
                            self.auth.append(
                                (parts[1].decode(), parts[2].decode())
                            )
                    sock.sendall(
                        method_frame(0, CONN_TUNE, struct.pack(">HIH", 2047, 131072, 0))
                    )
                elif cm == CONN_TUNE_OK:
                    pass
                elif cm == CONN_OPEN:
                    sock.sendall(method_frame(0, CONN_OPEN_OK, b"\x00"))
                elif cm == CONN_CLOSE:
                    sock.sendall(method_frame(0, CONN_CLOSE_OK))
                    return
                elif cm == CHAN_OPEN:
                    sock.sendall(method_frame(channel, CHAN_OPEN_OK, _longstr(b"")))
                elif cm == EXCH_DECLARE:
                    sock.sendall(method_frame(channel, EXCH_DECLARE_OK))
                elif cm == QUEUE_DECLARE:
                    qname = self._read_shortstr(args, 2)[0]
                    with self._lock:
                        self.queues.setdefault(qname, deque())
                    sock.sendall(
                        method_frame(
                            channel, QUEUE_DECLARE_OK,
                            _shortstr(qname) + struct.pack(">II", 0, 0),
                        )
                    )
                elif cm == QUEUE_BIND:
                    qname, p = self._read_shortstr(args, 2)
                    exch, p = self._read_shortstr(args, p)
                    pattern, p = self._read_shortstr(args, p)
                    with self._lock:
                        self.bindings.append((exch, pattern, qname))
                    sock.sendall(method_frame(channel, QUEUE_BIND_OK))
                elif cm == BASIC_CONSUME:
                    qname, p = self._read_shortstr(args, 2)
                    tag, p = self._read_shortstr(args, p)
                    tag = tag or f"ctag-{qname}"
                    sock.sendall(method_frame(channel, BASIC_CONSUME_OK, _shortstr(tag)))
                    with self._lock:
                        self._consumers[qname] = (sock, channel, tag)
                        backlog = list(self.queues.get(qname, ()))
                        self.queues.get(qname, deque()).clear()
                    for msg in backlog:
                        self._deliver(qname, msg)
                elif cm == BASIC_PUBLISH:
                    exch, p = self._read_shortstr(args, 2)
                    rkey, p = self._read_shortstr(args, p)
                    pending_publish = {
                        "exchange": exch, "routing_key": rkey,
                        "content_type": None, "body": b"",
                    }
                else:
                    raise ValueError(f"loopback broker: unsupported method {cm}")
            elif ftype == FRAME_HEADER and pending_publish is not None:
                _cls, _w, body_size, flags = struct.unpack_from(">HHQH", payload, 0)
                body_needed = body_size
                if flags & 0x8000:
                    pending_publish["content_type"] = self._read_shortstr(payload, 14)[0]
                if body_needed == 0:
                    self._route(pending_publish)
                    pending_publish = None
            elif ftype == FRAME_BODY and pending_publish is not None:
                pending_publish["body"] += payload
                body_needed -= len(payload)
                if body_needed <= 0:
                    self._route(pending_publish)
                    pending_publish = None

    @staticmethod
    def _read_shortstr(buf: bytes, pos: int) -> tuple[str, int]:
        n = buf[pos]
        return buf[pos + 1 : pos + 1 + n].decode(), pos + 1 + n

    def _route(self, msg: dict) -> None:
        with self._lock:
            self.published.append(dict(msg))
            targets = [
                q for (ex, pat, q) in self.bindings
                if ex == msg["exchange"] and topic_match(pat, msg["routing_key"])
            ]
        for q in targets:
            with self._lock:
                consumer = self._consumers.get(q)
                if consumer is None:
                    self.queues.setdefault(q, deque()).append(dict(msg))
                    continue
            self._deliver(q, msg)

    def _deliver(self, qname: str, msg: dict) -> None:
        with self._lock:
            sock, channel, tag = self._consumers[qname]
            self._delivery_tag += 1
            dt = self._delivery_tag
        frames = method_frame(
            channel, BASIC_DELIVER,
            _shortstr(tag) + struct.pack(">Q", dt) + b"\x00"
            + _shortstr(msg["exchange"]) + _shortstr(msg["routing_key"]),
        ) + content_frames(channel, msg["body"], msg["content_type"] or "application/octet-stream")
        sock.sendall(frames)


# ------------------------------------------------- transport (ingest)

def consume_msg_events(
    client: "AmqpPublisher", n_messages: int, timeout: float = 5.0
) -> list[dict]:
    """The rabbitmq-transport ingest direction (transport/
    rabbitmq.clj:26-44 gen-message-handler): consume protobuf ``Msg``
    payloads from a subscribed queue and decode them with the same
    wire codec the TCP/UDP servers share (pb->msg ≡ decode_msg).
    Returns the flattened event dicts. ``client`` must already have
    called ``consume``; JSON payloads (content-type application/json)
    are accepted too, one event object per message, mirroring the
    forwarder's default formatter."""
    from riemann_spark.sources.protobuf import decode_msg, msg_events

    events: list[dict] = []
    for _ in range(n_messages):
        _rk, ctype, body = client.get_message(timeout)
        if ctype == "application/json":
            events.append(json.loads(body))
        else:
            events.extend(msg_events(decode_msg(body)))
    return events
