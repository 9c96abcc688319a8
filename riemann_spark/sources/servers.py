"""In-process TCP/UDP ``Msg`` servers — loopback parity for the
reference's primary transports.

Wire format (the public riemann protocol):

- TCP (/root/reference/src/riemann/transport/tcp.clj:44-51): each
  frame is a 4-byte big-endian length prefix + protobuf ``Msg``
  (LengthFieldBasedFrameDecoder/Prepender with a 4-byte field). The
  server acks every event Msg with ``Msg{ok:true}`` and answers a
  query Msg with ``Msg{ok:true, events:[...]}``
  (tcp.clj:129-147 → common handle-request).
- UDP (/root/reference/src/riemann/transport/udp.clj:51-66,147-186):
  one datagram = one ``Msg``, fire-and-forget, no reply.

At deployment scale this edge tier is usually replaced by Kafka
(``sources.readers.read_kafka_msg_frames``), but the servers here
close the loop in-container: a real socket, the real framing, and one
decode per frame, on arrival. Decoded events spool in memory (the
container stand-in for a durable ingest buffer); ``received_events``
lifts them into an event DataFrame through the event-to-row mapping
the Kafka bridge uses (``sources.protobuf.event_columns``).
"""

from __future__ import annotations

import socket
import socketserver
import ssl
import struct
import threading
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from riemann_spark.sources.protobuf import (
    DECODED_SCHEMA,
    decode_msg,
    encode_msg,
    event_columns,
    msg_events,
)

# handler for query Msgs: query string -> event dicts to return
QueryHandler = Callable[[str], list[dict]]


def _read_exact(rf, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = rf.read(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


class _MsgServer:
    """A loopback server on an ephemeral ``port`` and its spool:
    ``frames`` holds one entry per event-bearing Msg, the event dicts
    its handler decoded on arrival (riemann decodes once, in its Netty
    pipeline: transport.clj:107-132)."""

    def __init__(self, server_cls: type, handler_cls: type) -> None:
        self.frames: list[list[dict]] = []
        self._lock = threading.Lock()
        self._server = server_cls(("127.0.0.1", 0), handler_cls)
        self.port: int = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def _spool(self, events: list[dict]) -> None:
        if events:
            with self._lock:
                self.frames.append(events)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()

    def received_events(self, spark: SparkSession, now: float | None = None) -> DataFrame:
        """The spooled events as one DECODED_SCHEMA frame, lifted
        through Arrow into a local relation: no decode and no Python
        worker. Time-less events get the ingest clock — the decode-msg
        -> post-load-event seam (common.clj:86-98); ``now`` pins it."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from riemann_spark.operators.stateless import ensure_event_times

        with self._lock:
            events = [e for f in self.frames for e in f]
        table = pa.Table.from_pydict(event_columns(events), to_arrow_schema(DECODED_SCHEMA))
        return ensure_event_times(spark.createDataFrame(table, DECODED_SCHEMA), now=now)


class TcpMsgServer(_MsgServer):
    """Threaded loopback TCP server speaking int32-framed ``Msg``.

    A Msg's events and legacy states are spooled whether or not it
    also carries a query; queries are answered inline, mirroring the
    reference's ``handle`` (transport.clj:167-189). A query to a server
    with no ``query_handler`` gets ``{ok: false, error: "no index"}``,
    and one the handler raises on gets ``{ok: false, error:
    <message>}``; the connection stays open.

    ``tls_context`` (an ``ssl.SSLContext``) enables the reference's
    ``:tls?`` lane (transport/tcp.clj:222-226 ssl-handler, :260-270 —
    an SslHandler prepended to the same pipeline): the accept loop
    wraps each connection before the framed protocol runs, so the
    wire format above is unchanged underneath the TLS record layer.
    Build a context with :func:`server_tls_context`."""

    def __init__(
        self,
        query_handler: QueryHandler | None = None,
        tls_context: ssl.SSLContext | None = None,
    ):
        self._query_handler = query_handler
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                rf = self.request.makefile("rb")
                wf = self.request.makefile("wb")
                while True:
                    head = _read_exact(rf, 4)
                    if head is None:
                        return
                    (ln,) = struct.unpack(">I", head)
                    payload = _read_exact(rf, ln)
                    if payload is None:
                        return
                    msg = decode_msg(payload)
                    outer._spool(msg_events(msg))
                    query = msg["query"]
                    if query is None:
                        reply = encode_msg(ok=True)
                    elif outer._query_handler is None:
                        reply = encode_msg(ok=False, error="no index")
                    else:
                        try:
                            reply = encode_msg(outer._query_handler(query), ok=True)
                        except Exception as exc:  # noqa: BLE001 — handle's catch-all
                            reply = encode_msg(ok=False, error=str(exc))
                    wf.write(struct.pack(">I", len(reply)) + reply)
                    wf.flush()

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

            def get_request(self):
                sock, addr = super().get_request()
                if tls_context is not None:
                    # per-connection handshake, exactly where netty's
                    # SslHandler sits: between accept and the framed
                    # Msg pipeline
                    sock = tls_context.wrap_socket(sock, server_side=True)
                return sock, addr

        super().__init__(Server, Handler)


class UdpMsgServer(_MsgServer):
    """Loopback UDP server: one datagram = one ``Msg``, no reply. A
    datagram that does not decode is dropped (fire-and-forget)."""

    def __init__(self) -> None:
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                try:
                    msg = decode_msg(self.request[0])
                except (ValueError, IndexError, struct.error):  # malformed bytes
                    return
                outer._spool(msg_events(msg))

        class Server(socketserver.ThreadingUDPServer):
            allow_reuse_address = True
            daemon_threads = True

        super().__init__(Server, Handler)


# ------------------------------------------------------------------ #
# clients (the riemann-client send/query verbs)

def send_events_tcp(
    port: int,
    events: Iterable[dict],
    host: str = "127.0.0.1",
    tls_context: ssl.SSLContext | None = None,
) -> dict:
    """Send one event-bearing Msg frame; return the decoded ack."""
    with _connect(host, port, tls_context) as s:
        payload = encode_msg(list(events))
        s.sendall(struct.pack(">I", len(payload)) + payload)
        return _read_reply(s)


def query_tcp(
    port: int,
    query: str,
    host: str = "127.0.0.1",
    tls_context: ssl.SSLContext | None = None,
) -> dict:
    """Send a query Msg; return the decoded reply (ok + events)."""
    with _connect(host, port, tls_context) as s:
        payload = encode_msg(query=query)
        s.sendall(struct.pack(">I", len(payload)) + payload)
        return _read_reply(s)


def _connect(
    host: str, port: int, tls_context: ssl.SSLContext | None
) -> socket.socket:
    s = socket.create_connection((host, port), timeout=10)
    if tls_context is not None:
        s = tls_context.wrap_socket(s, server_hostname=host)
    return s


def server_tls_context(cert_file: str, key_file: str) -> ssl.SSLContext:
    """Server-side TLS context from a cert/key pair — the Spark-side
    twin of the reference's ``:key``/``:cert`` options
    (transport/tcp.clj:260-270, riemann/tls.clj)."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(certfile=cert_file, keyfile=key_file)
    return ctx


def client_tls_context(ca_file: str | None = None) -> ssl.SSLContext:
    """Client-side TLS context trusting ``ca_file`` (the reference's
    ``:ca-cert``). Hostname checks stay on; pin the CA instead of
    disabling verification."""
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    if ca_file is not None:
        ctx.load_verify_locations(cafile=ca_file)
    else:
        ctx.load_default_certs()
    return ctx


def send_events_udp(port: int, events: Iterable[dict], host: str = "127.0.0.1") -> None:
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        s.sendto(encode_msg(list(events)), (host, port))


def _read_reply(s: socket.socket) -> dict:
    rf = s.makefile("rb")
    head = _read_exact(rf, 4)
    if head is None:
        raise ConnectionError("no reply")
    (ln,) = struct.unpack(">I", head)
    payload = _read_exact(rf, ln)
    if payload is None:
        raise ConnectionError("truncated reply")
    return decode_msg(payload)
