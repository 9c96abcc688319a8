"""Loopback TCP/UDP Msg-server round-trips: real sockets, the real
int32 framing (transport/tcp.clj:44-51), each frame decoded once on
arrival and its events lifted by ``received_events``."""

from __future__ import annotations

import socket
import struct
import threading

from riemann_spark.sources.protobuf import (
    DECODED_SCHEMA,
    _msg_field,
    decode_msg,
    encode_event,
    encode_msg,
)
from riemann_spark.sources.servers import (
    TcpMsgServer,
    UdpMsgServer,
    query_tcp,
    send_events_tcp,
    send_events_udp,
)

EVENTS = [
    {"host": f"h{i}", "service": "api latency", "state": "ok" if i % 2 else "warn",
     "metric": i * 1.5, "time": 1000.0 + i, "tags": ["prod", f"t{i}"],
     "ttl": 60.0, "attributes": {"dc": f"dc{i % 3}"}}
    for i in range(20)
]


def test_tcp_roundtrip_concurrent_clients(spark):
    with TcpMsgServer() as srv:
        acks = []

        def client(chunk):
            acks.append(send_events_tcp(srv.port, chunk))

        threads = [
            threading.Thread(target=client, args=(EVENTS[i : i + 5],))
            for i in range(0, 20, 5)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert all(a["ok"] for a in acks) and len(acks) == 4

        got = srv.received_events(spark).collect()
    assert len(got) == 20
    by_host = {r["host"]: r for r in got}
    for e in EVENTS:
        r = by_host[e["host"]]
        assert r["service"] == e["service"]
        assert r["metric"] == e["metric"]
        assert r["time_us"] == int(e["time"] * 1e6)
        assert sorted(r["tags"]) == sorted(e["tags"])
        assert r["attributes"]["dc"] == e["attributes"]["dc"]


def test_tcp_query_endpoint_uses_query_language(spark, tmp_path):
    # the stored index served over the socket through index.search —
    # the reference's query Msg path, as the engine serves it
    from riemann_spark.operators import index

    path = str(tmp_path / "index")
    spark.createDataFrame(
        [(e["host"], e["service"], e["state"], e["metric"], e["time"]) for e in EVENTS],
        "host string, service string, state string, metric double, time double",
    ).write.parquet(path)
    idx = spark.read.parquet(path)

    def handler(q):
        return [r.asDict() for r in index.search(idx, q).collect()]

    with TcpMsgServer(query_handler=handler) as srv:
        reply = query_tcp(srv.port, 'state = "warn" and metric > 10')
    assert reply["ok"] is True
    hosts = sorted(e["host"] for e in reply["events"])
    want = sorted(
        e["host"] for e in EVENTS if e["state"] == "warn" and e["metric"] > 10
    )
    assert hosts == want and hosts


def _send_msg(port: int, payload: bytes) -> dict:
    """One raw framed Msg over TCP; the decoded reply."""
    with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
        s.sendall(struct.pack(">I", len(payload)) + payload)
        rf = s.makefile("rb")
        (ln,) = struct.unpack(">I", rf.read(4))
        return decode_msg(rf.read(ln))


def test_tcp_msg_with_events_and_query_spools_the_events(spark):
    """transport.clj handle: a Msg's events are streamed, and its query
    answered, in the same request."""
    answer = [{"host": "idx", "service": "s", "metric": 1.0}]
    with TcpMsgServer(query_handler=lambda q: answer) as srv:
        reply = _send_msg(srv.port, encode_msg(EVENTS[:3], query='host = "idx"'))
        got = srv.received_events(spark).collect()
    assert reply["ok"] is True
    assert [e["host"] for e in reply["events"]] == ["idx"]
    assert sorted(r["host"] for r in got) == ["h0", "h1", "h2"]


def test_tcp_query_without_index_is_refused_not_spooled():
    """transport.clj handle: a query to a core with no index answers
    {ok false, error "no index"}; it is not an event frame."""
    with TcpMsgServer() as srv:
        reply = query_tcp(srv.port, 'host = "h1"')
        assert srv.frames == []
    assert reply["ok"] is False and reply["error"] == "no index"
    assert reply["events"] == []


def test_udp_fire_and_forget(spark):
    import time

    with UdpMsgServer() as srv:
        for e in EVENTS[:6]:
            send_events_udp(srv.port, [e])
        deadline = time.time() + 5
        while len(srv.frames) < 6 and time.time() < deadline:
            time.sleep(0.05)
        assert len(srv.frames) == 6
        got = srv.received_events(spark).collect()
    assert sorted(r["host"] for r in got) == sorted(e["host"] for e in EVENTS[:6])
    assert {r["service"] for r in got} == {"api latency"}


def test_udp_malformed_datagram_is_dropped(spark):
    """A datagram that does not decode is dropped on arrival; the good
    datagrams around it still lift (UDP is fire-and-forget)."""
    import time

    with UdpMsgServer() as srv:
        send_events_udp(srv.port, EVENTS[:1])
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
            s.sendto(b"\x32\x05\x22\x01h", ("127.0.0.1", srv.port))
        send_events_udp(srv.port, EVENTS[1:2])
        deadline = time.time() + 5
        while len(srv.frames) < 2 and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.1)  # the bad datagram had time to land too
        got = sorted(r["host"] for r in srv.received_events(spark).collect())
    assert got == ["h0", "h1"]


def test_tcp_states_only_msg_is_spooled(spark):
    """transport.clj handle streams a Msg's ``states`` as well as its
    ``events``."""
    payload = b"".join(_msg_field(4, encode_event(e)) for e in EVENTS[:2])
    with TcpMsgServer() as srv:
        reply = _send_msg(srv.port, payload)
        got = sorted(r["host"] for r in srv.received_events(spark).collect())
    assert reply["ok"] is True
    assert got == ["h0", "h1"]


def test_tcp_failing_query_answers_error_and_keeps_connection():
    """transport.clj handle catches a failing query and answers
    {ok false, error <message>}; the connection stays usable."""
    from riemann_spark.query.parser import parse

    def handler(q):
        parse(q)
        return []

    with TcpMsgServer(query_handler=handler) as srv:
        with socket.create_connection(("127.0.0.1", srv.port), timeout=10) as s:
            rf = s.makefile("rb")

            def ask(payload: bytes) -> dict:
                s.sendall(struct.pack(">I", len(payload)) + payload)
                (ln,) = struct.unpack(">I", rf.read(4))
                return decode_msg(rf.read(ln))

            bad = ask(encode_msg(query="host = "))
            again = ask(encode_msg(EVENTS[:1]))
        assert len(srv.frames) == 1
    assert bad["ok"] is False and bad["error"]
    assert again["ok"] is True


def test_received_events_on_empty_spool(spark):
    """No frames: 0 rows, still the decoded schema with the time
    columns the ingest clock fills."""
    with TcpMsgServer() as srv:
        df = srv.received_events(spark)
        assert df.schema.names == DECODED_SCHEMA.names
        assert dict(df.dtypes)["time"] == "double"
        assert dict(df.dtypes)["time_us"] == "bigint"
        assert df.collect() == []


def test_riemann_forward_sink_roundtrip(spark):
    """forward (streams.clj:1255-1261): the sink pushes a micro-batch
    to a riemann TCP server and the wire round-trip preserves it."""
    from riemann_spark.streaming.sinks import make_sink

    df = spark.createDataFrame(
        [("h1", "svc", "ok", 1.5, 10.0), ("h2", "svc", "warn", 2.5, 11.0)],
        "host string, service string, state string, metric double, time double",
    )
    with TcpMsgServer() as srv:
        sink = make_sink("riemann", host="127.0.0.1", port=srv.port)
        sink(df, 0)
        got = sorted(
            (r["host"], r["state"], r["metric"], r["time_us"])
            for r in srv.received_events(spark).collect()
        )
    assert got == [("h1", "ok", 1.5, 10_000_000), ("h2", "warn", 2.5, 11_000_000)]


def _self_signed_pair(tmp_path):
    """Generate a throwaway self-signed cert/key with openssl — the
    in-test stand-in for the reference's :key/:cert files
    (transport/tcp.clj:260-270, riemann/tls.clj)."""
    import subprocess

    cert, key = str(tmp_path / "srv.crt"), str(tmp_path / "srv.key")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", cert, "-days", "1",
            "-subj", "/CN=127.0.0.1",
            "-addext", "subjectAltName=IP:127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    return cert, key


def test_tcp_tls_roundtrip(spark, tmp_path):
    """The :tls? lane (transport/tcp.clj:222-226): same int32-framed
    Msg protocol under a TLS record layer — send, ack, query, and the
    decoded event DataFrame all identical to the plaintext lane, with
    the client verifying the pinned CA and hostname."""
    import pytest

    from riemann_spark.sources.servers import (
        client_tls_context,
        server_tls_context,
    )

    cert, key = _self_signed_pair(tmp_path)
    srv_ctx = server_tls_context(cert, key)
    cli_ctx = client_tls_context(ca_file=cert)
    idx_events = [{"host": "h1", "service": "api latency", "state": "ok",
                   "metric": 1.0, "time": 1000.0}]
    with TcpMsgServer(query_handler=lambda q: idx_events,
                      tls_context=srv_ctx) as srv:
        ack = send_events_tcp(srv.port, EVENTS[:5], tls_context=cli_ctx)
        assert ack["ok"]
        reply = query_tcp(srv.port, 'service = "api latency"',
                          tls_context=cli_ctx)
        assert reply["ok"] and len(reply["events"]) == 1
        got = srv.received_events(spark).collect()
        assert len(got) == 5
        assert {r["host"] for r in got} == {e["host"] for e in EVENTS[:5]}

        # a client that does NOT trust the server's CA must fail the
        # handshake — verification is on, not decorative
        import ssl

        strict = client_tls_context()  # system CAs only
        with pytest.raises(ssl.SSLError):
            send_events_tcp(srv.port, EVENTS[:1], tls_context=strict)

        # and a plaintext client against the TLS port gets no ack
        with pytest.raises((ConnectionError, OSError)):
            send_events_tcp(srv.port, EVENTS[:1])


def test_riemann_forward_sink_tls(spark, tmp_path):
    """The forwarder pair's production posture: the riemann sink
    speaks the same framed Msg protocol through TLS with the peer's
    CA pinned (transport/tcp.clj:260-270)."""
    from riemann_spark.sources.servers import server_tls_context
    from riemann_spark.streaming.sinks import make_sink

    cert, key = _self_signed_pair(tmp_path)
    df = spark.createDataFrame(
        [("h1", "svc", "ok", 1.5, 10.0)],
        "host string, service string, state string, metric double, time double",
    )
    with TcpMsgServer(tls_context=server_tls_context(cert, key)) as srv:
        sink = make_sink("riemann", host="127.0.0.1", port=srv.port,
                         ca_cert=cert)
        sink(df, 0)
        got = [
            (r["host"], r["state"], r["metric"])
            for r in srv.received_events(spark).collect()
        ]
    assert got == [("h1", "ok", 1.5)]
