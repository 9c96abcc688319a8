"""Load generator: one process, separate from the process under test.

    python3 gen.py wire    --seed N [--smoke]
    python3 gen.py query   --seed N --out FILE [--smoke] [--perturb]
    python3 gen.py stream  --seed N --out DIR [--smoke]

``stream`` writes its input files and exits. ``wire`` and
``query`` prepare everything first (every frame pre-encoded), print
``ready`` and then take commands, one per line, on standard input:

    wire:  connect PORT CONNS | round | stop
    query: connect PORT | go SECONDS MIN_ROUNDS

Each answer is one JSON line on standard output. Frames and replies go
through the benchmark's own codec (wire.py). All times are
``time.monotonic()``, which the process under test shares.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import statistics
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import wire  # noqa: E402


def _say(obj) -> None:
    sys.stdout.write((obj if isinstance(obj, str) else json.dumps(obj)) + "\n")
    sys.stdout.flush()


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("server closed the connection")
        buf += chunk
    return bytes(buf)


def _recv_frame(sock: socket.socket) -> bytes:
    (n,) = struct.unpack(">I", _recv_exact(sock, 4))
    return _recv_exact(sock, n)


def _connect(port: int) -> socket.socket:
    s = socket.create_connection(("127.0.0.1", port), timeout=120)
    s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return s


# ------------------------------------------------------------ wire_ingest


def run_wire(args, z: inputs.Sizes) -> None:
    frames = [wire.frame(wire.encode_msg(ev)) for ev in inputs.wire_round(args.seed, z)]
    socks: list[socket.socket] = []
    _say("ready")
    for line in sys.stdin:
        cmd = line.split()
        if cmd[0] == "connect":
            socks = [_connect(int(cmd[1])) for _ in range(int(cmd[2]))]
            _say("connected")
        elif cmd[0] == "round":
            _say(_push_round(frames, socks))
        elif cmd[0] == "stop":
            break
    for s in socks:
        s.close()


def _push_round(frames: list[bytes], socks: list[socket.socket]) -> dict:
    """Closed loop per connection, as a riemann client sends: one
    frame, then its ack. Frame i goes over connection i mod C."""
    rtts: list[list[float]] = [[] for _ in socks]
    bad = [0] * len(socks)

    def conn(j: int) -> None:
        s = socks[j]
        for f in frames[j :: len(socks)]:
            t = time.monotonic()
            s.sendall(f)
            ack = wire.decode_msg(_recv_frame(s))
            rtts[j].append(time.monotonic() - t)
            if ack["ok"] is not True:
                bad[j] += 1

    threads = [threading.Thread(target=conn, args=(j,)) for j in range(len(socks))]
    t0 = time.monotonic()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    t1 = time.monotonic()
    all_rtt = [x for r in rtts for x in r]
    return {"t_first": t0, "t_acked": t1, "sent": len(frames),
            "acked": len(all_rtt) - sum(bad), "ack_p50_us": statistics.median(all_rtt) * 1e6}


# ------------------------------------------------------------ index_query


def write_index_events(path: str, events: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.int64()), ("host", pa.string()), ("service", pa.string()),
        ("state", pa.string()), ("description", pa.string()), ("metric", pa.float64()),
        ("tags", pa.list_(pa.string())), ("time", pa.float64()), ("time_us", pa.int64()),
        ("ttl", pa.float64()),
    ])
    rows = [{**e, "time": e["time_us"] / 1e6} for e in events]
    pq.write_table(pa.Table.from_pylist(rows, schema), path)


def run_query(args, z: inputs.Sizes) -> None:
    events = inputs.index_events(args.seed, z)
    write_index_events(args.out, events)
    queries = inputs.query_list(args.seed, z)
    payloads = [wire.frame(wire.encode_msg(query=q)) for _, q, _ in queries]
    sock = None
    _say("ready")
    for line in sys.stdin:
        cmd = line.split()
        if cmd[0] == "connect":
            sock = _connect(int(cmd[1]))
            _say("connected")
        elif cmd[0] == "go":
            replies, timing = _query_loop(sock, float(cmd[1]), int(cmd[2]), payloads, z)
            _say(timing)
            _say({"failed": _check_replies(replies, queries, events, args.perturb)})
            break
    if sock is not None:
        sock.close()


def _query_loop(sock, seconds, min_rounds, payloads, z) -> tuple[list[bytes], dict]:
    """Closed loop over one connection, whole rounds of
    queries_per_round queries, until ``seconds`` have passed and at
    least ``min_rounds`` rounds ran. Replies are kept as bytes and
    checked after the timed loop."""
    replies, rtts = [], []
    t_start = time.monotonic()
    i = 0
    while True:
        for _ in range(z.queries_per_round):
            t = time.monotonic()
            sock.sendall(payloads[i % len(payloads)])
            replies.append(_recv_frame(sock))
            rtts.append((t, time.monotonic()))
            i += 1
        if time.monotonic() - t_start >= seconds and i >= min_rounds * z.queries_per_round:
            break
    return replies, {"t_start": t_start, "t_end": time.monotonic(), "rtts": rtts}


def _check_replies(replies, queries, events, perturb) -> list[int]:
    """Indexes of the replies that differ from the query's Python
    filter over the Python-built index."""
    index = checks.python_index(events)
    failed = []
    for j, raw in enumerate(replies):
        kind, _, p = queries[j % len(queries)]
        msg = wire.decode_msg(raw)
        got = sorted(checks.event_key(e) for e in msg["events"])
        if perturb and j == 0:
            got = got[1:] if got else [("perturbed",)]
        keep = checks.query_filter(kind, p)
        want = sorted(checks.event_key(e) for e in index if keep(e))
        if msg["ok"] is not True or got != want:
            failed.append(j)
    return failed


# ----------------------------------------------------------- stream_index


def write_stream(args, z: inputs.Sizes) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.int64()), ("host", pa.string()), ("service", pa.string()),
        ("state", pa.string()), ("description", pa.string()), ("metric", pa.float64()),
        ("tags", pa.list_(pa.string())), ("time", pa.float64()), ("ttl", pa.float64()),
        ("attributes", pa.map_(pa.string(), pa.string())),
    ])
    # the warm-up stream: one small batch, on keys and times of its own
    for sub, n, per, tag in (("warmup", 1, z.events_per_batch // 5, "warmup"),
                             ("backlog", z.stream_batches, z.events_per_batch, "")):
        d = os.path.join(args.out, sub)
        os.makedirs(d, exist_ok=True)
        for b, rows in enumerate(inputs.stream_batches(args.seed, z, n, per, tag)):
            path = os.path.join(d, f"b{b:03d}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema), path)
            # the file source orders files by modification time
            os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("wire", "query", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args()
    z = inputs.Sizes(args.smoke)
    {"wire": run_wire, "query": run_query, "stream": write_stream}[args.mode](args, z)


if __name__ == "__main__":
    main()
