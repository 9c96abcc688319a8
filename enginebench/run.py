"""Engine benchmark: one workload per invocation, from any directory.

    python3 enginebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: wire_ingest, index_query and stream_index (see README.md).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the run context (nproc, load average, CPU
steal) and the run's wall-clock reference figures (set-up, throughput,
median latency; unbounded, since on a shared host they follow the
host's load more than the program). Scratch files live under
``.bench_build/enginebench`` in the checkout and are removed at exit; a
JSON artifact of every run, with the spans of a traced run, is kept
next to them in ``artifacts/``.

``--smoke`` shrinks every input for the self-test (selftest.py), and
``--perturb`` alters one program output before it is checked, to prove
the checks count it as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import (  # noqa: E402
    REFERENCE_CPU_S,
    JobCounter,
    ProcessSampler,
    RunContext,
    Tracer,
    process_tree,
    reference_loop_s,
)

WIRE_CONFIG = """
(streams
  (where (>= metric 0)
    (default :state "ok"
      (tag "bench"
        (by [:host :service] (rate 3600 (tap :rate)))
        index))))
"""


def _median(xs, scale: float = 1.0) -> float:
    return statistics.median(xs) * scale if xs else 0.0


class Bench:
    """One run: its scratch directory, the load generator, the Spark
    session and the instruments."""

    def __init__(self, args):
        self.args = args
        self.z = inputs.Sizes(args.smoke)
        base = os.path.join(ROOT, ".bench_build", "enginebench")
        self.work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.artifacts = os.path.join(base, "artifacts")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(self.artifacts, exist_ok=True)
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(bool(args.trace))
        self.gen: subprocess.Popen | None = None
        self.spark = None
        self.sampler = ProcessSampler()
        self.layer: dict[str, float] = {}
        self.gauges: list[float] = []

    # -- the load generator ------------------------------------------------

    def start_gen(self, mode: str, *extra: str) -> None:
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), mode, "--seed", str(self.args.seed)]
        cmd += list(extra) + (["--smoke"] if self.args.smoke else [])
        cmd += ["--perturb"] if self.args.perturb else []
        self.gen = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                    text=True, cwd=self.work)
        self.sampler.exclude = self.gen.pid
        if self.gen.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")

    def run_gen(self, mode: str, *extra: str) -> None:
        """A generator that writes files and exits."""
        cmd = [sys.executable, os.path.join(HERE, "gen.py"), mode, "--seed", str(self.args.seed)]
        subprocess.run(cmd + list(extra) + (["--smoke"] if self.args.smoke else []),
                       check=True, cwd=self.work)

    def ask(self, line: str):
        self.gen.stdin.write(line + "\n")
        self.gen.stdin.flush()
        reply = self.gen.stdout.readline()
        if not reply:
            raise RuntimeError(f"load generator exited on {line!r}")
        return json.loads(reply) if reply.startswith("{") else reply.strip()

    # -- the process under test --------------------------------------------

    def start_session(self):
        from riemann_spark import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("riemann-spark-enginebench", cpus=self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.monotonic() - t0
        self.sampler.sample()  # see the JVM's compiler threads from the start
        self.jobs = JobCounter(self.spark)
        return self.spark

    def close(self) -> None:
        if self.gen is not None:
            if self.gen.poll() is None:
                try:
                    self.gen.stdin.write("stop\n")
                    self.gen.stdin.close()
                except OSError:
                    pass
                try:
                    self.gen.wait(10)
                except subprocess.TimeoutExpired:
                    self.gen.kill()
                    self.gen.wait()
        self.stop_engine()
        _reap_descendants()
        shutil.rmtree(self.work, ignore_errors=True)

    def stop_engine(self) -> None:
        """Stop the Spark session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- shared measurement helpers ----------------------------------------

    def gauge(self) -> None:
        """Time the reference loop, outside every measured interval (it
        runs in the driver, whose CPU is counted)."""
        self.gauges += [reference_loop_s() for _ in range(3)]

    def at_reference_speed(self, cpu_s: float) -> float:
        """CPU seconds scaled to the reference core: the host's speed
        per core moves by up to half between runs, with or without
        steal, and the engine's CPU time moves with it."""
        return cpu_s * REFERENCE_CPU_S / statistics.median(self.gauges)

    def drain(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def more_rounds(self, k: int, t0: float) -> bool:
        """Whole rounds until the run length has passed; a traced run
        needs a bare and a traced round at least."""
        return time.monotonic() - t0 < self.args.seconds or k < (2 if self.tracer.enabled else 1)

    def traced(self, k: int) -> bool:
        """In a traced run, odd rounds carry the tracing and even rounds
        run bare; comparing the two gives the tracing overhead."""
        return self.tracer.enabled and k % 2 == 1

    def per_op_layers(self, traced_ops: int, ops: int, cpu: tuple[float, float, float]) -> None:
        """Spark counts cover the traced rounds; CPU covers every round."""
        self.layer["spark.jobs_per_op"] = self.jobs.jobs / traced_ops
        self.layer["spark.stages_per_op"] = self.jobs.stages / traced_ops
        self.layer["spark.tasks_per_op"] = self.jobs.tasks / traced_ops
        self.layer["proc.cpu_ms_per_op"] = sum(cpu) * 1e3 / ops
        self.layer["proc.jit_cpu_ms_per_op"] = cpu[1] * 1e3 / ops
        self.layer["proc.sys_cpu_ms_per_op"] = cpu[2] * 1e3 / ops
        self.layer["proc.peak_rss_mb"] = self.sampler.peak_mb

    def overhead(self, per_op: list[tuple[int, float]]) -> None:
        """per_op: (round index, seconds per operation) of every round."""
        bare = [x for k, x in per_op if not self.traced(k)]
        traced = [x for k, x in per_op if self.traced(k)]
        if bare and traced:
            self.layer["trace.overhead_pct"] = (_median(traced) / _median(bare) - 1) * 100


# ------------------------------------------------------------ wire_ingest


def wire_ingest(b: Bench) -> dict:
    from riemann_spark.query.config_reader import load_config
    from riemann_spark.sources.servers import TcpMsgServer

    z = b.z
    sent = [e for f in inputs.wire_round(b.args.seed, z) for e in f]
    n_ev = len(sent)
    want_index, want_rate = checks.wire_index(sent), checks.wire_rate(sent)
    b.start_gen("wire")
    b.gauge()
    t_setup, cpu_setup = time.monotonic(), b.sampler.cpu()
    spark = b.start_session()
    server = TcpMsgServer().__enter__()
    try:
        b.ask(f"connect {server.port} {b.nproc}")

        def pushed() -> tuple[dict, bool]:
            r = b.ask("round")
            return r, r["acked"] == r["sent"] == len(server.frames) == z.frames_per_round

        def one_round(tr: Tracer) -> dict:
            r, acked = pushed()
            tr.add("servers.ack", r["t_first"], r["t_acked"])
            with tr.span("wire.lift_and_drain"):
                with tr.span("servers.received_events"):
                    events = server.received_events(spark)
                with tr.span("config_reader.load_config"):
                    topo = load_config(WIRE_CONFIG, events)
                with tr.span("drain.rate"):
                    b.drain(topo.taps["rate"])
                with tr.span("drain.index"):
                    b.drain(topo.index)
            r["latency"] = time.monotonic() - r["t_first"]
            r["ok"] = acked
            server.frames.clear()
            return r

        # the check: the first round's leaves collected and compared with
        # the plain-Python results (every round sends the same frames);
        # then bare warm-up rounds (round times fall for the first five
        # or six rounds as the JIT settles; three take most of the fall
        # and keep a run's wall time within budget)
        _, ok = pushed()
        events = server.received_events(spark)
        topo = load_config(WIRE_CONFIG, events)
        idx = {(x.host, x.service): (x.state, x.description, x.metric, tuple(x.tags),
                                     x.time, x.ttl) for x in topo.index.collect()}
        rate = {(x.host, x.service, x.time): x.metric for x in topo.taps["rate"].collect()}
        decoded = events.count()
        server.frames.clear()
        if b.args.perturb:
            idx.popitem()
        t_check, c_check = time.monotonic(), b.sampler.cpu()
        ok = ok and decoded == n_ev and idx == want_index and rate == want_rate
        t_check, c_check = time.monotonic() - t_check, b.sampler.since(c_check)[0]
        for _ in range(z.warmup_rounds):
            one_round(Tracer(False))
        setup_cpu = b.sampler.since(cpu_setup)[0] - c_check
        setup_wall_s = time.monotonic() - t_setup - t_check
        b.gauge()

        done, per_op, acks, round_cpu = [], [], [], []
        cpu0 = last = b.sampler.cpu()
        t0 = time.monotonic()
        k = 0
        while True:
            if b.traced(k):
                with b.jobs.group(f"wire-{k}"):
                    r = one_round(b.tracer)
                b.jobs.collect(f"wire-{k}")
                acks.append(r["ack_p50_us"])
            else:
                r = one_round(Tracer(False))
            b.sampler.sample()
            now = b.sampler.cpu()
            round_cpu.append(now[0] - last[0])
            last = now
            done.append(r)
            per_op.append((k, r["latency"] / n_ev))
            k += 1
            if not b.more_rounds(k, t0):
                break
        elapsed = time.monotonic() - t0
        cpu = b.sampler.since(cpu0)
        b.gauge()
        failed_rounds = k if not ok else sum(1 for r in done if not r["ok"])

        if b.tracer.enabled:
            traced = sum(1 for x in range(k) if b.traced(x))
            b.layer["servers.ack_s"] = b.tracer.median("servers.ack")
            b.layer["servers.ack_p50_us"] = _median(acks)
            b.layer["config_reader.load_ms"] = b.tracer.median("config_reader.load_config", 1e3)
            _wire_breakdown(b, server, n_ev)
            b.per_op_layers(n_ev * traced, n_ev * k, cpu)
            b.overhead(per_op)
    finally:
        server.__exit__(None, None, None)
    return {
        "attempted": n_ev * k,
        "failed": n_ev * failed_rounds,
        "samples": [r["latency"] for r in done],
        "metrics": {
            "setup_s": (b.at_reference_speed(setup_cpu), "s"),
            "user_cpu_ms_per_op": (b.at_reference_speed(_median(round_cpu, 1e3 / n_ev)), "ms"),
        },
        "reference": {
            "user_cpu_ms_per_op_unscaled": _median(round_cpu, 1e3 / n_ev),
            "setup_wall_s": setup_wall_s,
            "throughput_per_s": n_ev * k / elapsed,
            "latency_p50_ms": _median([r["latency"] for r in done], 1e3),
            "cpu_ms_per_op": sum(cpu) * 1e3 / (n_ev * k),
        },
    }


def _wire_breakdown(b: Bench, server, n_ev: int) -> None:
    """Each layer of a round drained alone, after the timed phase:
    the decode over the spool, then each config leaf over a decoded
    round held in memory."""
    from riemann_spark.query.config_reader import load_config

    tr = b.tracer
    for _ in range(2):
        b.ask("round")
        events = server.received_events(b.spark)
        with tr.span("protobuf.decode"):
            b.drain(events)
        held = events.persist()
        b.drain(held)
        topo = load_config(WIRE_CONFIG, held)
        with tr.span("analytics.rate"):
            b.drain(topo.taps["rate"])
        with tr.span("index.build"):
            b.drain(topo.index)
        held.unpersist()
        server.frames.clear()
    decode_s = tr.median("protobuf.decode")
    b.layer["protobuf.decode_s"] = decode_s
    b.layer["protobuf.decode_events_per_s"] = n_ev / decode_s
    b.layer["analytics.rate_s"] = tr.median("analytics.rate")
    b.layer["index.build_s"] = tr.median("index.build")


# ----------------------------------------------------------- stream_index

STREAM_SCHEMA = (
    "event_id long, host string, service string, state string, description string, "
    "metric double, tags array<string>, time double, ttl double, "
    "attributes map<string,string>"
)


def stream_index(b: Bench) -> dict:
    import pyarrow.parquet as pq

    from riemann_spark.streaming.index_stream import streaming_index

    z = b.z
    src = os.path.join(b.work, "stream")
    b.run_gen("stream", "--out", src)
    batches = inputs.stream_batches(b.args.seed, z, z.stream_batches, z.events_per_batch)
    n_ev = z.stream_batches * z.events_per_batch

    def drain(name: str, files: str, **trigger) -> tuple[float, list[dict], str, str]:
        sdf = (b.spark.readStream.schema(STREAM_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(files))
        out = os.path.join(b.work, "out", name)
        t = time.monotonic()
        q = (streaming_index(sdf).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", os.path.join(b.work, "ckpt", name))
             .trigger(**(trigger or {"availableNow": True})).start())
        q.awaitTermination()
        wall = time.monotonic() - t
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, [json.loads(p.json) for p in q.recentProgress], str(q.runId), out

    b.gauge()
    t_setup, cpu_setup = time.monotonic(), b.sampler.cpu()
    b.start_session()
    # one micro-batch, without the timer-only batch availableNow adds
    drain("warmup", os.path.join(src, "warmup"), once=True)
    setup_cpu = b.sampler.since(cpu_setup)[0]
    setup_wall_s = time.monotonic() - t_setup
    b.gauge()

    progress, outputs, per_op, drain_cpu = [], [], [], []
    cpu0 = last = b.sampler.cpu()
    t0 = time.monotonic()
    k = 0
    while True:
        with b.tracer.span("stream.drain") if b.traced(k) else nullcontext():
            wall, prog, run_id, out = drain(f"d{k}", os.path.join(src, "backlog"))
        if b.traced(k):
            b.jobs.collect(run_id)
            progress.append(prog)
        b.sampler.sample()
        now = b.sampler.cpu()
        drain_cpu.append(now[0] - last[0])
        last = now
        outputs.append((out, prog))
        per_op.append((k, wall / n_ev))
        k += 1
        if not b.more_rounds(k, t0):
            break
    elapsed = time.monotonic() - t0
    cpu = b.sampler.since(cpu0)
    b.gauge()

    failed_drains = 0
    trigger_ms = []
    for j, (out, prog) in enumerate(outputs):
        with_data = [p for p in prog if p["numInputRows"] > 0]
        trigger_ms += [p["durationMs"]["triggerExecution"] for p in with_data]
        want = checks.stream_replay(batches, len(prog) - len(with_data))
        rows = pq.read_table(out).to_pylist()
        got = Counter((r["host"], r["service"], r["state"], r["metric"], r["time"], r["ttl"])
                      for r in rows)
        if b.args.perturb and j == 0:
            got[next(iter(got))] += 1
        if len(with_data) != z.stream_batches or got != want:
            failed_drains += 1

    if b.tracer.enabled:
        flat = [p for prog in progress for p in prog if p["numInputRows"] > 0]
        ops = [p["stateOperators"][0] for p in flat]

        def dur(key):
            return _median([p["durationMs"].get(key, 0) for p in flat])

        b.layer.update({
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "state.update_ms": _median([o["allUpdatesTimeMs"] for o in ops]),
            "state.update_us_per_key": _median([o["allUpdatesTimeMs"] * 1e3 / o["numRowsUpdated"]
                                                for o in ops if o["numRowsUpdated"]]),
            "state.commit_ms": _median([o["commitTimeMs"] for o in ops]),
            "state.rows_total": _median([o["numRowsTotal"] for o in ops]),
            "state.rows_updated": _median([o["numRowsUpdated"] for o in ops]),
            "state.rows_removed": _median([o["numRowsRemoved"] for o in ops]),
            "state.memory_bytes": _median([o["memoryUsedBytes"] for o in ops]),
        })
        traced = sum(1 for x in range(k) if b.traced(x))
        b.per_op_layers(n_ev * traced, n_ev * k, cpu)
        b.overhead(per_op)
    return {
        "attempted": n_ev * k,
        "failed": n_ev * failed_drains,
        "samples": trigger_ms,
        "metrics": {
            "setup_s": (b.at_reference_speed(setup_cpu), "s"),
            "user_cpu_ms_per_op": (b.at_reference_speed(_median(drain_cpu, 1e3 / n_ev)), "ms"),
        },
        "reference": {
            "user_cpu_ms_per_op_unscaled": _median(drain_cpu, 1e3 / n_ev),
            "setup_wall_s": setup_wall_s,
            "throughput_per_s": n_ev * k / elapsed,
            "latency_p50_ms": _median(trigger_ms),
            "cpu_ms_per_op": sum(cpu) * 1e3 / (n_ev * k),
        },
    }


# ------------------------------------------------------------ index_query


def index_query(b: Bench) -> dict:
    from riemann_spark.operators import index
    from riemann_spark.query import parser, to_column
    from riemann_spark.sources.servers import TcpMsgServer

    z = b.z
    events_file = os.path.join(b.work, "index_events.parquet")
    b.start_gen("query", "--out", events_file)
    b.gauge()
    t_setup, cpu_setup = time.monotonic(), b.sampler.cpu()
    spark = b.start_session()
    table = os.path.join(b.work, "index")
    index.build_index(spark.read.parquet(events_file)).write.parquet(table)
    index_df = spark.read.parquet(table)
    fields = ("host", "service", "state", "description", "metric", "tags", "time_us", "ttl")

    handled: list[tuple[float, float]] = []
    # engine CPU at the start of each timed query: the difference of
    # two marks is one query's whole cost, its reply's encoding included
    marks: list[float] = []
    pids: list[int] = []
    timed = False  # the warm-up runs untraced, outside the job counts

    def handler(q: str) -> list[dict]:
        if timed:
            marks.append(b.sampler.cpu(pids)[0])
        traced = timed and b.traced(len(handled) // z.queries_per_round)
        tr = b.tracer if traced else Tracer(False)
        t = time.monotonic()
        # the job group is thread-local: set it in the server's thread
        with b.jobs.group("query") if traced else nullcontext():
            with tr.span("index.search"):
                df = index.search(index_df, q)
            with tr.span("spark.collect"):
                rows = df.collect()
        out = [{f: r[f] for f in fields} for r in rows]
        handled.append((t, time.monotonic()))
        if len(handled) % z.queries_per_round == 0:
            b.sampler.sample()
        return out

    server = TcpMsgServer(query_handler=handler).__enter__()
    try:
        b.ask(f"connect {server.port}")
        # warm-up on queries of every template that the run never sends
        for _, q, _ in inputs.query_list(b.args.seed + 1_000_003, z)[: z.warmup_queries]:
            handler(q)
        handled.clear()
        pids[:] = b.sampler.pids()  # driver and JVM; no Python workers
        timed = True
        setup_cpu = b.sampler.since(cpu_setup)[0]
        setup_wall_s = time.monotonic() - t_setup
        b.gauge()

        cpu0 = b.sampler.cpu()
        res = b.ask(f"go {b.args.seconds} {2 if b.tracer.enabled else 1}")
        cpu = b.sampler.since(cpu0)
        marks.append(b.sampler.cpu(pids)[0])
        b.gauge()
    finally:
        server.__exit__(None, None, None)
    rtts = [t1 - t0 for t0, t1 in res["rtts"]]
    n = len(rtts)
    per_query = _median([y - x for x, y in zip(marks, marks[1:])], 1e3)

    if b.tracer.enabled:
        b.jobs.collect("query")
        qpr = z.queries_per_round
        traced = [i for i in range(n) if b.traced(i // qpr)]
        b.layer["servers.query_overhead_ms"] = _median(
            [rtts[i] - (handled[i][1] - handled[i][0]) for i in traced], 1e3)
        b.layer["index.search_build_ms"] = b.tracer.median("index.search", 1e3)
        b.layer["spark.collect_ms"] = b.tracer.median("spark.collect", 1e3)
        # the query language alone, per query string sent, uncached
        parse_us, compile_us = [], []
        for _, q, _ in inputs.query_list(b.args.seed, z)[:n]:
            t = time.perf_counter()
            ast = parser.parse.__wrapped__(q)
            t1 = time.perf_counter()
            to_column(ast)
            parse_us.append((t1 - t) * 1e6)
            compile_us.append((time.perf_counter() - t1) * 1e6)
        b.layer["parser.parse_us"] = _median(parse_us)
        b.layer["compiler.compile_us"] = _median(compile_us)
        b.per_op_layers(len(traced), n, cpu)
        b.overhead([(i // qpr, rtts[i]) for i in range(n)])
    # the generator checks the replies meanwhile; the engine is not needed
    b.stop_engine()
    failed = json.loads(b.gen.stdout.readline())["failed"]
    return {
        "attempted": n,
        "failed": len(failed),
        "samples": rtts,
        "metrics": {
            "setup_s": (b.at_reference_speed(setup_cpu), "s"),
            "user_cpu_ms_per_op": (b.at_reference_speed(per_query), "ms"),
        },
        "reference": {
            "user_cpu_ms_per_op_unscaled": per_query,
            "setup_wall_s": setup_wall_s,
            "throughput_per_s": n / (res["t_end"] - res["t_start"]),
            "latency_p50_ms": _median(rtts, 1e3),
            "cpu_ms_per_op": sum(cpu) * 1e3 / n,
        },
    }


WORKLOADS = {
    "wire_ingest": wire_ingest,
    "stream_index": stream_index,
    "index_query": index_query,
}

#: per-layer metrics, with their units. A traced run reports all of them;
#: a layer its workload does not touch reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "servers.ack_s": "s",
    "servers.ack_p50_us": "us",
    "servers.query_overhead_ms": "ms",
    "protobuf.decode_s": "s",
    "protobuf.decode_events_per_s": "1/s",
    "config_reader.load_ms": "ms",
    "parser.parse_us": "us",
    "compiler.compile_us": "us",
    "index.build_s": "s",
    "index.search_build_ms": "ms",
    "spark.collect_ms": "ms",
    "analytics.rate_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "proc.cpu_ms_per_op": "ms",
    "proc.jit_cpu_ms_per_op": "ms",
    "proc.sys_cpu_ms_per_op": "ms",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    # streaming.index_stream and streaming.state_api (stream_index)
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "state.update_ms": "ms",
    "state.update_us_per_key": "us",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
}


def _reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started (the JVM's Python
    workers included) to end; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _isolate(work: str) -> None:
    """Keep the run's files inside the checkout and make the engine
    importable from any working directory, Python workers included."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--perturb", action="store_true")
    args = ap.parse_args()

    ctx = RunContext()
    sys.path.insert(0, ROOT)
    import riemann_spark  # noqa: F401  (fails fast outside a checkout of the engine)

    b = Bench(args)
    _isolate(b.work)
    try:
        res = WORKLOADS[args.workload](b)
    finally:
        b.close()
    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "reference": {**res["reference"], "reference_loop_ms": _median(b.gauges, 1e3)},
               **ctx.finish()}
    if args.trace:
        metrics = {name: {"value": float(b.layer.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: {"value": float(v), "unit": u} for name, (v, u) in res["metrics"].items()}
    # every output was checked; a mismatch fails the operations behind it
    result = {"correct": res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    b.tracer.dump(os.path.join(b.artifacts, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                               f"-{os.getpid()}.json"), {"context": context, "result": result,
                                                    "samples": res["samples"]})
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
