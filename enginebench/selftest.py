"""Self-test of the benchmark, on smoke-sized inputs, in about two and a
half minutes.

    python3 enginebench/selftest.py

First every workload runs untraced and must report no failed operation
and every end-to-end metric. Then every workload runs traced with one
program output deliberately altered (--perturb): the run must count
exactly the operations behind that output as failed, and report every
per-layer metric, with the layers the workload exercises above zero.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

E2E = {"setup_s", "user_cpu_ms_per_op"}
#: wall-clock figures each run prints in its context line, unbounded
REFERENCE = {"setup_wall_s", "throughput_per_s", "latency_p50_ms", "cpu_ms_per_op",
             "user_cpu_ms_per_op_unscaled", "reference_loop_ms"}

#: layers each workload must exercise in its traced run
LAYERS = {
    "wire_ingest": ("servers.ack_s", "servers.ack_p50_us", "protobuf.decode_s",
                    "config_reader.load_ms", "index.build_s", "analytics.rate_s"),
    "stream_index": ("stream.add_batch_ms", "state.update_ms", "state.rows_updated"),
    "index_query": ("servers.query_overhead_ms", "parser.parse_us", "compiler.compile_us",
                    "index.search_build_ms", "spark.collect_ms"),
}
COMMON = ("session.start_s", "spark.jobs_per_op", "proc.cpu_ms_per_op", "proc.peak_rss_mb")


def expected_failed(workload: str, attempted: int) -> int:
    """Operations the perturbation must fail: wire_ingest checks its one
    round content once, so every round fails; stream_index alters the
    first drain's output; index_query alters the first reply."""
    z = inputs.Sizes(smoke=True)
    return {
        "wire_ingest": attempted,
        "stream_index": z.stream_batches * z.events_per_batch,
        "index_query": 1,
    }[workload]


def launch(workload: str, trace: int, perturb: bool) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.Popen(cmd + (["--perturb"] if perturb else []),
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def wave(trace: int, perturb: bool) -> list[str]:
    procs = {w: launch(w, trace, perturb) for w in LAYERS}
    problems = []
    for w, p in procs.items():
        out, _ = p.communicate(timeout=300)
        if p.returncode != 0:
            problems.append(f"{w}: exit {p.returncode}")
            continue
        lines = out.strip().splitlines()
        res, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
        m = res["metrics"]
        bad_values = [k for k, v in m.items() if not math.isfinite(v["value"])]
        if res["correct"] != (res["failed"] == 0) or res["attempted"] < 1 or bad_values:
            problems.append(f"{w}: {res}")
        if perturb:
            want = expected_failed(w, res["attempted"])
            if res["failed"] != want:
                problems.append(f"{w}: failed {res['failed']} of {res['attempted']}, want {want}")
            zero = [k for k in LAYERS[w] + COMMON if not m.get(k, {}).get("value")]
            if zero:
                problems.append(f"{w}: per-layer metrics missing or zero: {zero}")
        else:
            if res["failed"] != 0:
                problems.append(f"{w}: {res['failed']} failed operations")
            if set(m) != E2E or not all(v["value"] > 0 for v in m.values()):
                problems.append(f"{w}: metrics {m}")
            if set(ctx["reference"]) != REFERENCE:
                problems.append(f"{w}: reference figures {ctx['reference']}")
        print(f"{'perturbed' if perturb else 'clean':9} {w:13} attempted {res['attempted']:6} "
              f"failed {res['failed']:6}", flush=True)
    return problems


def main() -> int:
    problems = wave(trace=0, perturb=False) + wave(trace=1, perturb=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
