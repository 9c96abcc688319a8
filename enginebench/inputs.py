"""Seeded inputs for every workload.

Everything here is a pure function of ``--seed``: the load generator
calls it to produce what it sends or writes, and the checks call it
again to know what the program was given. Only generated inputs reach
the program.

Shared properties (see README.md, "Inputs"):

- keys are ``[host, service]`` pairs drawn with a Zipf(1.1) skew;
- event times are strictly increasing, globally and so per key, which
  gives every key exactly one latest event;
- metrics carry two decimals and TTLs are whole seconds, so both cross
  the wire codec (double metric, float32 ttl) and the engine's exact
  decimal sums without rounding.
"""

from __future__ import annotations

import bisect
import itertools
import random

#: 2024-01-01T00:00:00Z in microseconds
T0_US = 1_704_067_200_000_000
TAGS = ("t0", "t1", "t2", "t3", "t4")
STATES = ("ok", "ok", "ok", "ok", "ok", "ok", "ok", "warning", "warning", "critical")


class Sizes:
    """Input sizes of one run. ``smoke`` shrinks them for the self-test."""

    def __init__(self, smoke: bool = False):
        s = 10 if smoke else 1
        # wire_ingest: one round = frames_per_round frames of
        # events_per_frame events
        self.wire_hosts, self.wire_services = 200, 10
        self.frames_per_round = 200 // s
        self.events_per_frame = 50
        self.warmup_rounds = 1
        # stream_index: one drain = stream_batches files of
        # events_per_batch events over stream_keys keys
        self.stream_keys = 3000 // s
        self.stream_batches = 3
        self.events_per_batch = 1000 // s
        # index_query: index over index_hosts x index_services keys
        self.index_hosts, self.index_services = 2000 // s, 10
        self.queries_per_round = 20
        self.warmup_queries = 10 if smoke else 40
        self.query_list = 2000


def _zipf_sampler(rng: random.Random, n: int, s: float = 1.1):
    cum = list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))
    # shuffle which key is hot, so the head is not always key 0
    perm = list(range(n))
    rng.shuffle(perm)
    total = cum[-1]
    return lambda: perm[bisect.bisect_left(cum, rng.random() * total)]


def _metric(rng: random.Random) -> float:
    if rng.random() < 0.1:
        return float(rng.randint(0, 100))  # integral: the sint64 field
    return rng.randint(0, 10_000) / 100


def _tags(rng: random.Random) -> list[str]:
    return [t for t in TAGS if rng.random() < 0.25]


# ------------------------------------------------------------ wire_ingest


def wire_round(seed: int, z: Sizes) -> list[list[dict]]:
    """The frames of one ingest round, each a list of events. Some
    events have a negative metric (dropped by the config's where), no
    state (defaulted to "ok") or already carry the "bench" tag
    (array_union keeps one). Every round of a run sends these frames."""
    rng = random.Random(f"wire:{seed}")
    pick = _zipf_sampler(rng, z.wire_hosts * z.wire_services)
    t_us = T0_US
    frames = []
    for _ in range(z.frames_per_round):
        events = []
        for _ in range(z.events_per_frame):
            k = pick()
            t_us += rng.randint(1, 400_000)
            tags = _tags(rng)
            if rng.random() < 0.05:
                tags.append("bench")
            events.append(
                {
                    "host": f"h{k // z.wire_services}",
                    "service": f"svc{k % z.wire_services}",
                    "state": None if rng.random() < 0.2 else rng.choice(STATES),
                    "description": None if rng.random() < 0.5 else f"d{k}",
                    "metric": -_metric(rng) - 0.01 if rng.random() < 0.05 else _metric(rng),
                    "tags": tags,
                    "ttl": float(rng.choice((60, 300, 3600))),
                    "time_us": t_us,
                }
            )
        frames.append(events)
    return frames


# ----------------------------------------------------------- stream_index


def stream_batches(seed: int, z: Sizes, n_batches: int, per_batch: int,
                   tag: str = "") -> list[list[dict]]:
    """One list of event rows per micro-batch file. Times are whole
    seconds, strictly increasing across the backlog; 2% of events are
    ``state="expired"`` tombstones; 40% of events carry a TTL short
    enough (300-1500 s, under one batch's time span) that their key
    expires during the drain unless it is updated again."""
    rng = random.Random(f"stream{tag}:{seed}")
    pick = _zipf_sampler(rng, z.stream_keys)
    t = T0_US // 1_000_000
    eid = 0
    batches = []
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            k = pick()
            t += rng.randint(1, 3)
            rows.append(
                {
                    "event_id": eid,
                    "host": f"h{k // 10}",
                    "service": f"svc{k % 10}",
                    "state": "expired" if rng.random() < 0.02 else rng.choice(STATES),
                    "description": None,
                    "metric": _metric(rng),
                    "tags": None,
                    "time": float(t),
                    "ttl": float(rng.randint(300, 1500)) if rng.random() < 0.4 else 1e6,
                    "attributes": None,
                }
            )
            eid += 1
        batches.append(rows)
    return batches


# ------------------------------------------------------------ index_query


def index_events(seed: int, z: Sizes) -> list[dict]:
    """Events the index is built from: every key of
    index_hosts x index_services gets one to three events, and 3% of
    keys end on a tombstone (absent from the index)."""
    rng = random.Random(f"index:{seed}")
    n_keys = z.index_hosts * z.index_services
    writes = [k for k in range(n_keys) for _ in range(rng.randint(1, 3))]
    rng.shuffle(writes)
    last = {k: i for i, k in enumerate(writes)}
    out = []
    t_us = T0_US
    for i, k in enumerate(writes):
        t_us += rng.randint(1, 50_000)
        tomb = last[k] == i and rng.random() < 0.03
        out.append(
            {
                "event_id": i,
                "host": f"h{k // z.index_services}",
                "service": f"svc{k % z.index_services}",
                "state": "expired" if tomb else rng.choice(STATES),
                "description": None if rng.random() < 0.5 else f"d{k}",
                "metric": _metric(rng),
                "tags": _tags(rng),
                "time_us": t_us,
                "ttl": float(rng.choice((60, 300, 3600))),
            }
        )
    return out


def query_list(seed: int, z: Sizes) -> list[tuple[str, str, tuple]]:
    """(template, query string, params). The loop walks the list in
    order, so a run does not repeat a round of queries; the template
    mix is the same in every round."""
    rng = random.Random(f"queries:{seed}")
    H, S = z.index_hosts, z.index_services
    mix = (
        ["point"] * 6 + ["state"] * 2 + ["range"] * 4 + ["tagged"] * 3
        + ["like"] * 2 + ["not"] * 2 + ["wide"]
    )
    out = []
    for i in range(z.query_list):
        kind = mix[i % len(mix)]
        if kind == "point":
            p = (f"h{rng.randrange(H)}", f"svc{rng.randrange(S)}")
            q = f'host = "{p[0]}" and service = "{p[1]}"'
        elif kind == "state":
            p = (rng.choice(("warning", "critical")), f"svc{rng.randrange(S)}")
            q = f'state = "{p[0]}" and not (service = "{p[1]}")'
        elif kind == "range":
            lo = rng.randint(0, 9_500) / 100
            p = (lo, round(lo + rng.randint(10, 300) / 100, 2))
            q = f"metric >= {p[0]} and metric < {p[1]}"
        elif kind == "tagged":
            p = (rng.choice(TAGS), rng.choice(("warning", "critical")))
            q = f'tagged "{p[0]}" and state = "{p[1]}"'
        elif kind == "like":
            p = (f"h{rng.randrange(10, 100)}",)
            q = f'host =~ "{p[0]}%"'
        elif kind == "not":
            p = (f"svc{rng.randrange(S)}", round(rng.randint(0, 9_000) / 100, 2))
            q = f'not (state = "ok" or metric < {p[1]}) and service = "{p[0]}"'
        else:  # wide: thousands of events
            p = (round(rng.randint(8_000, 9_500) / 100, 2),)
            q = f"metric > {p[0]} or tagged \"t0\" and tagged \"t1\""
        out.append((kind, q, p))
    return out
