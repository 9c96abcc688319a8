"""Session conf: set once in get_spark, never mutated by engine code.

Riemann pushes each event once through a tree of closures with no
process-wide mode (streams.clj:5-26). The engine's equivalent rule:
session-wide conf is fixed when the session starts, because any helper
that flips it affects every action running concurrently on the session.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import tempfile

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "riemann_spark"


def _conf_writes(path: pathlib.Path, allowed_in: tuple[str, ...] = ()) -> list[str]:
    """``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` calls in a file,
    outside the top-level functions named in ``allowed_in``."""
    hits = []
    for top in ast.parse(path.read_text(), str(path)).body:
        if isinstance(top, ast.FunctionDef) and top.name in allowed_in:
            continue
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    return hits


def test_engine_never_writes_session_conf():
    hits = [h for p in sorted(PKG.rglob("*.py")) for h in _conf_writes(p)]
    hits += _conf_writes(ROOT / "__spark_entry__.py", allowed_in=("_configure",))
    assert hits == [], "runtime conf writes (set them in get_spark): " + ", ".join(hits)


class _RecordingSession:
    """A stand-in session whose ``conf.set`` calls are counted."""

    def __init__(self):
        self.writes: list[tuple[str, str]] = []
        self.conf = self

    def set(self, key, value):
        self.writes.append((key, value))


def test_entry_queries_configure_each_session_once(monkeypatch):
    """The driver wrappers set the session conf on the first call for a
    session only; later calls on it write nothing."""
    import __spark_entry__
    import riemann_spark.plans as plans

    monkeypatch.setattr(plans, "QUERIES", {"q": lambda spark, sf: spark})
    run = __spark_entry__.queries()["q"]
    session = _RecordingSession()
    run(session, "sf")
    run(session, "sf")
    assert len(session.writes) == 4, session.writes


_CHILD = r"""
import sys
sys.path.insert(0, {root!r})
from riemann_spark import get_spark

spark = get_spark("outside-root", cpus=2)
print("escaped=" + spark.conf.get("spark.sql.parser.escapedStringLiterals"))

def double(batches):
    for b in batches:
        yield b.assign(id=b["id"] * 2)

rows = spark.range(4).mapInPandas(double, "id long").collect()
print("sum=%d" % sum(r.id for r in rows))
spark.stop()
"""


@pytest.mark.slow
def test_python_udf_runs_from_outside_the_repo_root():
    """A driver started in another directory, with no PYTHONPATH, runs
    its first Python UDF: the workers and the riemann_spark.daemon they
    fork from find the package through the PYTHONPATH get_spark hands
    the JVM. Launch args that turn on escaped string literals do not
    reach the session, whose SQL embeds '\\s+' regex literals."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.sql.parser.escapedStringLiterals=true pyspark-shell"
    )
    with tempfile.TemporaryDirectory() as cwd:
        out = subprocess.run(
            [sys.executable, "-c", _CHILD.format(root=str(ROOT))],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "escaped=false" in out.stdout
    assert "sum=12" in out.stdout
