"""Python worker daemon with heavyweight imports pre-loaded.

Spark 4.1 reaps idle Python workers after a HARDCODED 1-minute idle
timeout (``PythonWorkerFactory.IDLE_WORKER_TIMEOUT_NS`` — no conf knob),
so the first Python-boundary query after any >60s JVM-only stretch pays
a full worker-pool respawn: 32-64 forks, each importing pandas (~3s on
this box) and pyarrow concurrently on the same cores. Measured on the
r14 bench as 12-22s stalls on the mapInPandas codec queries every pass
(solo the same queries run 1-2.7s), ~30s of the 260s headline total.

The optimization-guide fix (§4.5 — heavyweight init once, amortized)
applied at the process level: pre-import the heavy modules in the
DAEMON, once; every forked worker inherits the loaded modules as
copy-on-write pages, so a respawned pool is ready in milliseconds
instead of seconds. On a multi-executor cluster the same daemon serves
every executor process, so the win carries to scale unchanged (and
first-use latency drops there too).

Enabled via ``spark.python.daemon.module`` (public conf, documented in
the Spark source) in :func:`riemann_spark.session.get_spark`. Every
import is inside try/except: a missing optional module must never take
down the daemon — worst case a worker re-imports it after fork, which
is exactly the stock behavior. The daemon finds this package through the
``PYTHONPATH`` that ``get_spark`` sets before the JVM launches.
"""

from __future__ import annotations

for _mod in (
    # third-party heavyweights (pandas pulls numpy; ~3s cold on this box)
    "numpy",
    "pandas",
    "pyarrow",
    # the Arrow/pandas serializer stack every vectorized UDF touches
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # engine modules referenced by pickled UDFs (imported on unpickle)
    "riemann_spark.functions.udfs",
    "riemann_spark.functions.multimodal",
    "riemann_spark.functions.media_codecs",
    "riemann_spark.sources",
):
    try:
        __import__(_mod)
    except Exception:  # pragma: no cover - optional in exotic deploys
        pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
