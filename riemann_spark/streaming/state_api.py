"""Stateful-streaming API adapter: the one seam between our per-key
state machines and Spark's state API.

Every custom stateful operator (stateful_ops.py, index_stream.py) is
written against the ``applyInPandasWithState`` contract:

    update(key_tuple, iter_of_pdfs, GroupState) -> yields pd.DataFrame

and each declares its own state shape and timeout mode in the
``state_schema``/``timeout`` it passes here. The legacy API is used
because its successor, ``transformWithStateInPandas``, runs a Python
worker protocol that needs the ``google.protobuf`` package.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType

#: Test seam for testkit.run_stream_intervals: when set, apply_with_state
#: hands the (keys, update, schemas, timeout) registration to the hook
#: instead of building a plan — the virtual-clock harness then drives the
#: captured update closure under controlled time.
_capture_hook = None


def apply_with_state(
    sdf: DataFrame,
    keys: Sequence[str],
    update: Callable,
    out_schema: StructType,
    state_schema: StructType,
    output_mode: str = "append",
    timeout=GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Group ``sdf`` by ``keys`` and run ``update`` per key through
    ``applyInPandasWithState``."""
    if _capture_hook is not None:
        _capture_hook(keys, update, out_schema, state_schema, timeout)
        return sdf
    return sdf.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, output_mode, timeout
    )
