"""Driver-side memo for Column and pandas-UDF construction.

Building a wide expression list or declaring a ``@pandas_udf`` costs
driver-side py4j round trips (the quality panel's ~5,800 calls were
~1.2 s per build, more than its sf0.1 execution), and the result depends
only on the builder's parameters: Columns are unresolved expression
trees bound by NAME, so one copy serves every input frame. This caches
CONSTRUCTION only — each caller still gets a fresh plan that Spark
analyzes and runs.

Every entry is keyed on the SparkContext that was active when it was
built, as ``(applicationId, startTime)``. A pandas-UDF wrapper lazily
binds its context's accumulator server, so a wrapper reused after
``spark.stop()`` and a new session would target a dead server. The
context's ``id()`` is not a safe key: CPython reuses the address of a
freed object, so a new context can carry the old one's identity.

The per-worker data caches (MinHash gram vectors, SimHash token signs,
hyperplane matrices) are a different thing: they live inside Python
workers, hold values derived from deterministic functions, and stay
with their operators.
"""

from __future__ import annotations

from typing import Callable, TypeVar

V = TypeVar("V")

# (context token, *builder parameters) -> built value. Keys hold only
# names, counts and flags — never a DataFrame, a Column or a data value
# (pinned by tests/test_operators.py::test_memo_keys_hold_only_builder_parameters).
_CACHE: dict[tuple, object] = {}


def context_token() -> tuple[str, int] | None:
    """``(applicationId, startTime)`` of the active SparkContext, or None
    when there is none."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else (sc.applicationId, sc.startTime)


def memo(key: tuple, build: Callable[[], V]) -> V:
    """``build()`` once per active context and ``key`` (the builder's
    name and parameters); later calls return the same object."""
    full = (context_token(), *key)
    if full not in _CACHE:
        _CACHE[full] = build()
    return _CACHE[full]  # type: ignore[return-value]
