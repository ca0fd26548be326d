"""The one entry point to Spark's private plan API (Py4J).

PySpark exposes no public handle on the optimized logical plan, so
callers that need it (the docID pass-stability check in
``index/build.py``, the registry size estimate in
``query/percolate.py``) go through :func:`optimized_plan_probe`, which
turns any failure of the private API into the caller's safe default.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

__all__ = ["optimized_plan_probe"]

T = TypeVar("T")


def optimized_plan_probe(df: DataFrame, probe: Callable[[object], T], default: T) -> T:
    """``probe(plan)`` over ``df``'s optimized logical plan (a Py4J
    handle to the JVM tree), or ``default`` when reaching the plan or
    probing it raises: a Spark version without the private method
    (``Py4JError``), a JVM exception (raw or converted by PySpark), a
    DataFrame with no JVM handle (``AttributeError``, Spark Connect)."""
    try:
        return probe(df._jdf.queryExecution().optimizedPlan())
    except (Py4JError, PySparkException, AttributeError):
        return default
