"""Module-level Python UDFs that survive a session restart.

PySpark builds a UDF's JVM function the first time the UDF is applied and
keeps it, and that function holds the accumulator of the SparkContext it
was built under. After ``spark.stop()`` and a new session, every task of
the same UDF then reports into the stopped context's accumulator server and
the driver logs ``Failed to update accumulator`` per task. ``per_context``
builds the UDF again whenever the active SparkContext is not the one it was
last built under; within one context it is the same object every call.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column
from pyspark.sql.utils import get_active_spark_context


def per_context(decorator: Callable) -> Callable:
    """``@per_context(F.pandas_udf(T.BinaryType()))`` in place of
    ``@F.pandas_udf(T.BinaryType())``: the same UDF (name, return type,
    attributes), bound to the active SparkContext."""

    def bind(fn: Callable) -> Callable:
        built = {"sc": None, "udf": decorator(fn)}  # built once here: bad type hints fail at import

        @functools.wraps(built["udf"])
        def call(*cols, **kwargs) -> Column:
            sc = get_active_spark_context()
            if built["sc"] is not sc:
                if built["sc"] is not None:
                    built["udf"] = decorator(fn)
                built["sc"] = sc
            return built["udf"](*cols, **kwargs)

        return call

    return bind
