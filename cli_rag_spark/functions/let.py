"""Bind a per-row value once for use inside higher-order-function lambdas."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row.

    Spark runs a HOF lambda body (``transform``, ``filter``,
    ``aggregate``, ``zip_with``, ``exists``, ``forall``) once per array
    element, and HOFs are ``CodegenFallback``: neither codegen hoisting
    nor subexpression elimination reaches inside a lambda. A lambda
    that names an enclosing Column expression re-evaluates all of it
    per element (``transform(vec, x -> x / norm(vec))`` is O(dim²) a
    row). A one-element ``transform(array(value), body)[0]`` binds the
    value to a lambda variable instead. A NULL value reaches ``body``
    as NULL.
    """
    return F.transform(F.array(value), body)[0]
