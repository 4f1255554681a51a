"""Higher-order-function evaluation helpers.

THE COST MODEL (measured on the CDC chunker and the band tables): Spark
evaluates higher-order-function lambda bodies per element with NO
subexpression elimination, and CollapseProject happily inlines a
single-referenced alias back into a lambda body. Two consequences:

1. any non-lambda-variable subtree referenced inside a lambda
   re-evaluates once per element — a split() in a per-position lambda
   is O(n²) characters per row (CDC chunker: 105 s → 0.5 s);
2. an expensive expression referenced twice in one projection
   (e.g. array_position(d, array_min(d))) evaluates twice per row,
   and an alias consumed once by a later projection gets inlined into
   it — including into the projection AFTER a Generate, where it then
   runs once per exploded row (k-means argmin: 64× per vector).

A LAMBDA VARIABLE, by contrast, is a bound VALUE. :func:`bind_once`
turns any expression into one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, functions as F


def bind_once(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row and hand it to ``body`` as a
    bound lambda variable: ``element_at(transform(array(value),
    v -> body(v)), 1)``. However many times ``body`` references its
    argument, the underlying expression runs once. Works for any
    result type (including arrays — no flatten gymnastics)."""
    return F.element_at(F.transform(F.array(value), body), 1)
