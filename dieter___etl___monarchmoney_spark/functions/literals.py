"""Constant numeric arrays (vectors, matrices, lookup tables, cut lists)
as plan literals, each built in ONE JVM round trip.

PySpark's ``F.lit(list)`` expands to ``array(lit(x), …)``, and so does
``F.array(*[F.lit(x) …])``: every element costs its own py4j round
trips, so an 8×64 hyperplane matrix or an 8×32 codebook costs hundreds
to thousands of them while the plan is built. Here the whole array is
spelled as Spark SQL text and parsed by one ``F.expr`` call. The parser
yields the same ``CreateArray``-of-``Literal`` tree as the per-element
form, and ConstantFolding folds either into one array literal, so
optimized plans do not change.

Spelling rules:

- doubles are ``repr(float(x))`` suffixed ``D`` — an unsuffixed ``0.1``
  is a DECIMAL in Spark SQL, and ``repr`` round-trips exactly, ``-0.0``
  and subnormals included;
- ints are written plain, so Spark picks int or bigint by range, as
  py4j does for ``F.lit(int)``;
- NaN and ±inf have no SQL literal and raise ``ValueError``.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_number(x: float) -> str:
    if isinstance(x, numbers.Integral):
        return str(int(x))
    f = float(x)
    if not math.isfinite(f):
        raise ValueError(f"no SQL literal for the non-finite value {f!r}")
    return repr(f) + "D"


def _sql_array(values: Sequence[float]) -> str:
    return "array(" + ", ".join(_sql_number(x) for x in values) + ")"


def const_vec(values: Sequence[float]) -> Column:
    """A constant numeric vector: one round trip, one folded literal."""
    return F.expr(_sql_array(values))


def const_mat(rows: Sequence[Sequence[float]]) -> Column:
    """A constant numeric matrix (hyperplanes, centroids, codebooks) as
    a nested array: one round trip, one folded literal. Pair it with
    higher-order functions so the per-row logic is one lambda, never
    unrolled per plane or centroid."""
    return F.expr("array(" + ", ".join(_sql_array(r) for r in rows) + ")")
