"""Batched literal-array construction.

``F.array(*[F.lit(x) for x in xs])`` and PySpark's ``F.lit(xs)`` both
issue one py4j round trip PER ELEMENT — a 16×8-codebook pipeline builds
tens of thousands of literals, and profiled plan construction (not
execution!) dominated the ANN family's wall: ~143k py4j commands ≈ 50 s
per ``ann_recall`` construction, most of them literal plumbing
(guide §1.1 measure-first).

``lit_doubles`` / ``lit_double_matrix`` build the SAME expression in ONE
py4j call by handing Spark's SQL parser the literal text: ``repr`` of a
Python float is the shortest exact round-trip form and
``Double.parseDouble`` is correctly rounded, so every element is
bit-identical to its ``F.lit`` twin; any sign/``CreateArray`` wrapper the
parser introduces constant-folds to the identical array literal in the
optimized plan (plan fingerprints are computed post-folding and do not
move).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fmt(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite literal {x!r} in literal array")
    return f"{x!r}D"


def _array_sql(elems: list[str], elem_type: str) -> str:
    """``array(...)`` SQL text; an empty one is CAST to its element type
    (bare ``array()`` is ``array<void>``, not ``array<double>``)."""
    if not elems:
        return f"CAST(array() AS ARRAY<{elem_type}>)"
    return "array(" + ",".join(elems) + ")"


def lit_doubles(xs) -> Column:
    """array<double> literal column — one py4j call for the whole array."""
    return F.expr(_array_sql([_fmt(x) for x in xs], "DOUBLE"))


def lit_double_matrix(xss) -> Column:
    """array<array<double>> literal column — one py4j call in total."""
    return F.expr(
        _array_sql(
            [_array_sql([_fmt(x) for x in xs], "DOUBLE") for xs in xss],
            "ARRAY<DOUBLE>",
        )
    )
