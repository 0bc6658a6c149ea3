"""Batched literal arrays (``functions/arrays.py``) carry their declared
element types, empty arrays included."""

from __future__ import annotations

from flink_cooccurrence_spark.functions.arrays import lit_double_matrix, lit_doubles


def _typed_value(spark, col):
    row = spark.range(1).select(col.alias("a"))
    return row.schema["a"].dataType.simpleString(), row.first()["a"]


def test_lit_doubles_is_array_of_double_even_when_empty(spark):
    assert _typed_value(spark, lit_doubles([])) == ("array<double>", [])
    assert _typed_value(spark, lit_doubles([1.0, -2.5])) == (
        "array<double>",
        [1.0, -2.5],
    )


def test_lit_double_matrix_is_nested_array_of_double_even_when_empty(spark):
    nested = "array<array<double>>"
    assert _typed_value(spark, lit_double_matrix([])) == (nested, [])
    assert _typed_value(spark, lit_double_matrix([[], [0.5]])) == (
        nested,
        [[], [0.5]],
    )
