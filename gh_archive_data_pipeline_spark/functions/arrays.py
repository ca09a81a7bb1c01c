"""Array column-expression helpers shared by the registry's queries."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_pairs(arr: str, a: str, b: str) -> Column:
    """array<struct<a, b>> of every element pair (arr[i], arr[j]), i < j.

    Over a sorted distinct array these are exactly the value pairs with
    a < b, emitted |arr|·(|arr|−1)/2 times instead of |arr|² rows
    post-filtered (q123, q167). Explode the result directly: a generator
    input that is an expression rather than a staged column keeps
    InferFiltersFromGenerate from re-evaluating the array (the q144
    trap)."""
    return F.expr(
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr}) - i - 1), "
        f"y -> struct(x AS {a}, y AS {b}))))")
