"""Local replica of the driver's correctness gate: every registry query with
an oracle must match DuckDB on row count, column names, and values
(order-insensitive, exact after the query's own rounding).

The compare is ``perfbench.oracle.mismatch``, the one comparator the
benchmark and ``tools/driver_rehearsal.py`` also use. Floats compare
BIT-EXACT: the driver hashes exact values, and a relative tolerance hides
large-magnitude rounding-edge flips (round 4: 2 cents at 4.2e8 = 5e-11
relative). The whole registry is exact under the floor-cents convention
(plans/registry.py module docstring). ``test_mismatch_rules`` pins those
rules, so a looser comparator cannot slip in unnoticed.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from gh_archive_data_pipeline_spark.plans.registry import all_queries
from perfbench.oracle import duckdb_lake, mismatch

# Default sf0.001 for fast CI; override to sf0.01 to mimic the driver's gate.
SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

_SPECS = all_queries()


@pytest.mark.parametrize("name", list(_SPECS))
def test_query_matches_oracle(spark, name):
    spec = _SPECS[name]
    spark_pdf = spec.fn(spark, SF).toPandas()
    if spec.sql is None:
        return  # rows-only contract: runs, stable schema
    problem = mismatch(spark_pdf, duckdb_lake(SF).execute(spec.sql).fetchdf())
    assert problem is None, f"{name}: {problem}"


def test_mismatch_rules():
    nan = float("nan")
    # floats are bit-exact: a one-ULP sum-order flip is a difference
    assert mismatch(pd.DataFrame({"x": [0.1 + 0.2]}),
                    pd.DataFrame({"x": [0.3]})) is not None
    # NaN equals NaN, and None / NaT / NaN are all one NULL
    assert mismatch(pd.DataFrame({"x": [nan, 1.0]}),
                    pd.DataFrame({"x": [nan, 1.0]})) is None
    assert mismatch(pd.DataFrame({"x": [None, pd.NaT, nan]}, dtype=object),
                    pd.DataFrame({"x": [nan, None, pd.NaT]}, dtype=object)) is None
    # row order and column order do not matter
    assert mismatch(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}),
                    pd.DataFrame({"b": ["y", "x"], "a": [2, 1]})) is None
    # a timestamp column read at ns (Spark) equals the same at us (DuckDB)
    ts = ["2024-01-01 10:00:00", "2024-01-02 11:30:00.000001"]
    assert mismatch(
        pd.DataFrame({"t": pd.Series(ts, dtype="datetime64[ns]")}),
        pd.DataFrame({"t": pd.Series(ts, dtype="datetime64[us]")})) is None
    # a row-count and a column-name difference are each named
    assert "rows 2 != 1" in mismatch(pd.DataFrame({"a": [1, 2]}),
                                     pd.DataFrame({"a": [1]}))
    assert "['b']" in mismatch(pd.DataFrame({"a": [1]}),
                               pd.DataFrame({"b": [1]}))
