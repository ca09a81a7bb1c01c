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


def test_q109_range_frame_orders_by_microseconds(spark, tmp_path):
    """q109's trailing-hour RANGE frame runs over the full precision of
    ``ts``: two events of one user in the same second at different
    sub-second times are not peers (the earlier counts only itself), and
    an event 3600.5 s before a later one falls outside the later one's
    frame. Ordering by whole epoch seconds gets both wrong."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(1, t0 + dt.timedelta(seconds=0.2), 7, 1.0),
            (2, t0 + dt.timedelta(seconds=0.7), 7, 2.0),
            (3, t0 - dt.timedelta(hours=1), 8, 4.0),
            (4, t0 + dt.timedelta(seconds=0.5), 8, 8.0)]
    ids, ts, users, values = zip(*rows)
    pq.write_table(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(["click"] * len(rows)),
        "value": pa.array(values, pa.float64()),
    }), str(tmp_path / "events.parquet"))
    spec = _SPECS["q109_range_frame_rolling_sum"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()      # a one-table lake: duckdb_lake wants all ten
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    want = con.execute(spec.sql).fetchdf()
    assert dict(zip(want.event_id, want.rolling_1h_events)) == {
        1: 1, 2: 2, 3: 1, 4: 1}
    assert mismatch(got, want) is None
