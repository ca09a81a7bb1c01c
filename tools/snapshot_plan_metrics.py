"""Regenerate bench.py's PLAN_SNAPSHOT.

Runs every headline query ONCE at $SPARK_GRAFT_SF_DIR (default sf0.1),
extracts the executed plan's work counters (shuffle records/bytes, scan
rows), and prints a ready-to-paste ``PLAN_SNAPSHOT = {...}`` block.

Run after any deliberate plan change (new join strategy, new fixture), then
paste the output over bench.py's PLAN_SNAPSHOT. Unlike wall time, these
counters need no idle host — one run anywhere reproduces them exactly.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, force_execute, prep  # noqa: E402
from gh_archive_data_pipeline_spark.plans.metrics import (  # noqa: E402
    executed_shuffle_summary,
)
from gh_archive_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from gh_archive_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="snapshot_plan_metrics")
    prep(spark, sf_dir)
    specs = all_queries()
    print("PLAN_SNAPSHOT: dict[str, dict] = {")
    for name in HEADLINE:
        df = specs[name].fn(spark, sf_dir)
        _, agg = force_execute(df)
        s = executed_shuffle_summary(agg)
        print(f'    "{name}": {{"shuffle_records": {s["shuffle_records"]},'
              f' "rows_read": {s["rows_read"]}}},')
        print(f"# {name}: {s}", file=sys.stderr)
    print("}")
    spark.stop()


if __name__ == "__main__":
    main()
