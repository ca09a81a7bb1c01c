"""Dump ``.explain("formatted")`` for registry queries to plans/<round>/.

Usage: python tools/dump_explains.py <tag> <name_filter> <round_dir>

Writes plans/<round_dir>/<query>_<tag>.txt for every registry query whose
name contains one of the comma-separated substrings in <name_filter>
(use "HEADLINE" to dump every bench headliner). ``tag`` is conventionally
"before" or "after": run it once on the parent and once on the change, and
a plan-shape claim cites the two files.

The plan is captured WITHOUT executing the query (explain is plan-time),
from the engine's default session (``get_spark``), the one bench.py runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    tag, name_filter, round_dir = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    from bench import HEADLINE  # noqa: E402
    from gh_archive_data_pipeline_spark.plans.registry import (  # noqa: E402
        all_queries,
    )
    from gh_archive_data_pipeline_spark.session import get_spark  # noqa: E402

    specs = all_queries()
    if name_filter == "HEADLINE":
        names = list(HEADLINE)
    else:
        subs = name_filter.split(",")
        names = [n for n in specs if any(s in n for s in subs)]
    spark = get_spark(app_name="dump_explains")
    for name in sorted(names):
        try:
            df = specs[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
