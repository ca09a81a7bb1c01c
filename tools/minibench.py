"""Isolated per-query bench (same methodology as bench.py: min-of-2
back-to-back samples under the prune-proof hash-reduce action, plan
counters from the executed agg) for a comma-separated query subset.

Usage: python tools/minibench.py q440,q443 [n_samples]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
This is the guide-§1.4 investigation harness — OPTIMIZATION_r11 numbers
quoted as "minibench" come from here; headline numbers still come from
the full bench.py run.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force_execute, prep  # noqa: E402
from gh_archive_data_pipeline_spark.plans.metrics import (  # noqa: E402
    executed_shuffle_summary,
)
from gh_archive_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from gh_archive_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    subs = sys.argv[1].split(",")
    n_samples = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="minibench")
    prep(spark, sf_dir)
    specs = all_queries()
    names = [n for n in specs if any(s in n for s in subs)]
    for name in names:
        spec = specs[name]
        samples = []
        agg = None
        for _ in range(n_samples):
            t0 = time.monotonic()
            df = spec.fn(spark, sf_dir)
            n, agg = force_execute(df)
            samples.append(round(time.monotonic() - t0, 3))
        p = executed_shuffle_summary(agg)
        print(f"# {name}: {min(samples)}s min of {samples} ({n} rows) "
              f"shuffle_records={p['shuffle_records']} "
              f"rows_read={p['rows_read']} "
              f"shuffle_bytes={p.get('shuffle_bytes')}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
