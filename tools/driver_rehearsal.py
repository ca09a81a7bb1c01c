"""Full driver rehearsal: run EVERY registry query and its DuckDB oracle
side-by-side from a plain SparkSession (no engine confs — exactly how the
driver's harness does it) and print one line per query as it finishes:

    name  verdict  spark_s  oracle_s  [first difference or error]

The verdict is ``pass`` (oracle-equal), ``fail`` (differs from the oracle),
``rows-only`` (no oracle; the query ran to completion), ``spark-error`` or
``oracle-error``; a side that did not finish prints ``-``. This is the
end-to-end dress rehearsal for CORRECTNESS_r{N}, and at sf0.1 its output
is the per-query record.

Usage: python tools/driver_rehearsal.py [sf_dir] [name_filter]
(sf_dir default /root/testdata/sf0.01; name_filter = comma-separated
substrings — run only queries whose name contains one, e.g. "q386,q388").
Run it from the repository root: Spark's Python workers import the
package from the working directory.

Results compare with ``perfbench.oracle.mismatch``, the one comparator the
parity test and the benchmark use: same column names and row count, rows
in any order, floats BIT-EXACT (the driver hashes exact values), NULL
equal to NULL and NaN equal to NaN.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.oracle import duckdb_lake, mismatch  # noqa: E402


def _s(t: float | None) -> str:
    return "-" if t is None else f"{t:.1f}"


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "8").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as mod
    qs, oracles = mod.queries(), mod.oracle_sql()
    if len(sys.argv) > 2:
        subs = sys.argv[2].split(",")
        qs = {n: f for n, f in qs.items() if any(s in n for s in subs)}
    con = duckdb_lake(sf)
    verdicts: Counter = Counter()
    for name in sorted(qs):
        spark_s = oracle_s = detail = None
        t0 = time.monotonic()
        try:
            spdf = qs[name](spark, sf).toPandas()
            spark_s = time.monotonic() - t0
        except Exception as e:  # noqa: BLE001
            verdict, detail = "spark-error", str(e)[:160]
        else:
            if name not in oracles:
                verdict = "rows-only"
            else:
                t0 = time.monotonic()
                try:
                    ddf = con.execute(oracles[name]).fetchdf()
                    oracle_s = time.monotonic() - t0
                except Exception as e:  # noqa: BLE001
                    verdict, detail = "oracle-error", str(e)[:160]
                else:
                    detail = mismatch(spdf, ddf)
                    verdict = "fail" if detail else "pass"
        verdicts[verdict] += 1
        print(f"{name}\t{verdict}\t{_s(spark_s)}\t{_s(oracle_s)}"
              + (f"\t{detail}" if detail else ""), flush=True)
    print(f"\n=== rehearsal @ {sf}: "
          + ", ".join(f"{n} {v}" for v, n in sorted(verdicts.items()))
          + " ===")
    spark.stop()


if __name__ == "__main__":
    main()
