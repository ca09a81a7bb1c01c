"""Write the oracle answers that ship with the benchmark.

    python3 perfbench/ship_answers.py

Runs each curation query's registry oracle SQL in DuckDB on the
benchmark's fixed lake and stores the answer in ``perfbench/expected/``,
keyed by the lake's bytes and the SQL text (see ``oracle.answers``); an
answer whose key is current is kept. Rerun
it when the curation query list, an oracle SQL or the lake generator
changes; until then the benchmark computes the changed answers itself, once
per checkout.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import lakegen  # noqa: E402
import oracle  # noqa: E402
from workloads import CURATION, LAKE_SEED, LAKE_SF  # noqa: E402


def main() -> None:
    from gh_archive_data_pipeline_spark.plans.registry import all_queries
    specs = all_queries()
    lake = lakegen.cached_lake(
        os.path.join(os.path.dirname(HERE), ".perfbench_work", "cache"),
        LAKE_SEED, LAKE_SF)
    out = os.path.join(HERE, "expected")
    os.makedirs(out, exist_ok=True)
    fp = oracle.lake_fingerprint(lake)
    con = oracle.duckdb_lake(lake)
    keys_path = os.path.join(out, "keys.json")
    keys = {}
    if os.path.exists(keys_path):
        with open(keys_path, encoding="utf-8") as f:
            keys = json.load(f)
    keys = {n: k for n, k in keys.items() if n in CURATION}
    for name in CURATION:
        sql = specs[name].sql
        key = oracle.answer_key(fp, sql)
        if keys.get(name) == key:
            continue  # the shipped answer is current
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")
        keys[name] = key
        print(name, flush=True)
    with open(keys_path, "w", encoding="utf-8") as f:
        json.dump(keys, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
