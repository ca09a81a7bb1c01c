"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is the checkout's own
``gh_archive_data_pipeline_spark`` package, run with its shipped session
defaults on ``local[nproc]``. Inputs are generated into ``.perfbench_work/``
in the checkout and cached there by (seed, size). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones), each as ``{"value": ..., "unit": ...}``. The line before it holds
the run's context: nproc, effective shuffle partitions and driver memory,
host steal and load. The full record, spans included, is written under
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_s_p50": "s"}


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("events_per_s"):
        return "1/s"
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith(("_s", ".s", "_s_p50")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "B"
    if name.endswith(("tasks_per_stage", "write_amp", "load1")):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("curation", "gh_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gh_archive_data_pipeline_spark",
                                       "session.py")):
        print(f"no gh_archive_data_pipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # the program's shipped defaults, sized to this host's cores; scratch
    # files stay inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS, Run
    run = Run(ROOT, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = WORKLOADS[args.workload]().run(run)
        context = {**run.record.pop("context"), **run.host()}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    for e in run.errors:
        print(f"FAILED {e}", file=sys.stderr)
    units = ({k: unit(k) for k in metrics} if args.trace
             else END_TO_END_UNITS)
    result = {"correct": run.failed == 0 and run.attempted > 0,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(results, stem + ".json"), "w", encoding="utf-8") as f:
        json.dump({"args": vars(args), "context": context, **run.record,
                   "errors": run.errors, **result}, f, indent=1)
    if args.trace:
        run.spans.dump(os.path.join(results, stem + ".spans.jsonl"))
    print(json.dumps({"context": context, **run.record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
