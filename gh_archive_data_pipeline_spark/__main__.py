"""CLI: list and run registry queries against a fixture directory.

    python -m gh_archive_data_pipeline_spark list [pattern]
    python -m gh_archive_data_pipeline_spark run q05_region_revenue \
        [--sf /root/testdata/sf0.01] [--limit 20] [--explain]
    python -m gh_archive_data_pipeline_spark sql "SELECT ... FROM lineitem" \
        [--sf DIR]

`sql` registers every fixture table as a temp view first, so ad-hoc ANSI
SQL runs against the lake exactly like the registry queries do — the
SQL-over-lake entry point (SURVEY §2.1 S9) as a shell command.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gh_archive_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registry queries")
    p_list.add_argument("pattern", nargs="?", default="")

    p_run = sub.add_parser("run", help="run one registry query")
    p_run.add_argument("name")
    p_run.add_argument("--sf", default="/root/testdata/sf0.01")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--explain", action="store_true")

    p_sql = sub.add_parser("sql", help="run ad-hoc SQL over the fixture lake")
    p_sql.add_argument("query")
    p_sql.add_argument("--sf", default="/root/testdata/sf0.01")
    p_sql.add_argument("--limit", type=int, default=20)

    p_demo = sub.add_parser(
        "demo",
        help="end-to-end GH Archive hour: bronze -> silver -> gold dims -> "
             "profile -> manifest, offline against the checked-in sample")
    p_demo.add_argument(
        "--src", default=None,
        help="GH Archive hour JSON (default: the reference's checked-in "
             "sample). Real hour files are JSON-lines; pass --json-lines.")
    p_demo.add_argument("--out", default=None,
                        help="output directory (default: a temp dir)")
    p_demo.add_argument("--json-lines", action="store_true",
                        help="treat --src as JSON-lines (real GH Archive "
                             "hours) instead of one pretty-printed object")

    args = p.parse_args(argv)

    from .plans.registry import all_queries

    if args.cmd == "list":
        for name, spec in sorted(all_queries().items()):
            if args.pattern in name:
                kind = "oracle" if spec.sql else "rows-only"
                doc = spec.doc.split("\n")[0][:80]
                print(f"{name:42s} [{kind}] {doc}")
        return 0

    from pyspark.sql import SparkSession

    from .session import get_spark
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"cli-{args.cmd}")
    try:
        if args.cmd == "demo":
            return _demo(spark, args)
        if args.cmd == "run":
            specs = all_queries()
            if args.name not in specs:
                print(f"unknown query {args.name!r}; try `list`",
                      file=sys.stderr)
                return 2
            t0 = time.monotonic()
            df = specs[args.name].fn(spark, args.sf)
            if args.explain:
                df.explain("formatted")
            df.show(args.limit, truncate=False)
            print(f"# {args.name}: {time.monotonic() - t0:.2f}s")
        else:  # sql
            from .sources.readers import ALL_TABLES, load_table
            for t in ALL_TABLES:
                load_table(spark, args.sf, t).createOrReplaceTempView(t)
            spark.sql(args.query).show(args.limit, truncate=False)
        return 0
    finally:
        # don't tear down a session the caller owned (in-process use, e.g.
        # the demo smoke test running against the shared test session)
        if not preexisting:
            spark.stop()


def _demo(spark, args) -> int:
    """The newcomer's first command (SURVEY §7 stretch): the reference's
    whole hourly ELT (download_to_bronze -> silver -> gold dims,
    load_data_task.py:63-191) plus this engine's profile + manifest, as
    ONE offline command over the checked-in sample hour — wired through
    the Airflow-analog Pipeline runner and self-checked: every gold dim
    must round-trip its written parquet with matching row counts."""
    import json
    import os
    import tempfile
    import time

    from .pipeline import stages
    from .pipeline.runner import gh_archive_pipeline

    src = args.src or stages.REAL_SAMPLE
    if not os.path.exists(src):
        print(f"source not found: {src}", file=sys.stderr)
        return 2
    out = args.out or tempfile.mkdtemp(prefix="gh_demo_")
    multi_line = not args.json_lines
    t0 = time.monotonic()

    def profile_task(gold):
        # the q392 parity frame: per-dim row count / key sum / value md5
        return {r.gold_table: r.asDict() for r in
                stages.gold_dim_summary(spark, src,
                                        multi_line=multi_line).collect()}

    def manifest_task(silver, gold, profile):
        manifest = {"source": src, "out": out,
                    "silver_rows": silver.count(), "gold": {}}
        for name, df in sorted(gold.items()):
            n = df.count()
            prof = profile.get(name)
            # self-check: the round-tripped parquet must agree with the
            # recomputed summary — a dropped row or partition fails here,
            # including a dim the profiler never summarized (ADVICE r9:
            # that case used to die as a bare KeyError instead of this
            # diagnostic). (a dim CAN be legitimately empty — the sample's
            # one event has no org — but the events fact table never is)
            if prof is None or n != prof["n_rows"] or (
                    name == "events" and n < 1):
                raise AssertionError(
                    f"gold/{name}: round-trip {n} rows vs profile "
                    f"{'MISSING' if prof is None else prof['n_rows']} "
                    "(must match; events >= 1)")
            manifest["gold"][name] = {"n_rows": n,
                                      "id_sum": prof["id_sum"],
                                      "detail_md5": prof["detail"]}
        manifest["wall_sec"] = round(time.monotonic() - t0, 2)
        with open(f"{out}/manifest.json", "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        return manifest

    results = (gh_archive_pipeline(spark, src, f"{out}/silver",
                                   f"{out}/gold", multi_line=multi_line)
               .add("profile", profile_task, upstream=("gold",))
               .add("manifest", manifest_task,
                    upstream=("silver", "gold", "profile"))
               .run())
    print(json.dumps(results["manifest"], indent=2, sort_keys=True))
    print(f"# demo complete: {out}/manifest.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
