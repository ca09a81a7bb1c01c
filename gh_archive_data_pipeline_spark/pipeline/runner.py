"""Dependency-ordered pipeline runner — the reference's Airflow DAG shape
(get_file_path ≫ download ≫ silver ≫ cleanup ≫ gold,
/root/reference/pipeline/airflow/dags/load_data_task.py:245-258) without the
Airflow dependency: plain topological execution with per-task results in
place of XCom.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any


@dataclass
class Task:
    name: str
    fn: Callable[..., Any]
    upstream: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """Minimal DAG runner: add tasks with upstream names; ``run`` executes in
    topological order, passing each task the dict of upstream results."""

    tasks: dict[str, Task] = field(default_factory=dict)

    def add(self, name: str, fn: Callable[..., Any],
            upstream: tuple[str, ...] = ()) -> "Pipeline":
        if name in self.tasks:
            raise ValueError(f"duplicate task {name}")
        self.tasks[name] = Task(name, fn, upstream)
        return self

    def run(self, context: dict[str, Any] | None = None) -> dict[str, Any]:
        graph = {n: set(t.upstream) for n, t in self.tasks.items()}
        results: dict[str, Any] = dict(context or {})
        for name in TopologicalSorter(graph).static_order():
            if name not in self.tasks:
                # Upstream satisfied by the caller-supplied context (the XCom
                # analog); anything else is a wiring error — fail loudly.
                if name in results:
                    continue
                raise KeyError(
                    f"upstream {name!r} is neither a registered task nor a "
                    f"context key")
            task = self.tasks[name]
            results[name] = task.fn(**{u: results[u] for u in task.upstream
                                       if u in results})
        return results


def gh_archive_pipeline(spark, bronze_path: str, silver_path: str,
                        gold_path: str, multi_line: bool = False) -> Pipeline:
    """The reference pipeline as a Pipeline instance over local parquet:
    task ``silver`` (bronze scan, normalize, partitioned write) then task
    ``gold`` (the four dims, one parquet directory each). ``multi_line``
    is :func:`stages.read_bronze`'s: real GH Archive hours are JSON-lines,
    the reference's checked-in sample is one pretty-printed object.

    The four dim writes are independent, so ``gold`` submits them at once,
    one thread each: an hour's dims run on stages of 1-3 tasks, and written
    one after another they leave most cores idle while each write plans and
    commits. Every thread target is wrapped by
    ``inheritable_thread_target(spark)``, so the caller's job group, local
    properties and tags carry into the writes. All four writes finish before
    ``gold`` returns; if any raised, the first (in dim order) propagates.

    Every table is read back with the schema it was written from
    (``spark.read.schema(df.schema)``): the engine knows that schema, so
    the read-back starts no schema-inference job over the files."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ..sources.writers import write_parquet
    from . import stages

    def silver_task():
        silver = stages.to_silver(
            stages.read_bronze(spark, bronze_path, multi_line=multi_line))
        stages.write_silver(silver, silver_path)
        return spark.read.schema(silver.schema).parquet(silver_path)

    def gold_task(silver):
        gold = stages.build_gold(silver)
        with ThreadPoolExecutor(max_workers=len(gold)) as pool:
            # one wrap per target: each wrap clones the caller's local
            # properties, and every write sets its own SQL execution id there
            writes = [pool.submit(inheritable_thread_target(spark)(write_parquet),
                                  df, f"{gold_path}/{name}")
                      for name, df in gold.items()]
        for w in writes:
            w.result()
        return {n: spark.read.schema(df.schema).parquet(f"{gold_path}/{n}")
                for n, df in gold.items()}

    return (Pipeline()
            .add("silver", silver_task)
            .add("gold", gold_task, upstream=("silver",)))
