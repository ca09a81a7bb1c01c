"""Oracle-checkable query registry.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet fixtures.
``__spark_entry__.queries()/oracle_sql()`` are thin views over this registry.

Conventions that keep the driver's order-insensitive value-hash compare green
(SURVEY.md §7 risk register):
- alias every computed column identically on both sides;
- round every floating-point output (sums 2dp, ratios/avgs 4-6dp) on both
  sides so summation-order ULP noise can't flip the hash;
- for SUMS of monetary-style doubles (and anything near-cancelling or
  large-magnitude), aggregate exact integer cents instead: per-row
  ``floor(x*100 + 0.5)`` cast to bigint, summed, divided back. Two
  reasons, both measured (round 4, under the bit-exact compare that is
  now ``perfbench.oracle.mismatch``): double summation order differs
  between engines (417657971.58 vs .60 at 4.2e8),
  and round() itself disagrees within an ULP of a tie (Spark BigDecimal
  half-up vs DuckDB float math) while floor/*/+ are pure IEEE ops with
  bit-identical results on identical inputs;
- make every ORDER BY a total order (tie-break on a key column) — row order
  doesn't matter to the hash but LIMIT/window-rank cutoffs do;
- cast computed integers to bigint on both sides (DuckDB widens, Spark doesn't).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None → driver runs rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, sql, (fn.__doc__ or "").strip())
        return fn

    return deco


def _load_all() -> None:
    # Import for registration side effects; keep lazy to avoid import cycles.
    from . import (  # noqa: F401
        advanced,
        relational,
        reshape,
        scalar_fns,
        setops_sorts,
        subqueries,
        windows,
    )
    from ..operators import (  # noqa: F401
        asof,
        classifier,
        corpus_stats,
        dedup,
        features,
        graph,
        incremental,
        intervals,
        layout,
        linalg,
        prefilter,
        multimodal,
        pipeline_build,
        profiler,
        quality,
        quantize,
        reconcile,
        retrieval,
        sampling,
        selection,
        similarity,
        skew,
        text_queries,
        timeseries,
        tokenize,
        unigram,
    )
    from ..pipeline import stages  # noqa: F401
    from ..sources import versioned  # noqa: F401
    from ..streaming import batch_equivalents, stream_queries  # noqa: F401


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    return dict(sorted(_REGISTRY.items()))


def query_map() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {name: spec.sql for name, spec in all_queries().items()
            if spec.sql is not None}
