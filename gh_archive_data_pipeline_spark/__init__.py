"""PySpark-native analytics engine with the capabilities of the reference
GH-Archive ELT pipeline (lapis2002/gh-archive-data-pipeline), rebuilt
Spark-first.

Subpackages:
- ``sources``   — readers/writers (parquet, JSON-with-schema, JDBC write) and
                  the per-fixture artifact memo.
- ``plans``     — declarative query catalog (DataFrame/SQL logical plans) and
                  the oracle-checkable registry consumed by ``__spark_entry__``.
- ``operators`` — engine-level composite operators (profiler, dedup families,
                  similarity search, as-of join, multimodal plumbing).
- ``functions`` — column-expression helpers (text stats, vector math, json).
- ``streaming`` — Structured Streaming sources/windows/stateful ops.
- ``pipeline``  — GH-Archive bronze→silver→gold parity pipeline.
"""

__version__ = "0.1.0"
