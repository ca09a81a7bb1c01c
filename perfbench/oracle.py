"""Result checks: the prune-proof hash action and the exact DuckDB compare.

A result is checked against its oracle answer by hash first: the answer is
read back with Spark, cast to the result's column types, and reduced by the
same hash action, so equal hashes mean the same rows bit for bit and the
check costs no second execution of the query. Only when the hashes differ
is the result collected and compared row by row, by the rules of the
engine's oracle parity test: same column names, same row count, and every
value equal after sorting rows, floats bit-exact, NULL equal to NULL and
NaN equal to NaN. That compare decides, and names the first difference.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

LAKE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def hash_action(df: DataFrame) -> tuple[int, int, int]:
    """One aggregate over every output column: (rows, xor, sum) of the
    xxhash64 of each row. A bare ``count()`` would let Catalyst prune
    computed columns; hashing all of them forces their compute without
    collecting rows. The sum makes repeated rows count (xor cancels pairs).
    """
    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]
    h = F.xxhash64(F.struct(*cols))
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.bit_xor(h).alias("x"),
                 F.sum(h.cast("decimal(38,0)")).alias("s")).collect()[0]
    return int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)


def duckdb_lake(lake_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{lake_dir}/{t}.parquet')")
    return con


def lake_fingerprint(lake_dir: str) -> str:
    h = hashlib.sha256()
    for t in LAKE_TABLES:
        with open(os.path.join(lake_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def answers(lake_dir: str, queries: dict[str, str], shipped_dir: str,
            cache_dir: str) -> dict[str, str]:
    """Path of the oracle answer (Parquet) of each ``{name: oracle_sql}`` on
    the lake.

    Each answer is keyed by the lake's bytes and the SQL text. Some oracles
    run for minutes in DuckDB (MinHash replays), so answers for the
    benchmark's fixed lake ship in ``shipped_dir`` and any other key is
    computed once into ``cache_dir``. A changed oracle SQL or
    lake changes the key, so a stale answer is never used.
    """
    fp = lake_fingerprint(lake_dir)
    keys_path = os.path.join(shipped_dir, "keys.json")
    shipped = {}
    if os.path.exists(keys_path):
        with open(keys_path, encoding="utf-8") as f:
            shipped = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb_lake(lake_dir)
    out = {}
    for name, sql in queries.items():
        key = answer_key(fp, sql)
        path = os.path.join(shipped_dir, f"{name}.parquet")
        if shipped.get(name) != key:
            path = os.path.join(cache_dir, f"{name}-{key}.parquet")
            if not os.path.exists(path):
                con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
                os.rename(f"{path}.tmp", path)
        out[name] = path
    return out


def answer_hash(spark, path: str, schema) -> tuple[int, int, int] | None:
    """:func:`hash_action` of the answer at ``path`` with the columns and
    types of ``schema``; None when the column names differ."""
    answer = spark.read.parquet("file://" + os.path.abspath(path))
    if sorted(answer.columns) != sorted(f.name for f in schema.fields):
        return None
    return hash_action(answer.select(
        [F.col(f.name).cast(f.dataType) for f in schema.fields]))


def read_answer(path: str) -> pd.DataFrame:
    return duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{path}')").fetchdf()


def answer_key(fingerprint: str, sql: str) -> str:
    return hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()[:24]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _is_null(x) -> bool:
    return x is None or x is pd.NaT or (isinstance(x, float) and math.isnan(x))


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` exactly, else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for col in a.columns:
        for i, (x, y) in enumerate(zip(a[col].tolist(), b[col].tolist())):
            if _is_null(x) and _is_null(y):
                continue
            if x != y:
                return f"{col}[{i}]: {x!r} != {y!r}"
    return None
