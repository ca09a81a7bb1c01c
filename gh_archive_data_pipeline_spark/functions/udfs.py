"""UDF surface (SURVEY.md §2.12) — the extension mechanisms the engine
exposes where built-ins genuinely end. The reference defines no UDFs (Deequ's
JVM jar was its only extension); here each flavor is demonstrated on a real
operator, with the rule of the house stated on each: built-ins first, Arrow
pandas_udf when Python is unavoidable, row-at-a-time udf never in hot paths.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def gini_impurity(counts: pd.Series) -> float:
    """GROUPED_AGG pandas UDF: Gini impurity of a category-count column —
    a genuine UDAF (no built-in equivalent) computed per group on Arrow
    batches. Used over small grouped inputs (post-aggregation), never raw
    fact rows."""
    total = counts.sum()
    if total == 0:
        return 0.0
    p = counts / total
    return float(1.0 - (p * p).sum())


@F.udtf(returnType="pos int, ngram string")
class WordNGrams:
    """Python UDTF (table function): explode a text column into positioned
    word n-grams. A UDTF earns its Python cost only when one input row maps
    to a VARIABLE number of typed output rows with per-row logic built-ins
    can't express; for plain n-grams the built-in HOF pipeline (see
    operators/dedup.shingles) is the production path — this class is the
    U5 surface demonstration, oracle-checked against that same semantics."""

    def eval(self, text: str, n: int):  # noqa: D102
        toks = [t for t in (text or "").split(" ") if t]
        for i in range(len(toks) - n + 1):
            yield i, " ".join(toks[i:i + n])


def register_sql_udtfs(spark: SparkSession) -> None:
    """Expose table functions to SQL (LATERAL word_ngrams(text, 2))."""
    spark.udtf.register("word_ngrams", WordNGrams)


def zscore_normalize_group(pdf):
    """applyInPandas kernel: per-group z-score normalization (sample std).
    Vectorized over the whole group's pandas frame — one Arrow exchange per
    group, no per-row Python."""
    mean = pdf["value"].mean()
    std = pdf["value"].std(ddof=1)
    out = pdf[["event_id", "event_type"]].copy()
    out["z"] = ((pdf["value"] - mean) / std).round(4)
    return out


def pav_isotonic(pdf):
    """applyInPandas kernel: weighted pool-adjacent-violators (PAV) isotonic
    regression over one group's (score, w, y) bins, ascending in score.
    O(n) stack merge — each bin is pushed once and every merge removes one
    stack entry. The group is a BOUNDED per-score residue (<= a few dozen
    bins), never the raw fact table, so a single group is not a scale
    hazard. The DuckDB oracle recomputes the identical function via the
    minimax characterization iso[i] = max_{j<=i} min_{k>=i} wmean(j..k)."""
    pdf = pdf.sort_values("score", ignore_index=True)
    stack: list[list[float]] = []  # [w_sum, wy_sum]
    sizes: list[int] = []
    for w, y in zip(pdf["w"], pdf["y"]):
        stack.append([float(w), float(w) * float(y)])
        sizes.append(1)
        while len(stack) >= 2 and (stack[-2][1] / stack[-2][0]
                                   > stack[-1][1] / stack[-1][0]):
            w2, wy2 = stack.pop()
            n2 = sizes.pop()
            stack[-1][0] += w2
            stack[-1][1] += wy2
            sizes[-1] += n2
    iso: list[float] = []
    for (w_sum, wy_sum), n in zip(stack, sizes):
        iso.extend([wy_sum / w_sum] * n)
    out = pdf[["score"]].copy()
    out["n_users"] = pdf["w"].astype("int64")
    out["raw_rate"] = pdf["y"].round(6)
    out["iso_rate"] = pd.Series(iso).round(6)
    return out
