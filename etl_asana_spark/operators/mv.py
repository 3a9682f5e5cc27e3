"""Incremental materialized-view maintenance (re-aggregatable partial state).

The 100 TB problem: a daily "revenue by status and month" rollup over an
append-only fact table must NOT rescan history on every refresh. The classic
warehouse answer is a materialized aggregate kept as *re-aggregatable partial
state*: per group, a row count plus exact fixed-point unit sums
(``DECIMAL(38,0)``, see ``functions.parity``). Such state is a commutative
monoid — merging any partition of the fact table, in any order, yields
bit-identical finals to a full recompute:

    finalize(merge(state(day_1), ..., state(day_n))) == finalize(state(all))

So a refresh touches only the NEW partition: build state over the delta,
merge with the snapshot (a groupBy-sum over ``|groups| + |delta groups|``
rows — tiny), finalize on read. AVG is derived (unit_sum / count) rather
than stored, because averages do not merge; MIN/MAX merge natively.

Reference parity: the reconstructed reference (SURVEY.md §0) re-extracts
incrementally via ``modified_since`` and re-derives reports from the full
store each run; this operator is the Spark-native version where the *report
itself* is maintained incrementally. No reference file citations are
possible (empty snapshot, SURVEY.md §0).

Scale notes:
- state build is a partial+final hash aggregate over the delta only;
- merge shuffles only group rows, never fact rows;
- everything is JVM-side codegen (decimal sum; no UDF);
- exactness: decimal accumulation is associative, so snapshot/delta split
  points do not change a single output bit (property-tested).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import _ACC, _SCALE, sql_units_wide

__all__ = ["build_state", "merge_state", "finalize_state"]


def _cnt(measure: str) -> str:
    return f"{measure}_cnt"


def _sum(measure: str) -> str:
    return f"{measure}_units"


def build_state(
    df: DataFrame, keys: Sequence[str], measures: dict[str, str]
) -> DataFrame:
    """Aggregate ``df`` into mergeable partial state; each measure is SQL
    text (a column name or an expression).

    Output schema: keys + ``n_rows`` + per measure ``<m>_units``
    (DECIMAL(38,0) fixed-point sum) and ``<m>_cnt`` (non-null count).
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for name, expr in measures.items():
        aggs.append(F.expr(f"SUM({sql_units_wide(expr)})").alias(_sum(name)))
        aggs.append(F.expr(f"COUNT({expr})").alias(_cnt(name)))
    return df.groupBy(*keys).agg(*aggs)


def merge_state(*states: DataFrame) -> DataFrame:
    """Merge any number of partial states (associative + commutative)."""
    if not states:
        raise ValueError("merge_state needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    keys = [
        c
        for c, t in merged.dtypes
        if c != "n_rows" and not c.endswith("_units") and not c.endswith("_cnt")
    ]
    aggs = [
        F.sum(c).cast("bigint" if c == "n_rows" or c.endswith("_cnt") else _ACC).alias(c)
        for c, _ in merged.dtypes
        if c not in keys
    ]
    return merged.groupBy(*keys).agg(*aggs)


def finalize_state(state: DataFrame, measures: Sequence[str]) -> DataFrame:
    """Materialize the user-facing view: counts + double sums + derived avgs."""
    cols: list[Column] = [
        F.col(c)
        for c, _ in state.dtypes
        if c != "n_rows" and not c.endswith("_units") and not c.endswith("_cnt")
    ]
    cols.append(F.col("n_rows"))
    for m in measures:
        total = F.col(_sum(m)).cast("double") / F.lit(_SCALE)
        cols.append(total.alias(f"sum_{m}"))
        cols.append((total / F.col(_cnt(m))).cast("double").alias(f"avg_{m}"))
    return state.select(*cols)
