"""Relational surface (SURVEY.md §2.2 projections/filters, §2.4
aggregations, §2.7 sorts/limits/set-ops).

These are deliberately thin, declarative wrappers: each returns a new
DataFrame built from Catalyst-native operators, so predicate pushdown,
column pruning, partial aggregation and whole-stage codegen all apply
with zero custom code (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "project",
    "rename_columns",
    "drop_columns",
    "with_constant",
    "filter_rows",
    "grouped_agg",
    "top_k",
    "ordered_limit",
    "union_all",
    "intersect",
    "except_all",
]


def project(df: DataFrame, *cols: Column | str) -> DataFrame:
    """P10: projection; column pruning reaches the parquet scan."""
    return df.select(*cols) if cols else df.select("*")


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P7: pandas ``df.rename`` equivalent."""
    return df.withColumnsRenamed(dict(mapping))


def drop_columns(df: DataFrame, *cols: str) -> DataFrame:
    """P8: ``chunk.drop(columns=['id'])`` equivalent."""
    return df.drop(*cols)


def with_constant(df: DataFrame, name: str, value) -> DataFrame:
    """P11: stamp a constant column (injected value, not
    ``current_date()``, for determinism — SURVEY.md §2.2)."""
    return df.withColumn(name, F.lit(value))


def filter_rows(df: DataFrame, predicate: Column | str) -> DataFrame:
    """P4/P5/P6/P9: all predicate shapes; Catalyst pushes conjunctive
    parts into the scan."""
    return df.filter(predicate)


def grouped_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """§2.4: hash aggregation with automatic partial+final phases.
    Map-side combine means the shuffle carries one row per (partition,
    key), not per input row — the property that keeps this viable at
    100 TB with high-cardinality keys."""
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """§2.7 top-k: Spark turns orderBy+limit into TakeOrderedAndProject
    — each partition keeps only k rows, so no global sort materializes.
    Callers should include a unique tie-break column for determinism."""
    return df.orderBy(*order).limit(k)


def ordered_limit(df: DataFrame, n: int, *order: Column) -> DataFrame:
    return df.orderBy(*order).limit(n)


def union_all(*dfs: DataFrame) -> DataFrame:
    """§2.7: UNION ALL by column *name* (order-safe)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame, distinct: bool = False) -> DataFrame:
    return a.exceptAll(b) if not distinct else a.subtract(b)
