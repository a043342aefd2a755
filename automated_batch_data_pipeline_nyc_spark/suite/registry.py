"""The query registry and the helpers every family shares.

``@_q(name, oracle, doc)`` registers a Spark builder in ``QUERIES``;
``_load``/``_t`` read fixture tables; ``_sum_money``/``_avg_money`` and
their SQL twins ``SQL_SUM``/``SQL_AVG`` are the exact-decimal money
aggregates (see the package docstring).  Family modules import from
here, never from the package ``__init__``, so no family reads a
half-initialized package.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import read_parquet


# exact-decimal casts (see the package docstring)
D2 = "decimal(12,2)"          # money / 2-dp values


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [read_parquet(spark, _t(sf_dir, n)) for n in names]


def _sum_money(col: F.Column, alias: str) -> F.Column:
    return F.sum(col.cast(D2)).cast("double").alias(alias)


def _avg_money(col: F.Column, alias: str) -> F.Column:
    return (F.sum(col.cast(D2)).cast("double") / F.count(F.lit(1))).alias(alias)


#: SQL fragments mirroring the helpers above.
SQL_SUM = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE)"
SQL_AVG = "CAST(SUM(CAST({col} AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)"


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # None => non-SQL-expressible (rows-only check)
    doc: str = ""


QUERIES: dict[str, Query] = {}


def _q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = Query(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco
