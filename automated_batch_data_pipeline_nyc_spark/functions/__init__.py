"""Scalar expression library (SURVEY.md §2.3).

Every function returns a Column built purely from JVM-side built-ins —
no Python UDFs — so all of these stay inside whole-stage codegen and
cost nothing extra at 100 TB.

Reference parity:
- F1 time_bucket CASE   (dags/nyc_taxi_pipeline_dag.py:256-260)
- F2 EXTRACT(HOUR)      (dags/nyc_taxi_pipeline_dag.py:257-258)
- F3 month()            (spark-apps/clean_nyc_taxi_pipeline.py:2,13)
- F4 coerce-to-datetime (dags/nyc_taxi_pipeline_dag.py:91-92)

F5 strftime and F6 strip/trim need no helper: Spark's built-in
``date_format`` and ``trim`` are the whole expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "time_bucket",
    "month_of_year",
    "to_timestamp_coerce",
]

#: F1 bucket labels, verbatim from the reference UPDATE ... CASE.
MORNING_RUSH = "Morning Rush"
EVENING_RUSH = "Evening Rush"
OTHER_BUCKET = "Other"


def time_bucket(ts: Column | str) -> Column:
    """F1+F2: hour-of-day -> {'Morning Rush','Evening Rush','Other'}.

    Mirrors the Postgres ``UPDATE .. SET time_bucket = CASE WHEN
    EXTRACT(HOUR ..) BETWEEN 7 AND 9 .. BETWEEN 17 AND 19 ..`` exactly
    (dags/nyc_taxi_pipeline_dag.py:253-262), expressed immutably.
    NULL timestamps fall through to 'Other' only if they match neither
    branch — like SQL CASE, a NULL hour yields the ELSE value.
    """
    h = F.hour(ts)
    return (
        F.when(h.between(7, 9), F.lit(MORNING_RUSH))
        .when(h.between(17, 19), F.lit(EVENING_RUSH))
        .otherwise(F.lit(OTHER_BUCKET))
    )


def month_of_year(ts: Column | str) -> Column:
    """F3 — the reference's one derived column, ``pickup_month``."""
    return F.month(ts)


def to_timestamp_coerce(s: Column | str, fmt: str | None = None) -> Column:
    """F4: parse with NULL on failure — Spark's ``try_to_timestamp``
    matches pandas ``to_datetime(errors='coerce')`` semantics."""
    if fmt is None:
        return F.try_to_timestamp(F.col(s) if isinstance(s, str) else s)
    return F.try_to_timestamp(F.col(s) if isinstance(s, str) else s, F.lit(fmt))
