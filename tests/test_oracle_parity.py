"""Differential tests: every oracle-backed suite query vs DuckDB.

This mirrors the driver's CORRECTNESS gate (t2) locally at the smoke
scale factor so parity breaks are caught before a round submission.
Float columns must match bit-for-bit (the suite's decimal-sum recipe);
any drift > 1e-9 relative fails.  Each case records the seconds of its
Spark collect and of its DuckDB oracle as the ``spark_s`` and
``oracle_s`` properties (``pytest --junitxml`` carries them).
"""

from __future__ import annotations

import pytest

from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

from .oracle_harness import compare

ORACLE_NAMES = [n for n, q in QUERIES.items() if q.oracle is not None]
ROWS_ONLY_NAMES = [n for n, q in QUERIES.items() if q.oracle is None]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, sf_dir, name, record_property):
    q = QUERIES[name]
    result = compare(name, q.spark(spark, sf_dir), q.oracle, sf_dir)
    record_property("spark_s", round(result.spark_s, 3))
    record_property("oracle_s", round(result.oracle_s, 3))
    assert result.ok, f"{name}: {result.mismatches} (drift={result.float_drift})"
    if result.float_drift:
        # visible early-warning: exactness regressed but within epsilon
        print(f"WARNING {name}: float drift {result.float_drift}")


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name].spark(spark, sf_dir)
    assert df.columns  # stable schema
    assert df.count() >= 0
