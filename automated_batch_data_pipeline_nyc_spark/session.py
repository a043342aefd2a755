"""SparkSession factory with deterministic, scale-aware defaults.

The reference runs a 2-worker standalone cluster with hand-tuned 1g
driver/executor memory (reference: docker-compose.yaml:97-135,
dags/test_spark_dag.py:28-32).  Here the session is the *engine*: one
factory, AQE on, UTC, Arrow on, deterministic shuffle-partition count.

Scale notes (100 TB / 1000-executor design intent):
- ``spark.sql.adaptive.enabled``: runtime coalescing of shuffle
  partitions + skew-join splitting means the same code runs at sf0.001
  and at 100 TB without re-tuning static partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under
  AQE; we default it to max(2 x cores, 32) locally and expect a cluster
  deployment to raise it (or rely on AQE coalescing from a high value).
- ``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default so
  a 100 TB scan fans out to ~800k input splits, the scheduler's sweet
  spot, rather than a few huge partitions.
- Parquet filter pushdown / column pruning are on by default; we never
  disable them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session"]

_DEFAULTS = {
    # Determinism / oracle parity
    "spark.sql.session.timeZone": "UTC",
    # INT64 TIMESTAMP(NANOS) parquet (none of the current fixtures) reads
    # as a long (ns since epoch) under this flag; sources.readers sets it
    # itself when a footer has such a column and converts to a proper
    # timestamp via integer division (matches DuckDB truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # joins at runtime — the main knob that keeps one codebase correct
    # from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Don't let tiny local runs explode into 200 partitions; AQE grows
    # or shrinks this at runtime anyway.
    "spark.sql.shuffle.partitions": "32",
    # Keep the UI off in harness runs (cheaper, no port contention).
    "spark.ui.enabled": "false",
    # Quiet the ivy/log noise in CI-ish runs.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def get_session(app_name: str = "automated_batch_data_pipeline_nyc_spark", **overrides: str) -> SparkSession:
    """Build (or reuse) the engine session.

    ``SPARK_GRAFT_CPUS`` selects local parallelism (default ``*``).
    ``overrides`` win over engine defaults; an already-running session
    is reused with runtime-settable confs applied.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers resolve imports from PYTHONPATH (driver sys.path
    # does NOT propagate); make the engine importable on workers even
    # when the consumer launched from elsewhere.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    # Local mode: driver is the only JVM, so give it headroom unless the
    # caller (e.g. an existing cluster deployment) says otherwise.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

