"""Sinks: partitioned Parquet is the primary path; CSV only at export
boundaries (the reference's lossy CSV hop between Spark and Postgres —
spark-apps/clean_nyc_taxi_pipeline.py:19 -> dags/nyc_taxi_pipeline_dag.py:70-92
— is deliberately eliminated).

Reference operators covered (SURVEY.md §2.1):
- S7  single-file CSV sink  (spark-apps/clean_nyc_taxi_pipeline.py:19)
- S8  plain CSV sink        (spark-apps/test_spark.py:16)
- S9  partitioned Parquet   (spark-apps/clean_nyc_taxi_pipeline.py:16, README.md:116-119)
- S10/S11/S14 append/replace table sinks (dags/nyc_taxi_pipeline_dag.py:99)
- S13 CSV export            (dags/nyc_taxi_pipeline_dag.py:149-150)
"""

from __future__ import annotations

import math
import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .readers import _read_as_written

__all__ = [
    "write_parquet",
    "write_csv",
    "write_json",
    "write_orc",
    "export_csv_single_file",
    "write_table",
    "write_table_bucketed",
    "compact_parquet",
    "quarantine_write",
    "manifest_for_dir",
]


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S9: the engine's primary sink.  ``partition_by`` on a
    low-cardinality derived column (e.g. pickup_month) gives automatic
    partition pruning on re-read — the Spark-native replacement for the
    reference's Postgres BTREE indexes (dags/nyc_taxi_pipeline_dag.py:56-58).

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (session
    default) ``mode='overwrite'`` only rewrites the partitions present
    in *df* — the incremental monthly load README.md:220-222 claims.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """S8/S13: parallel CSV write (one part per partition)."""
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines write (one part per partition).  Interchange format —
    ~5-10x parquet's bytes and no pushdown on re-read; use for hand-off
    to non-columnar consumers, never as the pipeline's storage layer."""
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """ORC write — parquet-equivalent columnar sink for ORC-standard
    warehouses (Hive/Trino estates)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.orc(path)


def export_csv_single_file(
    df: DataFrame,
    path: str,
    order_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S7: the reference's ``coalesce(1)`` CSV funnel, plus a canonical
    sort so the exported file is deterministic (the reference's output
    order is shuffle-dependent — SURVEY.md §4 'deterministic export').

    Scale note: coalesce(1) serializes the final write through one task
    by design; this is an *export* path for small results, never the
    inter-stage format.
    """
    if order_by:
        df = df.orderBy(*order_by)
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_table_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (+ optionally sorted) table sink — the co-located-join
    layout: two tables bucketed on the same key with the same bucket
    count join WITHOUT a shuffle exchange (and without even a sort when
    ``sort_cols`` matches the join key).  This is the Spark-native
    replacement for the reference's Postgres BTREE indexes on join/scan
    keys (dags/nyc_taxi_pipeline_dag.py:56-58) for *repeated* large
    joins — pay one clustered write, skip every future exchange.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_table(df: DataFrame, name: str, mode: str = "append") -> None:
    """S10 (append) / S11 (overwrite) / M2 (ignore = CREATE IF NOT
    EXISTS) table sinks — the catalog replaces Postgres/SQLite/BigQuery.
    External-DB parity would be ``df.write.jdbc(url, table, mode=mode)``
    with ``batchsize`` standing in for pandas ``method='multi'`` — that
    JDBC variant is UNTESTED here (no driver jar in this environment;
    see README "Known limitations")."""
    df.write.mode(mode).saveAsTable(name)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    min_files: int = 1,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ~``target_file_mb`` files.  Returns the output file count.

    Streaming sinks and incremental loads accrete thousands of tiny
    files per directory; at 100 TB the resulting scan-planning and
    task-startup overhead (one task per file below
    ``maxPartitionBytes``) dominates real work, and object-store
    listings slow every query.  Periodic compaction is the standard
    counter-measure (what table formats run as 'OPTIMIZE').

    Sizing is driver-side file listing only (no data read); the rewrite
    is one coalesce-shaped job.  ``coalesce`` (not ``repartition``)
    avoids a shuffle: partitions are merged, never split.  The rewrite
    goes through a staging directory then an atomic-ish rename, so a
    failed compaction never destroys the input.
    """
    size_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                size_bytes += os.path.getsize(os.path.join(root, f))
    n_files = max(min_files, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    staging = path.rstrip("/") + "__compacting"
    _read_as_written(spark, path).coalesce(n_files).write.mode("overwrite").parquet(staging)
    backup = path.rstrip("/") + "__precompact"
    shutil.move(path, backup)
    shutil.move(staging, path)
    shutil.rmtree(backup)
    return n_files


def quarantine_write(
    df: DataFrame,
    path: str,
    valid_col: str = "_valid",
    mode: str = "overwrite",
) -> None:
    """Route accepted and rejected rows to side-by-side sinks in ONE pass.

    The data-contract pattern: stamp a boolean ``valid_col`` from the
    contract predicates, then ``partitionBy`` that flag — a single scan
    writes ``{path}/_valid=true`` (the downstream-consumable set) and
    ``{path}/_valid=false`` (the quarantine for triage/replay).  The
    naive form — two filtered writes — scans the corpus twice; at 100 TB
    this trick halves the job.  Re-readers prune to the valid partition
    for free.
    """
    write_parquet(df, path, partition_by=[valid_col], mode=mode)


def manifest_for_dir(spark, path: str) -> DataFrame:
    """Per-file manifest of a parquet dir: (file, n_rows) plus totals.

    The data-versioning artifact a warehouse sink publishes with each
    load: exact per-file row counts let a consumer detect partial/
    corrupt loads without rescanning (compare manifests, not data).
    Row counts come from ONE distributed pass grouped by
    ``input_file_name`` — parquet scans count from footer metadata, so
    this reads no row data.  File paths are relativized so the manifest
    is location-independent (comparable across replicas/copies).
    """
    df = _read_as_written(spark, path)
    base = os.path.abspath(path).rstrip("/")
    # input_file_name() yields a URL-ENCODED URI (file:///...): strip the
    # scheme, percent-decode (protecting literal '+', which url_decode
    # would otherwise turn into a space — URI paths don't use '+' for
    # spaces), THEN strip the raw-filesystem base.  Without the decode,
    # bases/partition values containing spaces, '%' or non-ASCII never
    # match the escaped base and the manifest silently stays absolute.
    stripped = F.regexp_replace("_f", "^[a-z][a-z0-9+.-]*://", "")
    decoded = F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))
    return (
        df.groupBy(F.input_file_name().alias("_f"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.regexp_replace(
                decoded, "^/*" + re.escape(base.lstrip("/")) + "/", ""
            ).alias("file"),
            "n_rows",
        )
    )
