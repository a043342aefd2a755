"""Readers: every source the reference touches, Spark-first.

Reference operators covered (SURVEY.md §2.1):
- S2 Parquet scan            (spark-apps/clean_nyc_taxi_pipeline.py:7)
- S3 chunked CSV scan        (dags/nyc_taxi_pipeline_dag.py:70-80) — Spark's
  partitioned read subsumes pandas ``chunksize=100000``.
- S4 CSV glob scan           (dags/nyc_taxi_pipeline_dag.py:16,66-68)
- S5 JDBC/SQL extract        (dags/nyc_taxi_pipeline_dag.py:144-146)
- S6 local-collection source (spark-apps/test_spark.py:9-10)
- S1/S15 HTTP/shell ingest   (dags/nyc_taxi_pipeline_dag.py:18-24) — driver
  fetch helper; at scale a URL manifest + foreachPartition fetch.

Timestamp-encoding handling: parquet timestamps arrive in two shapes.
(a) ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — the current driver
fixtures — reads natively as TIMESTAMP_NTZ; downstream epoch arithmetic
goes through ``operators.util.epoch_micros`` so it stays correct in any
session timezone.  (b) ``TIMESTAMP(NANOS)``, which Spark's reader
rejects outright: ``read_parquet`` detects it in the footer, sets the
runtime conf ``spark.sql.legacy.parquet.nanosAsLong=true`` so the
column surfaces as LongType ns-since-epoch, and converts back to a
timestamp with *integer* division (``div 1000``) — floating-point
division would lose precision above 2^53 ns — matching DuckDB's own
ns -> us truncation, so oracle comparisons line up exactly.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "TABLE_NAMES",
    "read_parquet",
    "read_csv",
    "read_csv_glob",
    "read_json",
    "read_orc",
    "read_sql_table",
    "from_rows",
    "load_tables",
    "fetch_url",
    "fetch_url_manifest",
]

#: Driver-provided fixture tables (TESTDATA.md).
TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) in *path*'s footer.

    One driver-side footer read (cheap at any scale — it never touches
    row groups).  Directory datasets: inspect the first footer found.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is a baked-in dep
        return []
    candidate = path
    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        candidate = parts[0]
    try:
        schema = pq.read_schema(candidate)
    except Exception:
        return []
    import pyarrow as pa

    return [
        name
        for name, typ in zip(schema.names, schema.types)
        if isinstance(typ, pa.TimestampType) and typ.unit == "ns"
    ]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2: Parquet scan with transparent ns-timestamp repair.

    Works in *any* caller's session: when the footer advertises
    TIMESTAMP(NANOS) columns we set the runtime-settable SQL conf
    ``spark.sql.legacy.parquet.nanosAsLong`` before the read, so the
    scan surfaces them as ns-since-epoch longs instead of throwing
    PARQUET_TYPE_ILLEGAL, and then repair them to proper timestamps.

    The conf is session-global and is left set: every later parquet
    read in the same session, by any caller, also surfaces
    TIMESTAMP(NANOS) columns as longs.
    """
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        if c in df.columns:
            # integer ns -> us, then to timestamp; `div` is integral so
            # the full 64-bit value survives.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """S3/S12: CSV scan. Partitioned read replaces pandas chunking.

    With an explicit ``schema`` Spark skips the inference pass (one full
    extra scan at 100 TB); always pass one for production paths.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan.

    An explicit ``schema`` is non-optional at scale: without one Spark
    runs a full inference pass over every file before the real scan
    (2x the 100 TB read), and inferred types drift run-to-run with the
    data.  Inference is still allowed here for exploration.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning contract as parquet
    (predicate pushdown, column pruning, row-group skipping via ORC
    stripe statistics)."""
    return spark.read.orc(path)


def read_csv_glob(spark: SparkSession, pattern: str, **kwargs) -> DataFrame:
    """S4: glob CSV read; empty glob fails loudly like the reference's
    ``FileNotFoundError`` (dags/nyc_taxi_pipeline_dag.py:67-68)."""
    if not _glob.glob(pattern):
        raise FileNotFoundError(f"no files match {pattern!r}")
    return read_csv(spark, pattern, **kwargs)


def read_sql_table(
    spark: SparkSession,
    table: str,
    predicate: str | None = None,
    jdbc_url: str | None = None,
    **jdbc_options: str,
) -> DataFrame:
    """S5: SQL extract. Internal tables resolve via the catalog (temp
    views / saved tables); pass ``jdbc_url`` for an external database —
    predicates are pushed down to the remote engine either way."""
    if jdbc_url is not None:
        reader = spark.read.format("jdbc").option("url", jdbc_url).option("dbtable", table)
        for k, v in jdbc_options.items():
            reader = reader.option(k, v)
        df = reader.load()
    else:
        df = spark.table(table)
    if predicate:
        df = df.filter(predicate)
    return df


def from_rows(
    spark: SparkSession,
    rows: Iterable[tuple],
    columns: Sequence[str],
    schema=None,
) -> DataFrame:
    """S6: local-collection source (spark-apps/test_spark.py:9-10)."""
    if schema is not None:
        return spark.createDataFrame(list(rows), schema=schema)
    return spark.createDataFrame(list(rows), list(columns))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: Sequence[str] = TABLE_NAMES,
) -> dict[str, DataFrame]:
    """Load the fixture star schema from *sf_dir* and register each
    table as a temp view for the ``spark.sql`` entry point (SURVEY.md
    §3.3)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_parquet(spark, path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def fetch_url_manifest(
    manifest: DataFrame,
    url_col: str = "url",
    dest_col: str = "dest",
    timeout: int = 60,
) -> DataFrame:
    """S1/S15 at scale: distributed ingest of a URL *manifest*.

    The manifest (url, dest) DataFrame fans out across executors; each
    partition fetches its rows sequentially (per-task parallelism comes
    from partition count — ``manifest.repartition(n)`` to widen).
    Returns (url, dest, ok, size_bytes, error) — a *result* DataFrame,
    so quality gates can assert on failures before any downstream read.
    The kernel is closure-pure (stdlib only) and works for any
    urllib-supported scheme (http/https/file), which is also what makes
    it testable offline with file:// URLs.
    """
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("dest", T.StringType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ])

    def kernel(batches):
        import os as _os
        import urllib.request

        import pandas as _pd

        for pdf in batches:
            out = []
            for url, dest in zip(pdf[url_col], pdf[dest_col]):
                try:
                    _os.makedirs(_os.path.dirname(dest) or ".", exist_ok=True)
                    size = 0
                    with urllib.request.urlopen(url, timeout=timeout) as resp, open(
                        dest, "wb"
                    ) as fh:
                        while chunk := resp.read(1 << 20):
                            fh.write(chunk)
                            size += len(chunk)
                    out.append((url, dest, True, size, None))
                except Exception as exc:  # record, don't kill the task
                    out.append((url, dest, False, None, repr(exc)))
            yield _pd.DataFrame(out, columns=["url", "dest", "ok", "size_bytes", "error"])

    return manifest.select(
        F.col(url_col).alias(url_col), F.col(dest_col).alias(dest_col)
    ).mapInPandas(kernel, schema)


def fetch_url(url: str, dest_path: str, timeout: int = 60) -> str:
    """S1/S15: driver-side HTTP ingest (reference downloads one parquet
    file per run).  At 100 TB the pattern is a URL *manifest* read as a
    DataFrame with the fetch distributed via foreachPartition; a single
    driver GET is kept for reference parity on one-file ingests."""
    import urllib.request

    os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
    with urllib.request.urlopen(url, timeout=timeout) as resp, open(dest_path, "wb") as fh:
        while chunk := resp.read(1 << 20):
            fh.write(chunk)
    return dest_path
