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

Schema handling: ``read_parquet`` opens the footer on the driver and
hands Spark the schema Spark would infer from it, so the read runs no
inference job.  Timestamps arrive in two shapes.  (a)
``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — the current driver
fixtures — reads natively as TIMESTAMP_NTZ; downstream epoch arithmetic
goes through ``operators.util.epoch_micros`` so it stays correct in any
session timezone.  (b) INT64 ``TIMESTAMP(NANOS)``, which Spark's reader
rejects outright: ``read_parquet`` detects it in the footer, sets the
runtime conf ``spark.sql.legacy.parquet.nanosAsLong=true`` so the
column surfaces as LongType ns-since-epoch, and converts back to a
timestamp with *integer* division (``div 1000``) — floating-point
division would lose precision above 2^53 ns — matching DuckDB's own
ns -> us truncation, so oracle comparisons line up exactly.  INT96
(Spark's own ``TimestampType`` encoding, which pyarrow also reports as
``timestamp[ns]``) is not nanos and reads as ``TimestampType``.
"""

from __future__ import annotations

import glob as _glob
import json
import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


#: Spark's type for each flat (physical, logical) pair of a Parquet leaf,
#: as Spark's own footer converter maps it.  A pair outside the table
#: (unsigned ints, decimals, INT96, TIME, ENUM/JSON/UUID, ...) sends the
#: read to Spark's inference.  Two entries move with a session conf (see
#: ``_leaf_type``); ``TIMESTAMP(NANOS)`` is the LongType that
#: ``nanosAsLong`` surfaces.
_FLAT_TYPES = {
    ("BOOLEAN", "NONE"): T.BooleanType(),
    ("INT32", "NONE"): T.IntegerType(),
    ("INT32", "INT(8)"): T.ByteType(),
    ("INT32", "INT(16)"): T.ShortType(),
    ("INT32", "INT(32)"): T.IntegerType(),
    ("INT32", "DATE"): T.DateType(),
    ("INT64", "NONE"): T.LongType(),
    ("INT64", "INT(64)"): T.LongType(),
    ("INT64", "TIMESTAMP(MILLIS,UTC)"): T.TimestampType(),
    ("INT64", "TIMESTAMP(MICROS,UTC)"): T.TimestampType(),
    ("INT64", "TIMESTAMP(MILLIS)"): T.TimestampNTZType(),
    ("INT64", "TIMESTAMP(MICROS)"): T.TimestampNTZType(),
    ("INT64", "TIMESTAMP(NANOS)"): T.LongType(),
    ("INT64", "TIMESTAMP(NANOS,UTC)"): T.LongType(),
    ("FLOAT", "NONE"): T.FloatType(),
    ("DOUBLE", "NONE"): T.DoubleType(),
    ("BYTE_ARRAY", "NONE"): T.BinaryType(),
    ("BYTE_ARRAY", "STRING"): T.StringType(),
    ("FIXED_LEN_BYTE_ARRAY", "NONE"): T.BinaryType(),
}

#: Footer key under which Spark stores the schema of the files it writes.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_UNITS = {"milliseconds": "MILLIS", "microseconds": "MICROS", "nanoseconds": "NANOS"}


def _logical(col) -> str:
    """The logical-type half of a leaf's ``_FLAT_TYPES`` key."""
    lt = json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if kind == "None" and col.converted_type != "NONE":
        return f"CONVERTED({col.converted_type})"
    if kind == "Int":
        return f"INT({lt['bitWidth']})" if lt["isSigned"] else "UINT"
    if kind == "Timestamp":
        utc = ",UTC" if lt["isAdjustedToUTC"] else ""
        return f"TIMESTAMP({_UNITS.get(lt['timeUnit'], '?')}{utc})"
    return kind.upper()


def _is_nanos(col) -> bool:
    return col.physical_type == "INT64" and _logical(col).startswith("TIMESTAMP(NANOS")


def _leaf_type(col, ntz: bool, binary_as_string: bool):
    """Spark's type for one flat Parquet leaf, or None if unmapped."""
    key = (col.physical_type, _logical(col))
    typ = _FLAT_TYPES.get(key)
    if isinstance(typ, T.TimestampNTZType) and not ntz:
        return T.TimestampType()
    if key == ("BYTE_ARRAY", "NONE") and binary_as_string:
        return T.StringType()
    return typ


def _first_footer(path: str) -> str | None:
    """The file whose footer stands for *path*: the path itself, or the
    first sorted top-level ``*.parquet`` of a flat directory.  None
    where Spark would read more than one footer's worth of schema: a
    directory with subdirectories (hive partitions), summary files, or
    no top-level ``*.parquet``."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    names = sorted(os.listdir(path))
    for n in names:
        hidden = n.startswith((".", "_")) and "=" not in n
        if n in ("_metadata", "_common_metadata") or (
            not hidden and os.path.isdir(os.path.join(path, n))
        ):
            return None
    parts = [n for n in names if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return os.path.join(path, parts[0]) if parts else None


def _footer_schema(spark: SparkSession, path: str) -> tuple[T.StructType | None, list[str]]:
    """``(schema, nanos_cols)`` from *path*'s footer: the schema Spark's
    inference would give (None where this footer cannot stand for it),
    and the top-level INT64 ``TIMESTAMP(NANOS)`` columns to repair.

    One driver-side footer read: it never touches row groups.
    """
    footer = _first_footer(path)
    try:
        meta = pq.read_metadata(footer) if footer else None
    except Exception:
        meta = None
    if meta is None:
        return None, []
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    as_string = spark.conf.get("spark.sql.parquet.binaryAsString") == "true"
    leaves = {c.path: c for c in map(meta.schema.column, range(len(meta.schema)))}
    arrow = meta.schema.to_arrow_schema()
    fields: list[tuple[str, T.DataType | None]] = []
    nanos: list[str] = []
    for name, atype in zip(arrow.names, arrow.types):
        typ = None
        # a dotted name's leaf path could not tell it from a nested field
        dotted = "." in name
        col = None if dotted else leaves.get(name)
        elem = None if dotted else leaves.get(f"{name}.list.element")
        if col is not None and col.max_repetition_level == 0:
            if _is_nanos(col):
                nanos.append(name)
            typ = _leaf_type(col, ntz, as_string)
        elif (
            (pa.types.is_list(atype) or pa.types.is_large_list(atype))
            and elem is not None
            and elem.max_repetition_level == 1
            and not _is_nanos(elem)
        ):
            # the standard 3-level LIST of one flat element
            elem_type = _leaf_type(elem, ntz, as_string)
            typ = elem_type and T.ArrayType(elem_type)
        fields.append((name, typ))
    if footer != path and spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None, nanos
    if spark_json is not None:
        # exactly what Spark's readSchemaFromFooter uses for its own files
        try:
            return T.StructType.fromJson(json.loads(spark_json)), nanos
        except Exception:
            return None, nanos
    if not fields or any(t is None for _, t in fields):
        return None, nanos
    return T.StructType([T.StructField(n, t) for n, t in fields]), nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2: Parquet scan with no schema-inference job and transparent
    ns-timestamp repair.

    The footer (see ``_first_footer``) is read once on the driver; where
    it maps fully onto Spark types, its schema goes to
    ``spark.read.schema`` and Spark launches no job to infer it.  Other
    inputs (unmapped types, hive-partitioned directories, footers
    pyarrow cannot open) take plain ``spark.read.parquet``; both paths
    give the same schema.

    Works in *any* caller's session: when the footer has INT64
    TIMESTAMP(NANOS) columns we set the runtime-settable SQL conf
    ``spark.sql.legacy.parquet.nanosAsLong`` before the read, so the
    scan surfaces them as ns-since-epoch longs instead of throwing
    PARQUET_TYPE_ILLEGAL, and then repair them to proper timestamps.

    The conf is session-global and is left set: every later parquet
    read in the same session, by any caller, also surfaces
    TIMESTAMP(NANOS) columns as longs.
    """
    schema, nanos_cols = _footer_schema(spark, path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in nanos_cols:
        if c in df.columns:
            # integer ns -> us, then to timestamp; `div` is integral so
            # the full 64-bit value survives.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _read_as_written(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with no schema-inference job and
    no nanos repair, for files read back as they were written.

    The schema comes from the footer Spark's own inference reads: that
    of the first path in sorted order (``ParquetUtils.splitFiles`` sorts
    the leaf files).  The plain read stays wherever that footer cannot
    stand for the inference: ``_footer_schema`` returns no schema, a
    column is ``TIMESTAMP(NANOS)``, or several paths are read under
    ``spark.sql.parquet.mergeSchema``.
    """
    schema, nanos = _footer_schema(spark, min(paths))
    merged = len(paths) > 1 and spark.conf.get("spark.sql.parquet.mergeSchema") == "true"
    reader = spark.read if schema is None or nanos or merged else spark.read.schema(schema)
    return reader.parquet(*paths)


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
