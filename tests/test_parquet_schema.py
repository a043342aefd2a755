"""``read_parquet`` hands Spark the footer's schema, so a read launches
no schema-inference job.

The gate is schema parity: wherever the footer path is taken
(``_footer_schema`` returns a schema), reading with that schema must
give exactly ``spark.read.parquet(path).schema`` in this vanilla
session; everywhere else the fallback must be taken.  Job counts are
pinned per step with ``bench.count_jobs`` (a job group per step).
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from automated_batch_data_pipeline_nyc_spark.plans.pipeline import run_reference_pipeline
from automated_batch_data_pipeline_nyc_spark.sources import txlog
from automated_batch_data_pipeline_nyc_spark.sources.readers import _footer_schema, read_parquet
from automated_batch_data_pipeline_nyc_spark.sources.writers import compact_parquet, manifest_for_dir
from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

from .conftest import SF_SMOKE

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import count_jobs  # noqa: E402

FIXTURES = sorted(
    glob.glob(f"{SF_SMOKE}/*.parquet")
    + glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf0.01", "*.parquet"))
)


def _fixture_id(path: str) -> str:
    return f"{os.path.basename(os.path.dirname(path))}/{os.path.basename(path)}"


def _parity(spark, path: str) -> bool:
    """True when the footer path is taken; then its schema must be
    Spark's inferred one.  False when the read falls back."""
    schema, nanos = _footer_schema(spark, path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        return False
    assert spark.read.schema(schema).parquet(path).schema == spark.read.parquet(path).schema
    return True


@pytest.mark.parametrize("path", FIXTURES, ids=_fixture_id)
def test_fixture_tables_take_the_footer_schema(spark, path):
    assert _parity(spark, path)


#: One pyarrow column per case, and whether the footer path maps it.
ARROW_COLUMNS = {
    "timestamp_ns": (pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")), True),
    "timestamp_us_utc": (pa.array([1], pa.timestamp("us", tz="UTC")), True),
    "timestamp_ms": (pa.array([1], pa.timestamp("ms")), True),
    "uint32": (pa.array([1], pa.uint32()), False),
    "int8": (pa.array([1], pa.int8()), True),
    "int16": (pa.array([1], pa.int16()), True),
    "date64": (pa.array([datetime.date(2020, 1, 1)], pa.date64()), True),
    "dictionary_string": (pa.array(["a"]).dictionary_encode(), True),
    "large_string": (pa.array(["a"], pa.large_string()), True),
    "list_float": (pa.array([[1.0]], pa.list_(pa.float32())), True),
    "struct": (pa.array([{"a": 1}], pa.struct([("a", pa.int64())])), False),
    "fixed_size_binary": (pa.array([b"ab"], pa.binary(2)), True),
    "binary": (pa.array([b"ab"], pa.binary()), True),
    "decimal": (pa.array([decimal.Decimal("1.23")], pa.decimal128(5, 2)), False),
}

CONFS = {
    "default": {},
    "binaryAsString": {"spark.sql.parquet.binaryAsString": "true"},
    "no_inferTimestampNTZ": {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
}


@pytest.fixture(scope="module")
def arrow_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("arrow_types")
    for name, (arr, _) in ARROW_COLUMNS.items():
        pq.write_table(pa.table({"id": [1], name: arr}), str(root / f"{name}.parquet"))
    return root


@pytest.mark.parametrize("conf", CONFS, ids=list(CONFS))
@pytest.mark.parametrize("column", ARROW_COLUMNS)
def test_pyarrow_types_match_inference_or_fall_back(spark, arrow_dir, column, conf):
    try:
        for k, v in CONFS[conf].items():
            spark.conf.set(k, v)
        assert _parity(spark, str(arrow_dir / f"{column}.parquet")) == ARROW_COLUMNS[column][1]
    finally:
        for k in CONFS[conf]:
            spark.conf.unset(k)


def test_time_column_falls_back(spark, tmp_path):
    # Spark's own inference rejects TIME, so only the fallback is checked
    path = str(tmp_path / "time.parquet")
    pq.write_table(pa.table({"t": pa.array([1], pa.time64("us"))}), path)
    assert _footer_schema(spark, path) == (None, [])


@pytest.fixture(scope="module")
def spark_every_type(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("spark_types") / "t")
    spark.range(5).selectExpr(
        "cast(id % 2 as boolean) AS b", "cast(id as byte) AS y", "cast(id as short) AS s",
        "cast(id as int) AS i", "id AS l", "cast(id as float) AS f", "cast(id as double) AS d",
        "cast(id as decimal(10,2)) AS dec", "cast(id as decimal(30,3)) AS dec_wide",
        "cast(id as string) AS str", "cast(cast(id as string) as binary) AS bin",
        "date'2020-01-01' + cast(id as int) AS dt",
        # Spark 4.1 writes TimestampType as INT96, which pyarrow reports as timestamp[ns]
        "timestamp'2024-01-02 03:04:05.123456' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts_ltz",
        "timestamp_ntz'2024-01-02 03:04:05.123456' AS ts_ntz",
        "array(id, id + 1) AS arr", "map('k', id) AS m",
        "named_struct('a', id, 'b', cast(id as string)) AS st",
        "interval 1 day AS day_time", "interval 1 month AS year_month",
    ).write.parquet(out)
    return out


def test_spark_written_table_takes_the_footer_schema(spark, spark_every_type):
    footer = pq.ParquetFile(glob.glob(f"{spark_every_type}/*.parquet")[0]).schema
    assert {footer.column(i).path: footer.column(i).physical_type for i in range(len(footer))}["ts_ltz"] == "INT96"
    assert _parity(spark, spark_every_type)


def test_spark_timestamps_round_trip_through_read_parquet(spark, spark_every_type):
    back = read_parquet(spark, spark_every_type)
    assert back.schema == spark.read.parquet(spark_every_type).schema
    assert dict(back.dtypes)["ts_ltz"] == "timestamp"
    got = sorted(r.ts_ltz for r in back.select("ts_ltz").collect())
    want = sorted(r.ts_ltz for r in spark.read.parquet(spark_every_type).select("ts_ltz").collect())
    assert got == want and len(got) == 5


def test_hive_partitioned_directory_falls_back(spark, tmp_path):
    out = str(tmp_path / "hive")
    spark.range(10).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(out)
    assert _footer_schema(spark, out) == (None, [])
    assert read_parquet(spark, out).schema == spark.read.parquet(out).schema


def test_merge_schema_directory_falls_back(spark, tmp_path):
    # with mergeSchema on, Spark merges every footer: the first cannot stand for them
    out = tmp_path / "merge"
    out.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(out / "part-0.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), str(out / "part-1.parquet"))
    assert _footer_schema(spark, str(out))[0] is not None
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _footer_schema(spark, str(out)) == (None, [])
        assert read_parquet(spark, str(out)).columns == ["a", "b"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_nanos_timestamps_truncate_to_micros(spark, tmp_path):
    path = str(tmp_path / "ns.parquet")
    # 2023-11-14 22:13:20.123456789: the last three digits are sub-microsecond
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))}), path)
    df = read_parquet(spark, path)
    assert dict(df.dtypes)["ts"] == "timestamp"
    (row,) = df.select(F.unix_micros("ts").alias("us")).collect()
    assert row.us == 1_700_000_000_123_456


def test_reads_and_builds_run_no_job(spark):
    for name in sorted(glob.glob(f"{SF_SMOKE}/*.parquet")):
        _, jobs = count_jobs(spark, lambda: read_parquet(spark, name))
        assert jobs == 0, name
    for q in ("pricing_summary", "sql_revenue_by_nation", "shipping_priority_topk"):
        _, jobs = count_jobs(spark, lambda: QUERIES[q].spark(spark, SF_SMOKE))
        assert jobs == 0, q


def test_reference_pipeline_job_count(spark, tmp_path):
    # clean's checkpoint write (2 jobs: its dedup shuffle, then the
    # write), expect_nonempty's take (1) and expect_no_nulls' aggregate
    # (2); re-reading the checkpoint runs none
    events = read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    res, jobs = count_jobs(
        spark, lambda: run_reference_pipeline(spark, events, checkpoint_dir=str(tmp_path / "ck"))
    )
    assert res["clean"].schema == spark.read.parquet(str(tmp_path / "ck" / "clean")).schema
    assert jobs == 5


def _ids(spark, lo, hi):
    return spark.range(lo, hi, numPartitions=2).selectExpr("id", "cast(id as string) AS s")


def test_txlog_reads_take_the_first_live_footer(spark, tmp_path):
    """A version reads with its logged schema, in 0 jobs; an append that
    would widen the table fails at commit, and an overwrite may change
    the schema.  A log entry without a schema (written before the
    schema was logged) reads the first live footer."""
    appended, widened, overwritten, legacy = (
        str(tmp_path / n) for n in ("appended", "widened", "overwritten", "legacy")
    )
    txlog.commit(_ids(spark, 0, 6), appended)
    txlog.commit(_ids(spark, 6, 9), appended)
    txlog.commit(_ids(spark, 0, 6), widened)
    with pytest.raises(ValueError, match="append schema"):
        txlog.commit(_ids(spark, 6, 9).selectExpr("id", "s", "id * 2 AS d"), widened)
    assert txlog.current_version(widened) == 0
    assert len(os.listdir(os.path.join(widened, "data"))) == 1
    txlog.commit(_ids(spark, 0, 6), overwritten)
    txlog.commit(_ids(spark, 6, 9).selectExpr("s", "id * 2 AS d"), overwritten, mode="overwrite")
    txlog.commit(_ids(spark, 0, 6), legacy)
    txlog.commit(_ids(spark, 6, 9), legacy)
    for version in (0, 1):
        entry = os.path.join(legacy, "_txlog", f"{version:010d}.json")
        with open(entry) as fh:
            logged = json.load(fh)
        assert logged.pop("schema")
        with open(entry, "w") as fh:
            json.dump(logged, fh)
    for table, versions in ((appended, (0, 1)), (widened, (0,)), (overwritten, (0, 1)), (legacy, (0, 1))):
        for version in versions:
            files = txlog._live_files(txlog._read_log(table, version))
            df, jobs = count_jobs(spark, lambda: txlog.read_table(spark, table, version))
            assert jobs == 0, (table, version)
            assert df.schema == spark.read.parquet(*[os.path.join(table, f) for f in files]).schema
    assert txlog.read_table(spark, overwritten).columns == ["s", "d"]


def test_txlog_append_rejects_a_changed_schema(spark, tmp_path):
    """Appending (id, s) and then (id, s, d) fails on every fresh table,
    so a version can never read with the added column on one run and
    without it on the next; an append that differs only in nullability
    is the same schema."""
    for i in range(4):
        t = str(tmp_path / f"t{i}")
        txlog.commit(_ids(spark, 0, 6), t)
        with pytest.raises(ValueError, match="append schema"):
            txlog.commit(_ids(spark, 6, 9).selectExpr("id", "s", "id * 2 AS d"), t)
        assert txlog.read_table(spark, t).columns == ["id", "s"]
    nullable = _ids(spark, 6, 9).selectExpr("IF(id > 100, NULL, id) AS id", "s")
    assert not _ids(spark, 0, 1).schema["id"].nullable and nullable.schema["id"].nullable
    assert txlog.commit(nullable, t) == 1
    assert txlog.read_table(spark, t).count() == 9


def test_compaction_and_manifest_read_the_flat_footer(spark, tmp_path):
    flat = str(tmp_path / "flat")
    _ids(spark, 0, 40).repartition(4).write.parquet(flat)
    schema = spark.read.parquet(flat).schema
    df, jobs = count_jobs(spark, lambda: manifest_for_dir(spark, flat))
    assert jobs == 0 and df.count() == 4
    # the coalesced rewrite is the one job left
    n_files, jobs = count_jobs(spark, lambda: compact_parquet(spark, flat))
    assert (n_files, jobs) == (1, 1)
    assert spark.read.parquet(flat).schema == schema


def test_hive_partitioned_manifest_falls_back(spark, tmp_path):
    hive = str(tmp_path / "hive")
    _ids(spark, 0, 10).selectExpr("id", "s", "id % 2 AS k").write.partitionBy("k").parquet(hive)
    assert _footer_schema(spark, hive) == (None, [])
    df, jobs = count_jobs(spark, lambda: manifest_for_dir(spark, hive))
    assert jobs == 1  # Spark's own inference, as before
    assert sum(r.n_rows for r in df.collect()) == 10
