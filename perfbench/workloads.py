"""The benchmark workloads: one pass of each, and its output check.

A workload is built once per run from its generated inputs.  ``run``
executes one pass against a live session, wrapping every call into the
engine's public API in a tracer span named after the engine module;
``check`` verifies that pass's outputs outside the timed region and
returns ``(ok, message)``.  Expected values come from DuckDB over the
same input files, computed once in ``__init__`` (never timed).
"""

from __future__ import annotations

import os
import shutil

import duckdb

from automated_batch_data_pipeline_nyc_spark.plans.pipeline import run_reference_pipeline
from automated_batch_data_pipeline_nyc_spark.sources.readers import read_parquet
from automated_batch_data_pipeline_nyc_spark.sources.writers import write_parquet

TRIP_COLS = "event_id, ts, user_id, event_type, value, props"


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


class EtlMonth:
    """The reference DAG over one trip month: read -> clean (checkpointed)
    -> quality gates -> enrich -> model, then the month-partitioned trip
    write and the model table write."""

    fact = "events"
    spans = ("readers.read_parquet", "pipeline.run_reference_pipeline", "writers.write_parquet")

    def __init__(self, inputs: str, out: str):
        self.src = os.path.join(inputs, "events.parquet")
        self.out = out
        with duckdb.connect() as con:
            self.rows = con.execute(f"SELECT count(*) FROM read_parquet('{self.src}/*.parquet')").fetchone()[0]
            con.execute(f"CREATE VIEW clean AS SELECT DISTINCT * FROM read_parquet('{self.src}/*.parquet') WHERE "
                        + " AND ".join(f"{c} IS NOT NULL" for c in TRIP_COLS.split(", ")))
            self.expected_model = _rows(con, """
                SELECT CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
                            WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
                            ELSE 'Other' END AS time_bucket,
                       event_type, count(*) AS n_events,
                       CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
                FROM clean GROUP BY ALL""")
            self.expected_trips = con.execute(
                f"SELECT count(*), sum(hash({TRIP_COLS})) FROM clean").fetchone()

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self, spark, tracer):
        sc = spark.sparkContext
        with tracer.span("readers.read_parquet", sc):
            events = read_parquet(spark, self.src)
        with tracer.span("pipeline.run_reference_pipeline", sc):
            res = run_reference_pipeline(spark, events, checkpoint_dir=os.path.join(self.out, "checkpoints"))
        with tracer.span("writers.write_parquet", sc, "trips"):
            write_parquet(res["enrich"], os.path.join(self.out, "trips"), partition_by=["event_month"])
        with tracer.span("writers.write_parquet", sc, "model"):
            write_parquet(res["model"], os.path.join(self.out, "model"))

    def check(self, _result) -> tuple[bool, str]:
        with duckdb.connect() as con:
            model = _rows(con, f"SELECT time_bucket, event_type, n_events, total_value "
                               f"FROM read_parquet('{self.out}/model/*.parquet')")
            trips = con.execute(
                f"SELECT count(*), sum(hash({TRIP_COLS})), count(*) FILTER (WHERE event_month <> month(ts)) "
                f"FROM read_parquet('{self.out}/trips/*/*.parquet', hive_partitioning = true)").fetchone()
        if model != self.expected_model:
            return False, "model table differs from the DuckDB restatement"
        if trips[:2] != self.expected_trips or trips[2]:
            return False, f"trip rows {trips} != distinct non-null input {self.expected_trips}"
        return True, ""


class StarQueries:
    """Three registered suite queries over the star schema — a
    scan-aggregate (TPC-H Q1), a five-way SQL join (Q5) and a filtered
    three-way join with a top-k (Q3) — each built then collected, and
    checked against its registered DuckDB oracle.  Nothing is written."""

    fact = "lineitem"
    spans = ("suite.build", "suite.action")
    queries = ("pricing_summary", "sql_revenue_by_nation", "shipping_priority_topk")

    def __init__(self, inputs: str, out: str):
        from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

        self.inputs = inputs
        self.suite = QUERIES
        self.expected = {}
        with duckdb.connect() as con:
            for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
                path = os.path.join(inputs, f"{name}.parquet")
                glob = f"{path}/*.parquet" if os.path.isdir(path) else path
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
            self.rows = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
            for q in self.queries:
                cur = con.execute(self.suite[q].oracle)
                self.expected[q] = self._canon([d[0] for d in cur.description], cur.fetchall())

    @staticmethod
    def _canon(cols: list[str], rows: list) -> list[tuple]:
        order = sorted(range(len(cols)), key=cols.__getitem__)
        return sorted((tuple((cols[i], r[i]) for i in order) for r in rows), key=repr)

    def clear(self) -> None:
        pass

    def run(self, spark, tracer):
        sc = spark.sparkContext
        out = {}
        for q in self.queries:
            with tracer.span("suite.build", sc, q):
                df = self.suite[q].spark(spark, self.inputs)
            with tracer.span("suite.action", sc, q):
                out[q] = (df.columns, df.collect())
        return out

    def check(self, result) -> tuple[bool, str]:
        for q, (cols, rows) in result.items():
            if self._canon(cols, [tuple(r) for r in rows]) != self.expected[q]:
                return False, f"{q} differs from its registered oracle"
        return True, ""


WORKLOADS = {"etl_month": EtlMonth, "star_queries": StarQueries}
