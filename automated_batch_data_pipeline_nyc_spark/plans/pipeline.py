"""Pipeline runner: the engine-side replacement for Airflow's task
graph (SURVEY.md §2.10 O1/O2/O5, §3.1).

The reference's diamond DAG (download >> spark_clean >> [load_pg,
bq_spark]; load_pg >> quality >> transform >> bq_pg —
dags/nyc_taxi_pipeline_dag.py:275-278) becomes plain function
composition over DataFrames in one driver, with:

- Parquet *checkpoints* at the old storage boundaries (each former
  engine handoff = one materialization, so failures resume from the
  last good stage instead of recomputing lineage),
- per-stage *retries* with delay (Airflow ``retries``/``retry_delay``
  parity; Spark task-level retries still apply underneath via
  ``spark.task.maxFailures``),
- quality gates as first-class stages that halt downstream work by
  raising (Airflow failed-task semantics).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    checkpoint: bool = False
    retries: int = 0
    retry_delay_s: float = 1.0


@dataclass
class Pipeline:
    """Linear-ized stage graph (topological order supplied by caller —
    the reference's DAG is small enough that explicit ordering is the
    clearer contract)."""

    stages: list[Stage] = field(default_factory=list)
    checkpoint_dir: str | None = None

    def stage(self, name: str, checkpoint: bool = False, retries: int = 0):
        def deco(fn):
            self.stages.append(Stage(name, fn, checkpoint, retries))
            return fn

        return deco

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        results: dict[str, DataFrame] = {}
        for st in self.stages:
            attempt = 0
            while True:
                try:
                    df = st.fn(spark, results)
                    break
                except Exception:
                    attempt += 1
                    if attempt > st.retries:
                        raise
                    time.sleep(st.retry_delay_s)
            if st.checkpoint and df is not None and self.checkpoint_dir:
                path = os.path.join(self.checkpoint_dir, st.name)
                df.write.mode("overwrite").parquet(path)
                # the schema just written: Spark runs no inference job
                df = spark.read.schema(df.schema).parquet(path)
            results[st.name] = df
        return results


def run_reference_pipeline(spark: SparkSession, events: DataFrame, checkpoint_dir: str | None = None) -> dict[str, DataFrame]:
    """The reference's end-to-end DAG re-expressed on the fixture
    ``events`` table: clean -> quality gates -> time-bucket enrichment
    -> warehouse-style aggregate.  Mirrors
    dags/nyc_taxi_pipeline_dag.py stages 1:1 (SURVEY.md §3.1)."""
    from pyspark.sql import functions as F

    from ..functions import time_bucket
    from ..operators.cleaning import clean_pipeline
    from ..operators.quality import expect_no_nulls, expect_nonempty

    pipe = Pipeline(checkpoint_dir=checkpoint_dir)

    @pipe.stage("clean", checkpoint=checkpoint_dir is not None)
    def _clean(spark, res):
        return clean_pipeline(events, ts_col="ts", month_col="event_month")

    @pipe.stage("quality")
    def _quality(spark, res):
        df = res["clean"]
        expect_nonempty(df, "events_clean")
        expect_no_nulls(df, ["event_id", "ts"], "events_clean")
        return df

    @pipe.stage("enrich")
    def _enrich(spark, res):
        return res["quality"].withColumn("time_bucket", time_bucket("ts"))

    @pipe.stage("model")
    def _model(spark, res):
        return (
            res["enrich"]
            .groupBy("time_bucket", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2).cast("double").alias("total_value"),
            )
        )

    return pipe.run(spark)
