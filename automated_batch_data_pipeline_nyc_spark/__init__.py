"""automated_batch_data_pipeline_nyc_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of the reference batch pipeline
(yashwanth08/automated-batch-data-pipeline-nyc), rebuilt Spark-first.

Layout:
- ``session``    SparkSession factory (deterministic, AQE-on defaults)
- ``sources``    readers/writers for every reference source/sink (S1-S15)
- ``functions``  scalar expression library (F1-F6)
- ``operators``  cleaning, relational, joins, windows, quality gates,
                 and the LLM-pipeline family: dedup / similarity /
                 text / multimodal
- ``plans``      pipeline runner (Airflow-DAG replacement)
- ``streaming``  Structured Streaming jobs (incremental loads)
"""

from .session import get_session

__all__ = ["get_session"]
__version__ = "0.1.0"
