"""Relational queries: the reference cleaning pipeline, projections,
filters and scalar functions, aggregations, joins (equi, range, as-of,
fuzzy, semi/anti, Bloom-prefiltered, salted), sorts and limits, set
operations, window functions, quality gates and integrity audits, schema
contracts, imputation and Z-order layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import time_bucket, to_timestamp_coerce
from ..operators import joins as J
from ..operators import quality as Q
from ..operators import relational as R
from ..operators import skew as sk
from ..operators import windows as W
from ..operators.cleaning import clean_pipeline, enforce_schema, impute_group_mean
from ..operators.layout import morton_code
from ..operators.windows import merge_intervals
from .registry import D2, SQL_AVG, SQL_SUM, _avg_money, _load, _q, _sum_money


@_q(
    "clean_pipeline",
    """
    SELECT t.*, CAST(month(t.ts) AS BIGINT) AS event_month
    FROM (
      SELECT DISTINCT * FROM events
      WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
    ) t
    """,
    doc="reference spark-apps/clean_nyc_taxi_pipeline.py:7-13: dropna -> dropDuplicates -> derived month",
)
def _clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _load(spark, sf_dir, "events")
    out = clean_pipeline(events, ts_col="ts", month_col="event_month")
    return out.withColumn("event_month", F.col("event_month").cast("long"))


@_q(
    "filter_equality",
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
    doc="P4 equality predicate (dags/nyc_taxi_pipeline_dag.py:145)",
)
def _filter_eq(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return R.filter_rows(events, F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )


@_q(
    "filter_null_disjunction",
    """
    SELECT event_id, event_type FROM (
      SELECT event_id, event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    WHERE value IS NULL OR props IS NULL
    """,
    doc="P5 disjunctive null predicate (dags/nyc_taxi_pipeline_dag.py:195-198); "
        "the fixtures are null-free, so every 17th value / 29th props is "
        "anonymized first — the predicate provably selects rows",
)
def _filter_null(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return dirty.filter(F.col("value").isNull() | F.col("props").isNull()).select(
        "event_id", "event_type"
    )


@_q(
    "filter_hour_range",
    """
    SELECT event_id, user_id, CAST(hour(ts) AS BIGINT) AS event_hour
    FROM events WHERE hour(ts) BETWEEN 7 AND 9
    """,
    doc="P6/F2 EXTRACT(HOUR) range predicate (dags/nyc_taxi_pipeline_dag.py:257-258)",
)
def _filter_range(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.filter(F.hour("ts").between(7, 9)).select(
        "event_id", "user_id", F.hour("ts").cast("long").alias("event_hour")
    )


@_q(
    "projection_rename_drop",
    """
    SELECT c_custkey AS customer_id, c_name AS customer_name, c_mktsegment
    FROM customer
    """,
    doc="P7 rename + P8 drop + P10 projection (dags/nyc_taxi_pipeline_dag.py:84,87-88)",
)
def _project(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    out = R.rename_columns(customer, {"c_custkey": "customer_id", "c_name": "customer_name"})
    out = R.drop_columns(out, "c_acctbal", "c_nationkey")
    return R.project(out, "customer_id", "customer_name", "c_mktsegment")


@_q(
    "constant_column_stamp",
    "SELECT n_nationkey, n_name, '2025-08-29' AS load_date FROM nation",
    doc="P11 constant stamp column (elt_dag transform_data)",
)
def _const(spark, sf_dir):
    (nation,) = _load(spark, sf_dir, "nation")
    return R.with_constant(nation.select("n_nationkey", "n_name"), "load_date", "2025-08-29")


@_q(
    "string_filter_generic",
    "SELECT doc_id, lang, source FROM documents WHERE lang = 'en'",
    doc="P9 string-equality filter (elt_dag transform_data Type=='generic')",
)
def _str_filter(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select("doc_id", "lang", "source")


@_q(
    "time_bucket_enrich",
    """
    SELECT event_id, ts,
      CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
           WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
           ELSE 'Other' END AS time_bucket
    FROM events
    """,
    doc="M1/F1/F2 ALTER+UPDATE CASE rewrite (dags/nyc_taxi_pipeline_dag.py:250-262)",
)
def _bucket(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.select("event_id", "ts", time_bucket("ts").alias("time_bucket"))


@_q(
    "datetime_parts",
    """
    SELECT o_orderkey,
      CAST(year(o_orderdate) AS BIGINT) AS order_year,
      CAST(month(o_orderdate) AS BIGINT) AS order_month,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
    FROM orders
    """,
    doc="F3 month/year + F5 strftime (spark-apps/clean_nyc_taxi_pipeline.py:2,13)",
)
def _parts(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


@_q(
    "datetime_coerce",
    """
    SELECT o_orderkey, raw_ts, try_cast(raw_ts AS TIMESTAMP) AS parsed_ts
    FROM (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0
             THEN concat('bad-', strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'))
             ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS raw_ts
      FROM orders
    )
    """,
    doc="F4 coercing datetime parse: garbage -> NULL, like pandas "
        "to_datetime(errors='coerce') (dags/nyc_taxi_pipeline_dag.py:91-92)",
)
def _coerce(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    fmt = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    raw = F.when(F.col("o_orderkey") % 7 == 0, F.concat(F.lit("bad-"), fmt)).otherwise(fmt)
    return orders.select(
        "o_orderkey",
        raw.alias("raw_ts"),
        to_timestamp_coerce(raw).alias("parsed_ts"),
    )


@_q(
    "string_trim",
    """
    SELECT c_custkey, trim(concat('  ', c_name, '  ')) AS trimmed_name,
           upper(c_mktsegment) AS segment_upper
    FROM customer
    """,
    doc="F6 trim (dags/nyc_taxi_pipeline_dag.py:84)",
)
def _trim(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed_name"),
        F.upper("c_mktsegment").alias("segment_upper"),
    )


@_q(
    "json_extract_props",
    """
    SELECT event_id, json_extract_string(props, '$.k') AS prop_k
    FROM events
    """,
    doc="semi-structured props payload (events fixture; MapType/JSON mapping SURVEY §1.4)",
)
def _json(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").alias("prop_k")
    )


@_q(
    "row_count",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem",
    doc="A1 COUNT(*) quality gate (dags/nyc_taxi_pipeline_dag.py:188-192)",
)
def _count(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


@_q(
    "filtered_count",
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_finished FROM orders WHERE o_orderstatus = 'F'",
    doc="A2 filtered COUNT (dags/nyc_taxi_pipeline_dag.py:195-201)",
)
def _fcount(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus") == "F").agg(F.count(F.lit(1)).alias("n_finished"))


@_q(
    "null_matrix",
    """
    SELECT
      CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
      CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
      CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
      CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
      CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
      CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
    FROM (
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    """,
    doc="A3 null-count matrix in one pass (dags/nyc_taxi_pipeline_dag.py:95-96); "
        "fixtures are null-free, so user_id/value/props are anonymized on a "
        "23/17/29 cadence first — three columns provably count nonzero while "
        "the untouched columns prove the zero path",
)
def _nulls(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 23 != 0, F.col("user_id")).alias("user_id"),
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return Q.null_matrix(dirty)


@_q(
    "group_agg_stats",
    f"""
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o_totalprice')} AS total_price,
      {SQL_AVG.format(col='o_totalprice')} AS avg_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="§2.4 grouped agg (implied by README.md:198 'average fare by time buckets')",
)
def _group(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return R.grouped_agg(
        orders,
        ["o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "total_price"),
            _avg_money(F.col("o_totalprice"), "avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        ],
    )


@_q(
    "time_bucket_rollup",
    f"""
    SELECT
      CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
           WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
           ELSE 'Other' END AS time_bucket,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value,
      {SQL_AVG.format(col='value')} AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="the reference's README analytics goal: volume + averages by time bucket (README.md:198)",
)
def _rollup(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.withColumn("time_bucket", time_bucket("ts"))
        .groupBy("time_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
            _avg_money(F.col("value"), "avg_value"),
        )
    )


@_q(
    "distinct_count",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem
    """,
    doc="§2.4 distinct cardinality",
)
def _dcount(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@_q(
    "join_broadcast_dims",
    f"""
    SELECT r_name, n_name,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      {SQL_SUM.format(col='c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="the latent zone-lookup enrichment (README.md:3) as a broadcast join chain",
)
def _bjoin(spark, sf_dir):
    customer, nation, region = _load(spark, sf_dir, "customer", "nation", "region")
    dims = J.broadcast_enrich(
        J.broadcast_enrich(customer, nation, F.col("c_nationkey") == F.col("n_nationkey"), "inner"),
        region,
        F.col("n_regionkey") == F.col("r_regionkey"),
        "inner",
    )
    return dims.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _sum_money(F.col("c_acctbal"), "total_acctbal"),
    )


@_q(
    "join_left_enrich",
    """
    SELECT o_orderkey, o_totalprice, c.c_name
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    """,
    doc="§2.6 left outer join with unmatched rows",
)
def _ljoin(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING")
    return J.equi_join(
        orders, building, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select("o_orderkey", "o_totalprice", "c_name")


@_q(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="§2.6 left-semi (EXISTS)",
)
def _sjoin(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return J.semi_join(
        customer, orders, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@_q(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="§2.6 left-anti (NOT EXISTS) — the 'facts lacking a dimension row' gate",
)
def _ajoin(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    return J.anti_join(
        customer, orders, F.col("c_custkey") == F.col("o_custkey")
    ).select("c_custkey", "c_name")


@_q(
    "join_range_buckets",
    """
    SELECT b.bucket_label,
      CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 25.0, 'mid'), (25.0, 1e9, 'high'))
         AS b(lo, hi, bucket_label)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.bucket_label
    """,
    doc="§2.6 theta/range join against a broadcast bucket table (BNLJ)",
)
def _rjoin(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 25.0, "mid"), (25.0, 1e9, "high")],
        ["lo", "hi", "bucket_label"],
    )
    joined = J.range_join(
        li, buckets, (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi"))
    )
    return joined.groupBy("bucket_label").agg(F.count(F.lit(1)).alias("n_items"))


@_q(
    "top_k_customers",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
    """,
    doc="§2.7 top-k as TakeOrderedAndProject (no global sort)",
)
def _topk(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return R.top_k(
        customer.select("c_custkey", "c_name", "c_acctbal"),
        10,
        F.col("c_acctbal").desc(),
        F.col("c_custkey").asc(),
    )


@_q(
    "ordered_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    doc="§2.7 ORDER BY + LIMIT",
)
def _olimit(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return R.ordered_limit(
        orders.select("o_orderkey", "o_totalprice"),
        20,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey").asc(),
    )


@_q(
    "set_union",
    """
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
    doc="§2.7 UNION ALL",
)
def _union(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey", "c_mktsegment")
    return R.union_all(a, b)


@_q(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="§2.7 INTERSECT (distinct)",
)
def _intersect(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return R.intersect(a, b)


@_q(
    "set_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
    doc="§2.7 EXCEPT (distinct)",
)
def _except(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    # except_all(distinct=True) is Spark's subtract — already distinct;
    # no second .distinct() (one exchange, not two).
    return R.except_all(
        customer.select("c_custkey"),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        distinct=True,
    )


@_q(
    "window_topk_per_group",
    """
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
    doc="§2.7 ranked window + per-group top-k (WindowGroupLimit pushdown)",
)
def _wtopk(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    out = W.ranked(
        customer.select("c_nationkey", "c_custkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        out_col="rn",
    )
    return out.filter(F.col("rn") <= 3).withColumn("rn", F.col("rn").cast("long"))


@_q(
    "window_lag_delta",
    """
    SELECT event_id, user_id, value,
      value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_delta
    FROM events
    """,
    doc="§2.7 lag/lead — per-user delta series",
)
def _wlag(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    out = W.with_lag(events, "value", ["user_id"], [F.col("ts"), F.col("event_id")], out_col="__prev")
    return out.select(
        "event_id", "user_id", "value", (F.col("value") - F.col("__prev")).alias("value_delta")
    )


@_q(
    "window_moving_avg",
    """
    SELECT event_id, user_id,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS value_mavg3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="§2.7 sliding average (exact decimal numerator for cross-engine parity)",
)
def _wmavg(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return events.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast(D2)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("value_mavg3"),
    )


@_q(
    "window_running_sum",
    """
    SELECT event_id, user_id,
      CAST(SUM(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_running
    FROM events
    """,
    doc="§2.7 running total",
)
def _wrun(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(D2)).over(w).cast("double").alias("value_running"),
    )


@_q(
    "hourly_event_counts",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="tumbling-window agg, batch form of streaming/jobs.windowed_event_counts",
)
def _hourly(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
    )


@_q(
    "merge_user_intervals",
    """
    WITH s AS (
      SELECT user_id, ts AS st, ts + INTERVAL 30 MINUTE AS en
      FROM events WHERE ts IS NOT NULL),
    m AS (
      SELECT user_id, st, en,
        MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM s),
    i AS (
      SELECT user_id, st, en,
        SUM(CASE WHEN pme IS NULL OR st > pme THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY st, en
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM m)
    SELECT user_id, MIN(st) AS merged_start, MAX(en) AS merged_end,
      CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM i GROUP BY user_id, island
    """,
    doc="gaps-and-islands interval union: each event opens a 30-minute "
        "activity interval, overlapping/touching intervals per user dissolve "
        "into coverage spans via the cummax island trick — ONE shuffle + "
        "partition-local sort, no self-join (the naive interval merge is "
        "quadratic per key); dual of interval_overlap_pairs",
)
def _merge_iv(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    iv = events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.col("ts").alias("st"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("en"),
    )
    return merge_intervals(iv, "user_id", "st", "en").select(
        "user_id", "merged_start", "merged_end", "n_merged"
    )


@_q(
    "fk_integrity_audit",
    """
    SELECT 'lineitem->orders' AS relationship,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
      CAST((SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
      CAST((SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
    doc="referential-integrity audit across the star schema: orphan counts "
        "per FK relationship via LEFT ANTI joins — each is one shuffle (or a "
        "broadcast when the parent is a dim), the warehouse data-contract "
        "check the reference's Airflow quality gates never had",
)
def _fk_audit(spark, sf_dir):
    li, orders, cust, nation = _load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    checks = [
        ("lineitem->orders",
         li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        ("orders->customer",
         orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        ("customer->nation",
         cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left_anti")),
    ]
    parts = [
        orphans.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        for name, orphans in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_q(
    "pivot_event_matrix",
    """
    SELECT user_id,
      CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
      CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
      CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
      CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
      CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    doc="pivot with explicit value list (engine: df.pivot; oracle: conditional agg)",
)
def _pivot(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = events.groupBy("user_id").pivot("event_type", kinds).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@_q(
    "rollup_order_stats",
    f"""
    SELECT o_orderpriority, o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o_totalprice')} AS total_price
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="grouping-set hierarchy (subtotals + grand total)",
)
def _grollup(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "quality_gate_report",
    """
    SELECT 'row_count_gt_0' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS observed,
           COUNT(*) > 0 AS passed
    FROM events
    UNION ALL
    SELECT 'null_keys_eq_0' AS check_name,
           CAST(SUM(CASE WHEN event_id IS NULL OR ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS observed,
           SUM(CASE WHEN event_id IS NULL OR ts IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM events
    """,
    doc="O3/O4 quality gates as a report (dags/nyc_taxi_pipeline_dag.py:184-202)",
)
def _gates(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    rc = events.agg(
        F.lit("row_count_gt_0").alias("check_name"),
        F.count(F.lit(1)).alias("observed"),
        (F.count(F.lit(1)) > 0).alias("passed"),
    )
    nk = events.agg(
        F.lit("null_keys_eq_0").alias("check_name"),
        F.sum((F.col("event_id").isNull() | F.col("ts").isNull()).cast("bigint")).alias("observed"),
        (
            F.sum((F.col("event_id").isNull() | F.col("ts").isNull()).cast("bigint")) == 0
        ).alias("passed"),
    )
    return rc.unionByName(nk)


@_q(
    "fuzzy_levenshtein",
    """
    SELECT s_suppkey, s_name,
      CAST(levenshtein(s_name, 'Supplier#000000042') AS BIGINT) AS edit_dist
    FROM supplier
    WHERE levenshtein(s_name, 'Supplier#000000042') <= 2
    """,
    doc="fuzzy string matching: edit distance to a probe (same DP recurrence "
        "in both engines -> exact integer parity); at scale, pre-block on "
        "length/prefix so the distance only runs inside candidate buckets",
)
def _fuzzy(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    dist = F.levenshtein("s_name", F.lit("Supplier#000000042"))
    return supplier.filter(dist <= 2).select(
        "s_suppkey", "s_name", dist.cast("long").alias("edit_dist")
    )


@_q(
    "string_agg_per_group",
    """
    SELECT c_nationkey,
      string_agg(c_name, ',' ORDER BY c_name) AS member_csv,
      COUNT(*) AS n_members
    FROM (SELECT c_nationkey, c_name FROM customer WHERE c_acctbal > 9000) t
    GROUP BY c_nationkey
    """,
    doc="ordered string aggregation (collect_list -> array_sort -> concat_ws; "
        "sorted so the result is partitioning-invariant — bare collect_list "
        "order is nondeterministic and would never hash-match)",
)
def _stragg(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("member_csv"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@_q(
    "grouping_sets_quantity",
    f"""
    SELECT l_returnflag, l_linestatus,
      {SQL_SUM.format(col="l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    doc="§2.4 explicit GROUPING SETS (arbitrary key subsets, one pass)",
)
def _gsets(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
          {SQL_SUM.format(col="l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@_q(
    "date_arithmetic",
    """
    SELECT o_orderkey,
      strftime(CAST(o_orderdate + to_days(90) AS DATE), '%Y-%m-%d') AS due_date,
      strftime(CAST(o_orderdate + to_months(4) AS DATE), '%Y-%m-%d') AS review_date,
      date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since_epoch_95,
      strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month_start
    FROM orders
    """,
    doc="date arithmetic: interval add, add_months (both engines clamp to "
        "month end), datediff, date_trunc; dates serialized as strings so the "
        "hash compares calendar values, not engine date encodings. Oracle uses "
        "to_days/to_months with UNEQUAL spans: DuckDB compares intervals at "
        "1 month == 30 days, so +90 days and +3 months are CSE-merged into one "
        "expression — a cross-engine trap worth pinning here",
)
def _datemath(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.add_months(d, 4), "yyyy-MM-dd").alias("review_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_95"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("order_month_start"),
    )


@_q(
    "conditional_agg",
    f"""
    SELECT o_orderstatus,
      CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
      CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      {SQL_SUM.format(col="CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END")}
        AS urgent_revenue
    FROM orders GROUP BY o_orderstatus
    """,
    doc="conditional aggregation: count_if / filtered sums in one pass "
        "(no self-joins for per-predicate metrics)",
)
def _condagg(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        _sum_money(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(
                F.lit(0.0)
            ),
            "urgent_revenue",
        ),
    )


@_q(
    "having_filter",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS lifetime_value
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    doc="HAVING: post-aggregation predicate (filter above the agg, pushed "
        "nowhere — the one filter that must NOT reach the scan)",
)
def _having(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "lifetime_value"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@_q(
    "exists_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
    doc="correlated EXISTS — planned as a left-semi join (no row explosion)",
)
def _exists(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(big, "c_custkey", "left_semi").select("c_custkey", "c_name")


@_q(
    "window_first_last",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
      first_value(o_totalprice) OVER w AS first_price,
      last_value(o_totalprice) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    doc="§2.7 first_value/last_value (unbounded frame for last — the classic "
        "default-frame trap, handled identically in both engines)",
)
def _firstlast(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
    )


@_q(
    "join_full_outer",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      c.c_name, CAST(o.n_orders AS BIGINT) AS n_orders
    FROM customer c
    FULL OUTER JOIN (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
    doc="§2.6 full outer join (unmatched rows from both sides survive)",
)
def _fullouter(spark, sf_dir):
    customer, orders = _load(spark, sf_dir, "customer", "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    j = customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.col("n_orders").cast("long").alias("n_orders"),
    )


@_q(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, metric, value FROM (
      SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    )
    """,
    doc="§2.7 unpivot/melt: wide metric columns -> long (metric, value) rows",
)
def _unpivot(spark, sf_dir):
    (part,) = _load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_retailprice").alias("retail"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retail", "size"], "metric", "value")


@_q(
    "fill_defaults",
    """
    SELECT event_id, coalesce(value, 0.0) AS value_filled,
      coalesce(props, '{}') AS props_filled
    FROM (
      SELECT event_id,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 29 = 0 THEN NULL ELSE props END AS props
      FROM events)
    """,
    doc="null repair: fillna with typed defaults (complement of P1 dropna); "
        "fixtures are null-free, so every 17th value / 29th props is "
        "anonymized first — the fill provably replaces",
)
def _fillna(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        F.when(F.col("event_id") % 29 != 0, F.col("props")).alias("props"),
    )
    return dirty.na.fill({"value": 0.0, "props": "{}"}).withColumnsRenamed(
        {"value": "value_filled", "props": "props_filled"}
    )


@_q(
    "regexp_extract_supplier",
    """
    SELECT s_suppkey,
      CAST(regexp_extract(s_name, 'Supplier#(\\d+)', 1) AS BIGINT) AS sup_num,
      upper(s_name) AS name_upper,
      substring(s_name, 1, 8) AS name_prefix
    FROM supplier
    """,
    doc="string toolkit: regexp capture group, case map, substring",
)
def _regex(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    return supplier.select(
        "s_suppkey",
        F.regexp_extract("s_name", r"Supplier#(\d+)", 1).cast("long").alias("sup_num"),
        F.upper("s_name").alias("name_upper"),
        F.substring("s_name", 1, 8).alias("name_prefix"),
    )


@_q(
    "asof_click_attribution",
    """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    clicks AS (
      SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
      FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts,
      l.click_ts AS asof_click_ts,
      l.click_event_id AS asof_click_event_id
    FROM purchases p
    ASOF LEFT JOIN clicks l
      ON p.user_id = l.user_id AND l.click_ts <= p.ts
    """,
    doc="§2.6 backward AS-OF join (latest same-user click at-or-before each "
        "purchase) — union + last(ignorenulls) carry-forward, ONE shuffle on "
        "the key, linear per row; oracle is DuckDB's native ASOF JOIN",
)
def _asof(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    return J.asof_join(
        purchases,
        clicks,
        by=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        value_cols=["click_ts", "click_event_id"],
    )


@_q(
    "cube_order_counts",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="§2.4 CUBE grouping sets (all 2^k key subsets in one shuffle)",
)
def _cube(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "window_rank_ntile",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
      CAST(rank() OVER w AS BIGINT) AS bal_rank,
      CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
      CAST(ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS bal_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
    doc="§2.7 rank/dense_rank (tie-stable) + ntile over a unique ordering",
)
def _rank(spark, sf_dir):
    (customer,) = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    wu = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return customer.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(wu).cast("long").alias("bal_quartile"),
    )


@_q(
    "window_percentile_ranks_dist",
    """
    SELECT event_id, event_type, value,
      percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
    FROM events WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)
    """,
    doc="distributed percent_rank/cume_dist: identical numbers to the exact "
        "window form, but computed from the (group, value) histogram so no "
        "whole group is ever sorted in one task — the 100 TB path when the "
        "partition key has low cardinality (exact form measured 9.5x "
        "super-linear on the 10x fixture step; this form stays parallel)",
)
def _prank_dist(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    out = W.distributed_percent_rank(base, "event_type", "value")
    return out.select("event_id", "event_type", "value", "pr", "cd")


@_q(
    "window_percentile_ranks",
    """
    SELECT event_id, event_type, value,
      percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
    FROM events WHERE value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)
    """,
    doc="§2.7 distribution-position windows: percent_rank + cume_dist per group "
        "— tie-aware (deterministic without a tiebreak column), one shuffle. "
        "SMALL-DATA PATH ONLY: the window sorts each PARTITION BY group in "
        "one task, capping parallelism at the group count (measured 9.5x "
        "wall for 10x data, SCALING.md).  The DEFAULT for production is "
        "window_percentile_ranks_dist (operators/windows.py "
        "distributed_percent_rank) — identical numbers from the "
        "(group, value) histogram, never a whole group in one task.",
)
def _prank(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("value"))
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
    )


@_q(
    "scalar_function_battery",
    """
    SELECT s_suppkey,
      lpad(s_name, 30, '*') AS padded,
      rpad(left(s_name, 8), 12, '.') AS padded_r,
      translate(s_name, 'aeiou', 'AEIOU') AS translated,
      repeat(right(s_name, 2), 3) AS repeated,
      reverse(s_name) AS reversed,
      ascii(s_name) AS first_code,
      chr(65 + CAST(s_suppkey % 26 AS INT)) AS letter,
      nullif(CAST(s_suppkey % 7 AS BIGINT), 0) AS nullable_mod,
      ((CAST(s_suppkey AS BIGINT) - 50) % 7 + 7) % 7 AS pmod7,
      CAST(sign(s_acctbal) AS DOUBLE) AS bal_sign,
      split_part(s_name, '#', 2) AS name_part,
      CAST(strpos(s_name, 'er') AS BIGINT) AS er_pos,
      sha256(s_name) AS digest,
      CAST(bit_count(CAST(s_suppkey AS BIGINT)) AS INT) AS key_bits
    FROM supplier
    """,
    doc="§2.3 scalar battery: 14 string/math built-ins verified at once against "
        "the oracle (the dialect-safe intersection; initcap/overlay/"
        "substring_index have no DuckDB twin and are excluded) — all map-only, "
        "whole-stage codegen",
)
def _battery(spark, sf_dir):
    (supplier,) = _load(spark, sf_dir, "supplier")
    name, key = F.col("s_name"), F.col("s_suppkey")
    return supplier.select(
        "s_suppkey",
        F.lpad(name, 30, "*").alias("padded"),
        F.rpad(F.substring(name, 1, 8), 12, ".").alias("padded_r"),
        F.translate(name, "aeiou", "AEIOU").alias("translated"),
        F.repeat(F.substring(name, -2, 2), 3).alias("repeated"),
        F.reverse(name).alias("reversed"),
        F.ascii(name).alias("first_code"),
        F.char(F.lit(65) + (key % 26).cast("int")).alias("letter"),
        F.nullif((key % 7).cast("long"), F.lit(0)).alias("nullable_mod"),
        F.pmod(key.cast("long") - 50, F.lit(7)).alias("pmod7"),
        F.signum("s_acctbal").cast("double").alias("bal_sign"),
        F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).alias("name_part"),
        F.locate("er", name).cast("long").alias("er_pos"),
        F.sha2(name, 256).alias("digest"),
        F.bit_count(key.cast("long")).alias("key_bits"),
    )


@_q(
    "skew_salted_agg",
    """
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      CAST(MIN(value) AS DOUBLE) AS vmin,
      CAST(MAX(value) AS DOUBLE) AS vmax
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    doc="skew-safe two-stage aggregation: pre-aggregate on (key, salt) so no "
        "reducer sees more than ~1/B of a hot key, then combine partials — "
        "result provably identical to the plain GROUP BY (the oracle IS the "
        "plain form); decomposable aggs only, integer-cents sum for exactness",
)
def _salted(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull()).withColumn(
        "cents_part", F.floor(F.col("value") * 100).cast("long")
    )
    return sk.salted_two_stage_agg(
        base,
        ["event_type"],
        {
            "n": ("count", "event_type"),
            "cents": ("sum", "cents_part"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
        salt_buckets=16,
    ).select(
        "event_type",
        F.col("n").cast("long"),
        F.col("cents").cast("long"),
        F.col("vmin").cast("double"),
        F.col("vmax").cast("double"),
    )


@_q(
    "interval_overlap_pairs",
    """
    WITH l AS (
      SELECT event_id AS err_id, epoch_us(ts) AS ls
      FROM events WHERE event_type = 'error' AND ts IS NOT NULL),
    r AS (
      SELECT event_id AS pur_id, epoch_us(ts) AS rs
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL)
    SELECT err_id, pur_id
    FROM l JOIN r ON ls <= rs + 600000000 AND rs <= ls + 600000000
    """,
    doc="interval-overlap join with BOTH sides large (error vs purchase events "
        "within +-10 min): intervals explode into fixed-width time buckets, the "
        "join runs as an equi-join on the bucket (shuffle-partitionable, AQE-"
        "skew-splittable — NOT a broadcast nested loop), each pair emitted once "
        "in the later start bucket so no distinct pass; integer-microsecond "
        "arithmetic matches the oracle's epoch_us exactly",
)
def _interval_overlap(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ten_min_us = 600_000_000

    def _side(etype: str, id_alias: str, s: str, e: str):
        return (
            events.filter((F.col("event_type") == etype) & F.col("ts").isNotNull())
            .select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(s),
                (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias(e),
            )
        )

    out = J.interval_overlap_join(
        _side("error", "err_id", "err_start", "err_end"),
        _side("purchase", "pur_id", "pur_start", "pur_end"),
        ("err_start", "err_end"),
        ("pur_start", "pur_end"),
        bucket_seconds=600,
    )
    return out.select("err_id", "pur_id")


def _morton_sql(cols: list[str], bits: int = 16) -> str:
    """The exact shift/mask OR-chain of ``operators.layout.morton_code``
    in DuckDB syntax — integer bit ops, so parity is exact."""
    k = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + j})"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


@_q(
    "zorder_bucket_stats",
    f"""
    WITH z AS (
      SELECT CAST(l_partkey % 256 AS BIGINT) AS a,
             CAST(l_suppkey % 256 AS BIGINT) AS b
      FROM lineitem),
    c AS (SELECT a, b, {_morton_sql(["a", "b"], bits=8)} AS zcode FROM z)
    SELECT zcode >> 8 AS zbucket,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      MIN(a) AS min_a, MAX(a) AS max_a,
      MIN(b) AS min_b, MAX(b) AS max_b
    FROM c GROUP BY zbucket
    """,
    doc="Z-order (Morton) layout key + per-z-bucket min/max stats — the "
        "multi-column file-skipping layout (Delta OPTIMIZE ZORDER BY, from "
        "first principles): bit-interleave is a flat codegen'd shift/mask OR "
        "chain, and the per-bucket stats SHOW the skipping win (min/max narrow "
        "in BOTH dimensions at once); bit-exact BIGINT oracle",
)
def _zorder(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    z = li.select(
        (F.col("l_partkey") % 256).cast("long").alias("a"),
        (F.col("l_suppkey") % 256).cast("long").alias("b"),
    ).withColumn("zcode", morton_code(["a", "b"], bits=8))
    return z.groupBy(F.shiftright("zcode", 8).alias("zbucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
    )


@_q(
    "null_safe_enrich",
    """
    WITH e AS (
      SELECT event_id,
        CASE WHEN event_id % 10 = 0 THEN NULL ELSE user_id END AS user_id
      FROM events),
    a AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
      FROM e GROUP BY user_id)
    SELECT e.event_id, e.user_id, a.user_events
    FROM e JOIN a ON e.user_id IS NOT DISTINCT FROM a.user_id
    """,
    doc="null-safe equi-join (<=> / IS NOT DISTINCT FROM): enrich events with "
        "per-user counts WITHOUT dropping NULL-user rows (every 10th event is "
        "anonymized so the semantic provably fires) — NULLs match the "
        "aggregate's single NULL-key row, the 'unattributed' bucket every "
        "attribution report needs; still a hash-partitioned equi-join, and "
        "the aggregate side holds exactly one NULL row so no hot-key blow-up",
)
def _null_safe(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.when(F.col("event_id") % 10 != 0, F.col("user_id")).alias("user_id"),
    )
    agg = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    return J.null_safe_join(e, agg, ["user_id"]).select(
        "event_id", "user_id", "user_events"
    )


@_q(
    "edit_distance_pairs",
    """
    WITH s AS (
      SELECT doc_id, lower(substring(text, 1, 32)) AS s,
        lower(substring(text, 1, 8)) AS block
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist
    FROM s a JOIN s b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 5
    """,
    doc="edit-distance near-dup pairs over 32-char document heads: candidates "
        "must share a lowercased 8-char prefix block, so the self-join is a "
        "shuffle-partitionable equi-join on the block (never a corpus "
        "cartesian); JVM levenshtein runs only on in-block candidates — on "
        "this corpus prefix 8 cuts candidates 13x vs prefix 4 (405k -> 30k at "
        "sf0.1) while keeping 262 of 263 matched pairs; recall-bounded like "
        "any blocked near-dup pass (the lossless alternative is PPJoin)",
)
def _edit_pairs(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return J.edit_distance_pairs(
        docs, "doc_id", "text", max_distance=5, prefix_len=8, compare_len=32
    )


@_q(
    "clean_pipeline_dirty",
    """
    WITH dirty AS (
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        props
      FROM events
      UNION ALL
      SELECT event_id, ts,
        CASE WHEN event_id % 23 = 0 THEN NULL ELSE user_id END AS user_id,
        event_type,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value,
        props
      FROM events WHERE event_id % 50 = 0)
    SELECT t.*, CAST(month(t.ts) AS BIGINT) AS event_month
    FROM (
      SELECT DISTINCT * FROM dirty
      WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
    ) t
    """,
    doc="the reference cleaning pipeline on PROVABLY dirty input: the driver "
        "fixtures are null-free and duplicate-free, so `clean_pipeline` alone "
        "no longer exercises dropna/dropDuplicates — this variant anonymizes "
        "every 23rd user and 17th value and re-appends every 50th row before "
        "cleaning, so both passes demonstrably remove rows (plan unchanged: "
        "narrow dropna, one all-column dedup shuffle, derived month)",
)
def _clean_dirty(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirtied = events.select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 23 != 0, F.col("user_id")).alias("user_id"),
        "event_type",
        F.when(F.col("event_id") % 17 != 0, F.col("value")).alias("value"),
        "props",
    )
    dirty = dirtied.unionAll(dirtied.filter(F.col("event_id") % 50 == 0))
    out = clean_pipeline(dirty, ts_col="ts", month_col="event_month")
    return out.withColumn("event_month", F.col("event_month").cast("long"))


@_q(
    "first_event_per_user",
    """
    SELECT user_id, ts AS first_ts, event_id AS first_event_id,
      event_type AS first_event_type
    FROM (
      SELECT user_id, ts, event_id, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    WHERE rn = 1
    """,
    doc="argmin as an AGGREGATE, not a window: the earliest event per user "
        "computed as min(struct(ts, event_id, event_type)) — lexicographic "
        "struct ordering gives a deterministic tiebreak on event_id, and the "
        "partial min combines map-side, so the exchange carries one struct "
        "per (partition, user) instead of sorting each user's history; the "
        "oracle states the same thing as the rn=1 window form; ts IS NOT "
        "NULL on both sides because Spark's struct-min sorts NULLs first "
        "while the oracle's ORDER BY defaults NULLS LAST — different "
        "survivors if a null ts ever appears",
)
def _first_event(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    m = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "event_type")).alias("m"))
    )
    return m.select(
        "user_id",
        F.col("m.ts").alias("first_ts"),
        F.col("m.event_id").alias("first_event_id"),
        F.col("m.event_type").alias("first_event_type"),
    )


@_q(
    "window_cume_nth",
    """
    SELECT c_custkey, c_mktsegment,
      round(cume_dist() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey), 6) AS acctbal_cume,
      nth_value(c_name, 3) OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal, c_custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS third_poorest
    FROM customer
    """,
    doc="cume_dist + nth_value per market segment — the remaining "
        "§2.7 window functions: cumulative distribution of account "
        "balance and the segment's third-poorest customer pinned on "
        "every row.  (acctbal, custkey) makes the order total, so both "
        "functions are tie-deterministic; one segment-keyed shuffle, "
        "per-segment sort bounded by segment size.",
)
def _cumenth(spark, sf_dir):
    (cust,) = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("acctbal_cume"),
        F.nth_value("c_name", 3).over(wf).alias("third_poorest"),
    )


@_q(
    "skew_salted_join",
    f"""
    SELECT s_name, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
    doc="skew-safe salted equi join: the big side's key is salted over 8 "
        "buckets and the small side replicated per salt, so one hot key "
        "spreads across 8 tasks instead of stalling a single reducer — "
        "then per-supplier revenue proves the salt is SEMANTICALLY "
        "INVISIBLE (the oracle is the plain join; any row loss or "
        "duplication from the salt plumbing breaks the hash).  The "
        "join-side companion to skew_salted_agg; at Spark 3.2+ AQE's "
        "skew-join split covers sort-merge cases automatically, manual "
        "salting remains the lever for broadcast-ineligible hot keys.  "
        "Operator: operators/skew.py salted_join",
)
def _saltjoin(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    dim = s.select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    j = sk.salted_join(
        li.select("l_suppkey", "l_extendedprice"), dim, on="l_suppkey"
    )
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "asof_next_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_event_id
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
      p.purchase_ts AS asof_purchase_ts,
      p.purchase_event_id AS asof_purchase_event_id
    FROM clicks c
    ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND p.purchase_ts >= c.ts
    """,
    doc="§2.6 FORWARD as-of join (earliest same-user purchase at-or-"
        "after each click — next-event attribution / time-to-convert): "
        "the mirrored union trick, first(ignorenulls) over an unbounded-"
        "FOLLOWING frame with the side tag flipped so boundary ties land "
        "inside the frame; still ONE key shuffle, linear per row.  "
        "Oracle is DuckDB's native forward ASOF JOIN.  Operator: "
        "operators/joins.py asof_join(direction='forward')",
)
def _asof_fwd(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    return J.asof_join(
        clicks,
        purch,
        by=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_event_id"],
        direction="forward",
    )


@_q(
    "asof_nearest_event",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL AND user_id IS NOT NULL
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_event_id
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT c.event_id, c.user_id, c.ts,
        p.purchase_ts AS b_ts, p.purchase_event_id AS b_id
      FROM clicks c
      ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.purchase_ts <= c.ts
    ),
    f AS (
      SELECT c.event_id, p.purchase_ts AS f_ts, p.purchase_event_id AS f_id
      FROM clicks c
      ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND p.purchase_ts > c.ts
    ),
    j AS (
      SELECT b.event_id, b.user_id, b.ts, b.b_ts, b.b_id, f.f_ts, f.f_id,
        (b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR
          epoch_us(b.ts) - epoch_us(b.b_ts)
            <= epoch_us(f.f_ts) - epoch_us(b.ts))) AS use_b
      FROM b JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts,
      CASE WHEN use_b THEN b_ts ELSE f_ts END AS asof_purchase_ts,
      CASE WHEN use_b THEN b_id ELSE f_id END AS asof_purchase_event_id,
      CASE WHEN use_b THEN 'b' WHEN f_ts IS NOT NULL THEN 'f' END
        AS asof_matched_side
    FROM j
    """,
    doc="§2.6 NEAREST as-of join (closest same-user purchase in either "
        "time direction from each click — sensor alignment / "
        "quote-to-trade matching): both the backward and the forward "
        "carry run over ONE (ts, side) sort — a single Exchange+Sort "
        "feeding one Window node — and the per-row winner is the "
        "smaller epoch-micros distance, ties backward.  Oracle is a "
        "pair of native DuckDB ASOF joins (<= and >) merged by the "
        "same distance rule.  Operator: operators/joins.py "
        "asof_join(direction='nearest')",
)
def _asof_nearest(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    clicks = base.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        base.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("event_id").alias("purchase_event_id"))
    )
    return J.asof_join(
        clicks,
        purch,
        by=["user_id"],
        left_ts="ts",
        right_ts="purchase_ts",
        value_cols=["purchase_ts", "purchase_event_id"],
        direction="nearest",
    )


@_q(
    "window_range_frame_sum",
    """
    SELECT event_id, user_id, value,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS range_sum,
      CAST(COUNT(*) OVER w AS BIGINT) AS range_n
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
    """,
    doc="§2.7 value-RANGE window frame (the non-time RANGE BETWEEN x "
        "PRECEDING case — rows-frames and time-range frames are covered "
        "elsewhere): per user, the sum/count of that user's values "
        "within 10.0 below each row's value.  RANGE frames are "
        "peer-inclusive, so equal values see identical frames and the "
        "result is deterministic without a tiebreak; the sum runs in "
        "DECIMAL so partial order can't change the double.  One "
        "group-keyed shuffle + per-group sort — keyed on user_id "
        "(corpus-cardinality key, bounded groups) deliberately: the "
        "same frame over a HANDFUL of groups sorts each whole group in "
        "one task, the single-task-per-group window pathology "
        "(measured 6.8 s vs 0.9 s at sf0.1 for event_type vs user_id "
        "keying — see window_percentile_ranks for the documented "
        "low-cardinality escape hatch).",
)
def _rangeframe(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("value")).rangeBetween(-10, 0)
    return (
        events.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "value",
            F.sum(F.col("value").cast(D2)).over(w).cast("double").alias("range_sum"),
            F.count(F.lit(1)).over(w).cast("long").alias("range_n"),
        )
    )


@_q(
    "set_ops_multiset",
    """
    WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 10),
    b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
    ex AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_except
      FROM (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
      GROUP BY l_suppkey),
    ix AS (
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_intersect
      FROM (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b)
      GROUP BY l_suppkey)
    SELECT COALESCE(ex.l_suppkey, ix.l_suppkey) AS l_suppkey,
      COALESCE(ex.n_except, CAST(0 AS BIGINT)) AS n_except,
      COALESCE(ix.n_intersect, CAST(0 AS BIGINT)) AS n_intersect
    FROM ex FULL JOIN ix ON ex.l_suppkey = ix.l_suppkey
    """,
    doc="§2.7 multiset set ops (EXCEPT ALL / INTERSECT ALL — the "
        "multiplicity-preserving variants; plain distinct forms are "
        "covered by set_union/intersect/except): per-supplier surplus "
        "and overlap counts between two overlapping lineitem slices.  "
        "Implemented as count ALGEBRA — one scan, conditional counts "
        "per key, then n_except = max(n_a - n_b, 0) and n_intersect = "
        "min(n_a, n_b) — because Spark's built-in exceptAll/"
        "intersectAll plan `Generate replicaterows`: they aggregate to "
        "per-key counts and then MATERIALIZE the multiplicities as "
        "rows, so a hot key with a 1M surplus replicates 1M rows just "
        "to be re-counted.  The algebraic form is the identical "
        "multiset semantics (oracle IS DuckDB's EXCEPT ALL / INTERSECT "
        "ALL) in one keyed shuffle with no join and no row "
        "replication; plan-contract-tested.",
)
def _setall(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    counts = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.count_if(F.col("l_quantity") > 10).alias("n_a"),
            F.count_if(F.col("l_returnflag") == "R").alias("n_b"),
        )
        # keys absent from slice A appear in neither multiset result
        .filter(F.col("n_a") > 0)
    )
    return counts.select(
        "l_suppkey",
        F.greatest(F.col("n_a") - F.col("n_b"), F.lit(0)).cast("long").alias("n_except"),
        F.least(F.col("n_a"), F.col("n_b")).cast("long").alias("n_intersect"),
    )


@_q(
    "schema_contract_enforced",
    """
    WITH drifted AS (
      SELECT o_orderkey AS order_key,
        CAST(o_totalprice AS VARCHAR) AS o_totalprice,
        o_orderstatus, 'v2' AS producer_tag
      FROM orders),
    aligned AS (
      SELECT order_key,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        o_orderstatus,
        CAST(NULL AS DATE) AS o_orderdate
      FROM drifted)
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      CAST(COUNT(o_orderdate) AS BIGINT) AS n_dated
    FROM aligned GROUP BY o_orderstatus
    """,
    doc="P-ext schema contract HASH-VERIFIED: a producer-drifted feed "
        "(renamed key, price re-typed to string, extra producer_tag "
        "column, o_orderdate dropped) is aligned back to a contract "
        "schema by cleaning.enforce_schema — extras dropped, the string "
        "price cast back to double, the missing date NULL-filled — and "
        "the aggregate over the aligned frame must match the oracle "
        "replaying the same drift+alignment in SQL: a silently "
        "mis-cast or mis-filled column breaks the hash.  Map-only.  "
        "Operator: operators/cleaning.py enforce_schema",
)
def _schemacontract(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    drifted = orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        "o_orderstatus",
        F.lit("v2").alias("producer_tag"),
    )
    contract = T.StructType(
        [
            T.StructField("order_key", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    aligned = enforce_schema(drifted, contract, fail_on_missing=False)
    return aligned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "revenue"),
        F.count("o_orderdate").cast("long").alias("n_dated"),
    )


@_q(
    "bloom_prefilter_join",
    f"""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col='o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
    doc="Bloom semi-join reduction HASH-VERIFIED lossless: the fact side "
        "(orders) is pruned by an 8192-bit Bloom filter of the BUILDING "
        "customer keys BEFORE the exact join — the runtime-filter pattern "
        "that keeps a 100 TB fact table from shuffling rows that cannot "
        "match (Spark's InjectRuntimeFilter / Iceberg bloom skipping as an "
        "explicit operator).  The oracle is the PLAIN join: a single false "
        "negative (a pruned matching row) breaks the hash, so the "
        "no-false-negative guarantee is verified end to end; false "
        "positives are harmless here because the exact join removes them.  "
        "Plan: dim collapses to a bit_or shuffle bounded by m/64 words, "
        "the 1-row bitmap broadcasts onto the fact scan, the membership "
        "test is JVM bit arithmetic in whole-stage codegen.  "
        "Operator: operators/joins.py bloom_prefilter",
)
def _bloomjoin(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    pre = J.bloom_prefilter(
        orders, "o_custkey", dim, "c_custkey", m_bits=8192, n_hashes=3
    )
    keys = dim.select(F.col("c_custkey").alias("o_custkey"))
    return (
        J.semi_join(pre, keys, "o_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "revenue"),
        )
    )


@_q(
    "impute_group_mean",
    """
    WITH dirty AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END AS value
      FROM events),
    m AS (
      SELECT event_id, user_id, value,
        CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id) AS DOUBLE) AS s,
        CAST(COUNT(value) OVER (PARTITION BY user_id) AS DOUBLE) AS c
      FROM dirty)
    SELECT event_id, user_id,
      value IS NULL AS value_was_null,
      COALESCE(value, s / c) AS value_imputed
    FROM m
    """,
    doc="group-mean null imputation, hash-verified: every 17th event's "
        "value is nulled (the fixtures are null-free — FIXTURES.md "
        "anonymization policy) and refilled with ITS USER's mean over "
        "observed values — the standard feature-repair step between "
        "dropna (too destructive for sparse columns) and a constant "
        "fill (too blunt across systematically-different groups).  The "
        "mean is an exact DECIMAL sum over the 2-dp values divided once "
        "by the non-null count, so the imputed double is bit-identical "
        "cross-engine.  ONE shuffle on the corpus-cardinality user key "
        "(sum and count share a single Window node), then map-only "
        "coalesce.  Operator: operators/cleaning.py impute_group_mean",
)
def _impute(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    dirty = events.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute_group_mean(dirty, ["user_id"], "value")
    return out.select(
        "event_id", "user_id", "value_was_null", "value_imputed"
    )


@_q(
    "hierarchy_share_rollup",
    """
    WITH nat AS (
      SELECT r_name, n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name)
    SELECT r_name, n_name,
      CAST(rev AS DOUBLE) AS revenue,
      CAST(rev AS DOUBLE)
        / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
        AS share_of_region,
      CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS share_of_total
    FROM nat
    """,
    doc="hierarchical percent-of-parent rollup (region → nation): each "
        "nation's revenue beside its share of its region and of the "
        "grand total — the drill-down report shape every BI layer asks "
        "of an analytics engine.  One fact shuffle into the 25-row "
        "nation aggregate (dims broadcast); both parent totals are "
        "unbounded window sums OVER THE DIM-SIZED aggregate in exact "
        "DECIMAL (safe single-partition windows — input bounded by "
        "construction, the PSI/scalar-reuse pattern), so no second "
        "corpus pass and no re-planned scan per share level.  Shares "
        "divide two engine-identical exact decimals once.",
)
def _hier_share(spark, sf_dir):
    orders, customer, nation, region = _load(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    dims = (
        customer.select("c_custkey", "c_nationkey")
        .join(nation.select("n_nationkey", "n_name", "n_regionkey"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    nat = (
        orders.join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )
    w_region = Window.partitionBy("r_name")  # 25-row frame: bounded
    w_all = Window.partitionBy()
    rev_d = F.col("rev").cast("double")
    return nat.select(
        "r_name",
        "n_name",
        rev_d.alias("revenue"),
        (rev_d / F.sum("rev").over(w_region).cast("double")).alias(
            "share_of_region"
        ),
        (rev_d / F.sum("rev").over(w_all).cast("double")).alias(
            "share_of_total"
        ),
    )
