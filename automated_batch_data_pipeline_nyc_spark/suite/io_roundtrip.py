"""Sink and source round trips: Parquet, CSV, JSON and ORC writes read
back, table modes, schema evolution, quarantine, compaction and
manifests, bucketed tables, JDBC and URL ingest, binaryFile ingest, the
transaction-log table, and incremental maintenance (merge, snapshot
diff, SCD2, CDC, incremental aggregates and join views)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import incremental as inc
from ..operators.incremental import (
    agg_state, cdc_apply, merge_agg_state, merge_upsert, scd2_apply, snapshot_diff,
)
from ..sources import read_parquet
from ..sources.readers import (
    fetch_url_manifest, read_csv, read_csv_glob, read_json, read_orc, read_sql_table,
)
from ..sources.writers import (
    compact_parquet, manifest_for_dir, quarantine_write, write_csv, write_json,
    write_orc, write_parquet, write_table, write_table_bucketed,
)
from .registry import SQL_SUM, _load, _q, _sum_money
from .staging import _fixture_fingerprint, _scratch, _shared_stage


@_q(
    "sink_roundtrip",
    f"""
    SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
      COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY 1
    """,
    doc="S9+M3: month-partitioned Parquet sink, dynamic-partition overwrite of "
        "one month (the incremental reload README.md:220-222 claims), re-read, "
        "aggregate — hash-matched against the oracle over the ORIGINAL table, so "
        "any write/read corruption or partition loss breaks the hash",
)
def _sinkrt(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    out = _scratch(f"automated_batch_data_pipeline_nyc_sink_{os.path.basename(os.path.normpath(sf_dir))}")
    enriched = lineitem.withColumn("ship_month", F.month("l_shipdate"))
    # runtime-settable; makes mode='overwrite' rewrite only the
    # partitions present in the incoming DataFrame.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    write_parquet(enriched, out, partition_by=["ship_month"], mode="overwrite")
    # incremental reload: overwrite exactly one month's partition; every
    # other partition must survive untouched for the hash to match.
    write_parquet(
        enriched.filter(F.col("ship_month") == 3),
        out,
        partition_by=["ship_month"],
        mode="overwrite",
    )
    back = read_parquet(spark, out)
    return back.groupBy(F.col("ship_month").cast("long").alias("ship_month")).agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "table_modes_roundtrip",
    f"""
    SELECT o_orderstatus,
      COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders WHERE o_orderstatus IN ('O', 'F')
    GROUP BY o_orderstatus
    """,
    doc="S10/S11/S14/M2/M4: catalog table sinks through all three save "
        "modes — overwrite creates the table from the open orders, append "
        "adds the fulfilled ones, and an ignore-mode write of the FULL "
        "table must be a no-op (CREATE IF NOT EXISTS semantics) — then "
        "the table is re-read from the catalog and aggregated.  The "
        "oracle aggregates the original orders filtered to the two "
        "written statuses, so a leaked ignore-write (doubled counts, "
        "status 'P' rows) or a lost append breaks the hash.  Sink: "
        "sources/writers.py write_table",
)
def _tblmodes(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    name = f"automated_batch_data_pipeline_nyc_tbl_modes_{digest}"
    # A PRIOR PROCESS may have left the managed-table directory behind
    # while this session's catalog has no entry for it — saveAsTable
    # then fails with LOCATION_ALREADY_EXISTS even in overwrite mode.
    # Drop any catalog entry and purge the orphan location first.
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    loc = os.path.join(wh.path or wh.netloc, name.lower())
    shutil.rmtree(loc, ignore_errors=True)
    write_table(orders.filter(F.col("o_orderstatus") == "O"), name, mode="overwrite")
    write_table(orders.filter(F.col("o_orderstatus") == "F"), name, mode="append")
    write_table(orders, name, mode="ignore")  # must be a no-op
    back = spark.table(name)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "merge_upsert_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_custkey ELSE t.o_custkey END AS o_custkey,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
      CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
    FROM orders t
    FULL OUTER JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
    doc="MERGE/upsert on plain DataFrames: matched rows take the update, "
        "unmatched target rows survive, new keys insert — one full-outer "
        "shuffle (bucketed target would eliminate its side)",
)
def _merge(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumns(
        {
            "o_orderstatus": F.lit("X"),
            "o_totalprice": F.col("o_totalprice") + 100.0,
        }
    ).unionByName(
        base.filter(F.col("o_orderkey") % 13 == 0).withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + 1000000,
                "o_orderstatus": F.lit("N"),
            }
        )
    )
    return merge_upsert(base, updates, ["o_orderkey"])


@_q(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 17 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
      CASE WHEN o.o_orderkey IS NULL THEN 'added'
           WHEN n.o_orderkey IS NULL THEN 'removed'
           WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
             OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
      END AS change_type,
      coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
      coalesce(n.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM old o
    FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    doc="CDC-style snapshot diff: added/removed/changed rows via one "
        "full-outer join with null-safe column comparison",
)
def _snapdiff(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = old.filter(F.col("o_orderkey") % 17 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 100.0).otherwise(
            F.col("o_totalprice")
        ),
    ).unionByName(
        old.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1000000
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@_q(
    "schema_evolution_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n,
      {SQL_SUM.format(col="o_totalprice")} AS revenue,
      CAST(count(priority_class) AS BIGINT) AS n_with_new_col
    FROM (
      SELECT o_orderstatus, o_totalprice, NULL AS priority_class
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY o_orderstatus
    """,
    doc="schema evolution: v1 parquet without a column + v2 append with it, "
        "read with mergeSchema — old rows surface NULL, aggregate hash-matched",
)
def _schemaevo(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_evo_{os.path.basename(os.path.normpath(sf_dir))}")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderpriority").alias("priority_class"),
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        _sum_money(F.col("o_totalprice"), "revenue"),
        F.count("priority_class").alias("n_with_new_col"),
    )


@_q(
    "csv_roundtrip",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="S3/S8+S13: CSV sink -> explicit-schema CSV scan round-trip (the "
        "reference's Spark->CSV->Postgres hop, dags/nyc_taxi_pipeline_dag.py:70-92); "
        "2-dp money survives the text hop exactly, so the oracle over the "
        "ORIGINAL parquet catches any serialization loss",
)
def _csvrt(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    out = _scratch(f"automated_batch_data_pipeline_nyc_csv_{os.path.basename(os.path.normpath(sf_dir))}")
    write_csv(lineitem.select("l_orderkey", "l_returnflag", "l_extendedprice"), out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "json_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    doc="JSON-lines sink -> explicit-schema scan round-trip (interchange-format "
        "hop); doubles survive Jackson shortest-repr serialization exactly, "
        "verified by the decimal-money aggregate against the ORIGINAL table",
)
def _jsonrt(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_json_{os.path.basename(os.path.normpath(sf_dir))}")
    write_json(orders.select("o_orderkey", "o_orderstatus", "o_totalprice"), out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_json(spark, out, schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "orc_roundtrip",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="partitioned ORC sink -> scan round-trip: the parquet-equivalent "
        "columnar path for ORC-standard warehouses, incl. partition pruning "
        "layout; verified against the ORIGINAL table",
)
def _orcrt(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    out = _scratch(f"automated_batch_data_pipeline_nyc_orc_{os.path.basename(os.path.normpath(sf_dir))}")
    write_orc(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        out,
        partition_by=["o_orderpriority"],
    )
    back = read_orc(spark, out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "scd2_orders_history",
    """
    WITH hist AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price,
        TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
        CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      FROM orders WHERE o_orderkey % 3 <> 0),
    snap AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
        o_totalprice + CASE WHEN o_orderkey % 5 = 0
          THEN CAST(1.5 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS price
      FROM orders)
    SELECT k, status, price, valid_from, valid_to, is_current
    FROM hist WHERE k % 5 <> 0
    UNION ALL
    SELECT k, status, price, valid_from,
      TIMESTAMP '2026-02-01 00:00:00', FALSE
    FROM hist WHERE k % 5 = 0
    UNION ALL
    SELECT k, status, price, TIMESTAMP '2026-02-01 00:00:00',
      CAST(NULL AS TIMESTAMP), TRUE
    FROM snap WHERE (k % 5 = 0 AND k % 3 <> 0) OR k % 3 = 0
    """,
    doc="SCD type-2 merge: snapshot (orderkey%5 prices bumped, orderkey%3 rows "
        "brand-new) applied to a current history at an effective timestamp — "
        "changed keys close + reopen, new keys open, unchanged pass through; "
        "ONE full-outer shuffle of the current slice, 0-2 output rows per key "
        "via inline over a compacted struct array (no second join, no window); "
        "the oracle states the expected history as three explicit unions",
)
def _scd2(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    hist = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(1.5)).otherwise(F.lit(0.0))
        ).alias("price"),
    )
    return scd2_apply(hist, snap, ["k"], "2026-02-01 00:00:00")


@_q(
    "sink_quarantine_roundtrip",
    f"""
    WITH stamped AS (
      SELECT *, CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v2
      FROM events)
    SELECT (v2 IS NOT NULL) AS _valid,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      {SQL_SUM.format(col="v2")} AS total_value
    FROM stamped GROUP BY (v2 IS NOT NULL)
    """,
    doc="data-contract quarantine sink, hash-verified round trip: every "
        "11th event's value is nulled (fixtures are contract-clean, so "
        "violations are injected), the contract predicate stamps a "
        "boolean _valid, and ONE partitioned write routes accepted rows "
        "to _valid=true and rejects to _valid=false side by side "
        "(sources/writers.py quarantine_write) — one scan, both sinks; "
        "the two-filtered-writes alternative scans the corpus twice.  "
        "The aggregate over the RE-READ files must hash-match the oracle "
        "computed on the original table, so lost rows, misrouted rows, "
        "or partition corruption all break the hash.",
)
def _quarantine(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    stamped = events.withColumn(
        "value",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    ).withColumn("_valid", F.col("value").isNotNull())
    out = _scratch(f"automated_batch_data_pipeline_nyc_quarantine_{os.path.basename(os.path.normpath(sf_dir))}")
    quarantine_write(stamped, out)
    back = read_parquet(spark, out)
    return back.groupBy(F.col("_valid").cast("boolean").alias("_valid")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "cdc_apply_orders",
    f"""
    WITH feed AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'X', o_totalprice + 10,
        o_orderdate, o_orderpriority, 'U'
      FROM orders WHERE o_orderkey % 13 = 1
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority, 'I'
      FROM orders WHERE o_orderkey % 13 = 2),
    applied AS (
      SELECT o.o_orderstatus, o.o_totalprice FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM feed f WHERE f.o_orderkey = o.o_orderkey)
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM feed WHERE op <> 'D')
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_value
    FROM applied GROUP BY o_orderstatus
    """,
    doc="CDC change-feed apply with DELETE tombstones "
        "(operators/incremental.py cdc_apply): a deterministic feed "
        "deletes every key = 0 mod 13, rewrites status/price for = 1, and "
        "inserts fresh keys for = 2; the applied snapshot's per-status "
        "aggregate must hash-match the oracle's independent semantic "
        "restatement (untouched rows UNION surviving feed rows) — so a "
        "missed delete, double-applied update, or dropped insert all "
        "break the hash.  One full-outer shuffle total; the delete "
        "branch is a filter on the joined row, not a second anti-join "
        "pass over the target.",
)
def _cdc_apply(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    d = orders.filter(k % 13 == 0).withColumn("op", F.lit("D"))
    u = (
        orders.filter(k % 13 == 1)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10)
        .withColumn("op", F.lit("U"))
    )
    i = (
        orders.filter(k % 13 == 2)
        .withColumn("o_orderkey", k + 10000000)
        .withColumn("op", F.lit("I"))
    )
    feed = d.unionByName(u).unionByName(i)
    applied = cdc_apply(orders, feed, ["o_orderkey"])
    return applied.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_value"),
    )


@_q(
    "cdc_compact_feed",
    f"""
    WITH feed AS (
      SELECT o_orderkey, o_totalprice, 'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 7 < 3
      UNION ALL
      SELECT o_orderkey, o_totalprice + 5, 'U', 2
      FROM orders WHERE o_orderkey % 7 < 2
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'D', 3
      FROM orders WHERE o_orderkey % 7 < 1),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM feed),
    compact AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n_changes,
      {SQL_SUM.format(col="o_totalprice")} AS total_value,
      CAST(SUM(seq) AS BIGINT) AS seq_sum
    FROM compact GROUP BY op
    """,
    doc="CDC feed compaction — collapse a multi-change-per-key feed to "
        "the LAST change per key before applying (the precondition "
        "cdc_apply documents): deterministic synthetic feed gives keys "
        "one, two, or three versions, and only the latest survives.  "
        "row_number over (key, seq DESC) plans with WindowGroupLimit, so "
        "each group prunes to one row during the sort — the same "
        "bounded-state shape as top-k sampling, never a per-key history "
        "materialization.  Per-op aggregate (counts, decimal sums, seq "
        "checksum) pins every surviving version.",
)
def _cdc_compact(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v1 = orders.filter(k % 7 < 3).select(
        "o_orderkey", "o_totalprice", F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    v2 = orders.filter(k % 7 < 2).select(
        "o_orderkey",
        (F.col("o_totalprice") + 5).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    v3 = orders.filter(k % 7 < 1).select(
        "o_orderkey", "o_totalprice", F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    feed = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    compact = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return compact.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_changes"),
        _sum_money(F.col("o_totalprice"), "total_value"),
        F.sum("seq").cast("long").alias("seq_sum"),
    )


@_q(
    "compact_roundtrip",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
      {SQL_SUM.format(col="value")} AS total_value
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
    doc="small-file compaction round-trip: the events table is written as "
        "48 deliberately tiny files, compact_parquet coalesces them to "
        "~target size through a staging dir + atomic-ish swap, and the "
        "compacted dataset must aggregate identically to the source — "
        "any row loss/duplication in the rewrite breaks the hash.  The "
        "maintenance pass every streaming/incremental sink needs at 100 "
        "TB (file-count pathology).  Sink: sources/writers.py "
        "compact_parquet",
)
def _compactrt(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("event_type").isNotNull())
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    out = _scratch(f"automated_batch_data_pipeline_nyc_compact_{digest}")
    base.repartition(48).write.mode("overwrite").parquet(out)
    compact_parquet(spark, out, target_file_mb=256)
    back = read_parquet(spark, out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "manifest_partition_counts",
    """
    SELECT event_type, COUNT(*) AS n_rows
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
    doc="load-manifest verification: events are written partitioned by "
        "event_type, manifest_for_dir builds the per-file row-count "
        "manifest from footer metadata (one metadata-only distributed "
        "pass), and summing the manifest per partition directory must "
        "reproduce the source counts — the partial/corrupt-load detector "
        "a warehouse publishes beside each load.  Exercises the "
        "URI-decode relativization fix end-to-end.  Sink: "
        "sources/writers.py manifest_for_dir",
)
def _manifestpc(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("event_type").isNotNull())
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    out = _scratch(f"automated_batch_data_pipeline_nyc_manifest_{digest}")
    write_parquet(base, out, partition_by=["event_type"], mode="overwrite")
    man = manifest_for_dir(spark, out)
    return (
        man.groupBy(
            F.regexp_extract("file", "^event_type=([^/]+)/", 1).alias("event_type")
        )
        .agg(F.sum("n_rows").alias("n_rows"))
    )


@_q(
    "url_ingest_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS revenue
    FROM orders WHERE o_orderkey % 4 = 0 GROUP BY o_orderstatus
    """,
    doc="S1/S15 HASH-VERIFIED: the distributed URL-manifest ingest moves "
        "real bytes end to end — a deterministic orders subset is "
        "exported to CSV, a (url, dest) manifest of file:// URLs fans "
        "out over executors (fetch_url_manifest, the same urllib kernel "
        "that serves http/https), every fetch must report ok=true, and "
        "the FETCHED copies are re-read and aggregated against the "
        "oracle over the ORIGINAL table — so a corrupted, truncated, or "
        "dropped transfer breaks the hash.  file:// stands in for http "
        "only at the scheme level; the transfer path (open-stream, "
        "chunked copy, size accounting, per-row error capture) is "
        "exactly the production one.  Sources: readers.py "
        "fetch_url_manifest + read_csv_glob, writers.py write_csv",
)
def _urlrt(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    tag = os.path.basename(os.path.normpath(sf_dir))
    src = _scratch(f"automated_batch_data_pipeline_nyc_urlsrc_{tag}")
    dst = _scratch(f"automated_batch_data_pipeline_nyc_urldst_{tag}")
    # part-file basenames are unique per write (uuid suffix), so a
    # previous run's fetched copies would survive in dst and double the
    # glob read — clear the destination like a real ingest staging dir
    shutil.rmtree(dst, ignore_errors=True)
    write_csv(
        orders.filter(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ),
        src,
    )
    parts = sorted(glob.glob(os.path.join(src, "*.csv")))
    manifest = spark.createDataFrame(
        [(f"file://{pp}", os.path.join(dst, os.path.basename(pp))) for pp in parts],
        ["url", "dest"],
    )
    fetched = fetch_url_manifest(manifest).collect()
    bad = [r for r in fetched if not r.ok]
    if bad or len(fetched) != len(parts):
        raise RuntimeError(f"url ingest failed: {bad!r}")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_csv_glob(spark, os.path.join(dst, "*.csv"), schema=schema)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "revenue"),
    )


@_q(
    "sql_extract_roundtrip",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
      {SQL_SUM.format(col="l_extendedprice")} AS revenue
    FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
    """,
    doc="S5 HASH-VERIFIED (catalog path): the SQL-extract source reads a "
        "registered table through read_sql_table with a pushed-down "
        "predicate string — the same API whose jdbc_url branch talks to "
        "an external database (that branch executes for real against "
        "Spark's bundled embedded Derby in tests/test_jdbc_derby.py: "
        "write.jdbc overwrite+append, bound-partitioned reads, predicate "
        "pushdown to the remote engine — VERDICT r9 item 5) — and the "
        "extract aggregates against the oracle over the raw table.  "
        "Source: readers.py read_sql_table",
)
def _sqlrt(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    view = "sql_extract_lineitem_src"
    lineitem.createOrReplaceTempView(view)
    ext = read_sql_table(spark, view, predicate="l_quantity > 25")
    return ext.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice"), "revenue"),
    )


@_q(
    "incremental_agg_merge",
    """
    SELECT o_custkey,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
      CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_spend,
      CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_spend,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS avg_spend
    FROM orders GROUP BY o_custkey
    """,
    doc="Incremental aggregate maintenance, hash-verified against the "
        "full recompute: per-customer (count, sum, min, max) state built "
        "from history (orders before 1997-07-01), a DELTA state from just "
        "the new slice, then merge_agg_state folds them — union + "
        "re-aggregate of two KEY-SIZED state tables, no join, no history "
        "rescan.  The oracle is the direct GROUP BY over all orders, so "
        "the hash match proves the merge law (algebraic components: "
        "counts/DECIMAL sums add, min/max fold) holds cross-engine.  The "
        "100 TB pattern: daily rollups scan only the new partition; "
        "derived stats (mean) are computed at read time so merging stays "
        "exact.  Operators: operators/incremental.py agg_state / "
        "merge_agg_state",
)
def _incr_agg(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    cut = F.lit("1997-07-01").cast("date")
    hist = orders.filter(F.col("o_orderdate").cast("date") < cut)
    delta = orders.filter(F.col("o_orderdate").cast("date") >= cut)
    d18 = "decimal(18,2)"
    merged = inc.merge_agg_state(
        inc.agg_state(hist, ["o_custkey"], "o_totalprice", d18),
        inc.agg_state(delta, ["o_custkey"], "o_totalprice", d18),
    )
    return merged.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.col("sum_v").cast("double").alias("total_spend"),
        F.col("min_v").cast("double").alias("min_spend"),
        F.col("max_v").cast("double").alias("max_spend"),
        (F.col("sum_v").cast("double") / F.col("n")).alias("avg_spend"),
    )


@_q(
    "bucketed_join_roundtrip",
    f"""
    SELECT c_nationkey,
      COUNT(*) AS n_orders,
      {SQL_SUM.format(col="o_totalprice")} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    doc="co-bucketed SHUFFLE-FREE join, hash-verified end to end: orders "
        "and customer are written as catalog tables bucketed (and "
        "sorted) on the customer key with matching bucket counts, "
        "re-read, and sort-merge-joined — the plan has NO Exchange "
        "before the join (contract-tested in test_plans.py), which is "
        "the pay-once-skip-every-future-shuffle layout for repeated "
        "100 TB fact-dim joins (the Spark-native replacement for the "
        "reference's Postgres BTREE join indexes).  The oracle is the "
        "plain join over the original parquet, so a dropped bucket, a "
        "mis-hashed row, or a bucket-pruning bug breaks the hash.  "
        "Sink: sources/writers.py write_table_bucketed",
)
def _bucketed_join(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    digest = hashlib.md5(
        os.path.abspath(os.path.normpath(sf_dir)).encode()
    ).hexdigest()[:10]
    t_o = f"automated_batch_data_pipeline_nyc_bkt_orders_{digest}"
    t_c = f"automated_batch_data_pipeline_nyc_bkt_customer_{digest}"
    # same orphan-location hygiene as table_modes_roundtrip: a prior
    # process may have left the managed directory without a catalog row
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for name in (t_o, t_c):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(wh.path or wh.netloc, name.lower())
        shutil.rmtree(loc, ignore_errors=True)
    write_table_bucketed(
        orders.select("o_custkey", "o_totalprice"),
        t_o, ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    write_table_bucketed(
        customer.select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey"
        ),
        t_c, ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    joined = spark.table(t_o).hint("merge").join(spark.table(t_c), "o_custkey")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _sum_money(F.col("o_totalprice"), "total_price"),
    )


@_q(
    "incremental_join_view",
    """
    SELECT n_name,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="incremental maintenance of an aggregate-over-JOIN view, "
        "hash-verified against the full recompute: the per-customer "
        "order state (count + DECIMAL revenue) is built from history "
        "(orders before 1997-07-01), merged with the delta slice's "
        "state via merge_agg_state (union + re-aggregate of two "
        "KEY-SIZED tables — no join, no history rescan), and only THEN "
        "joined to the broadcast customer→nation dims and rolled up per "
        "nation.  The point beyond incremental_agg_merge: the "
        "maintained state makes every downstream dim join and rollup "
        "corpus-independent — at 100 TB the nightly refresh scans the "
        "new partition once, and serving N different rollups costs N "
        "key-table joins, never N fact scans.  Operators: "
        "operators/incremental.py agg_state / merge_agg_state",
)
def _inc_join_view(spark, sf_dir):
    orders, customer, nation = _load(spark, sf_dir, "orders", "customer", "nation")
    cut = F.lit("1997-07-01").cast("timestamp")
    hist = agg_state(
        orders.filter(F.col("o_orderdate") < cut), ["o_custkey"], "o_totalprice"
    )
    delta = agg_state(
        orders.filter(F.col("o_orderdate") >= cut), ["o_custkey"], "o_totalprice"
    )
    merged = merge_agg_state(hist, delta)
    dims = customer.select("c_custkey", "c_nationkey").join(
        nation.select("n_nationkey", "n_name"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        merged.join(F.broadcast(dims), merged.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("sum_v").cast("double").alias("total_revenue"),
        )
    )


@_q(
    "txlog_time_travel",
    f"""
    WITH v1 AS (
      SELECT 'v1-open' AS snapshot, o_orderpriority,
        COUNT(*) AS n_orders,
        {SQL_SUM.format(col="o_totalprice")} AS total_price
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 2),
    v2 AS (
      SELECT 'v2-open+fulfilled' AS snapshot, o_orderpriority,
        COUNT(*) AS n_orders,
        {SQL_SUM.format(col="o_totalprice")} AS total_price
      FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 2)
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """,
    doc="ACID transaction log with time travel (sources/txlog.py — the "
        "lakehouse Delta/Iceberg primitive from first principles): open "
        "orders are committed as version 0, fulfilled orders appended "
        "as version 1, then BOTH snapshots are read back — v0 via time "
        "travel, v1 as the head — and aggregated.  The oracle "
        "aggregates the original table filtered to each version's "
        "status set, so a reader that lists the data directory instead "
        "of replaying the log (leaking the append into v0), a lost "
        "append, or a half-visible commit breaks the hash.  Readers "
        "get the explicit live-file list from the log — a crashed "
        "writer's staging dir is invisible by construction; the commit "
        "point is a put-if-absent on the version file (optimistic "
        "concurrency).  Log replay is O(commits) driver-side metadata; "
        "data moves only through normal parquet jobs.",
)
def _txlog_tt(spark, sf_dir):
    from ..sources import txlog

    (orders,) = _load(spark, sf_dir, "orders")
    t = _scratch(f"automated_batch_data_pipeline_nyc_txlog_{os.path.basename(os.path.normpath(sf_dir))}")
    # append semantics are stateful: start from a clean table each run
    shutil.rmtree(t, ignore_errors=True)
    v0 = txlog.commit(
        orders.filter(F.col("o_orderstatus") == "O"), t, mode="overwrite"
    )
    v1 = txlog.commit(
        orders.filter(F.col("o_orderstatus") == "F"), t, mode="append"
    )

    def _agg(df, label):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            _sum_money(F.col("o_totalprice"), "total_price"),
        ).select(F.lit(label).alias("snapshot"), "*")

    past = txlog.read_table(spark, t, version=v0)
    head = txlog.read_table(spark, t, version=v1)
    return _agg(past, "v1-open").unionByName(
        _agg(head, "v2-open+fulfilled")
    )


@_q(
    "binaryfile_ingest_roundtrip",
    """
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5
    FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    """,
    doc="S-ext binaryFile source (the multimodal INGESTION path: raw "
        "image/audio/doc files on disk -> one binary column + file "
        "metadata): the first 200 documents are staged as individual "
        "UTF-8 files, read back through Spark's binaryFile DataSource "
        "v2, and each file's byte length + md5 must hash-match the "
        "source table — REAL byte movement through the file-source "
        "scan, the url_ingest_roundtrip philosophy on the format the "
        "reference never had.  At 100 TB the same reader points at an "
        "object-store glob; files partition by size "
        "(maxPartitionBytes), and decode/feature-extract kernels "
        "(operators/multimodal.py) consume the binary column via "
        "mapInPandas.  Driver-side staging here is test plumbing only "
        "(bounded at 200 tiny files, staged once per user+machine "
        "through the cross-process content-addressed _shared_stage "
        "cache, keyed on the fixture fingerprint).",
)
def _binaryfile_ingest(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = _fixture_fingerprint(sf_dir)

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        # NULL text cannot stage as a file; filter it on BOTH sides
        # (see the oracle's `text IS NOT NULL`) so the query degrades
        # consistently instead of an AttributeError on .encode if
        # fixtures ever gain NULL documents.
        rows = (
            docs.filter(
                (F.col("doc_id") < 200) & F.col("text").isNotNull()
            )
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(tmp, f"doc_{r['doc_id']}.txt"), "wb") as fh:
                fh.write(r["text"].encode("utf-8"))

    src = _shared_stage(
        f"binfiles_{os.path.basename(norm)}_{digest}", _build
    )
    files = spark.read.format("binaryFile").load(os.path.join(src, "*.txt"))
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )
