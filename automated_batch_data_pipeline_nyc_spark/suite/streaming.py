"""Structured Streaming queries, each bit-matched to a batch oracle.
``_stage_stream_src`` stages a fixture as a file stream source and
``_run_stream_to_table`` drains a stream into a table the query reads."""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.stats import countmin_sketch
from .registry import SQL_SUM, _load, _q, _sum_money
from .staging import _fixture_fingerprint, _scratch, _shared_stage


def _stage_stream_src(spark, sf_dir: str, tag: str, df: DataFrame) -> str:
    """Write ``df`` to a per-(sf,tag) staging dir for the file-source
    stream — cross-process content-addressed (``_shared_stage``): the
    feed is a pure derivation of the fixture tables, so one machine-wide
    copy serves every suite/bench/verify run."""
    # Key on the fixture CONTENT fingerprint (path + per-parquet
    # size/mtime): distinct roots sharing a basename never collide, and
    # regenerated fixtures at the same path rebuild instead of serving
    # stale derived bytes.
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = _fixture_fingerprint(sf_dir)
    return _shared_stage(
        f"stream_{tag}_{os.path.basename(norm)}_{digest}",
        lambda tmp: df.repartition(4).write.mode("overwrite").parquet(tmp),
    )


#: State-store partition count for the suite's stateful streams.
#: ``spark.sql.shuffle.partitions`` at FIRST query start fixes the
#: state layout for a checkpoint's lifetime, and the r9 profile
#: (SCALING.md "where streaming wall time actually goes") measured the
#: suite's streaming wall as ~2-3 s per partition-commit WAVE of
#: HDFSBackedStateStore snapshot+commit — fixed protocol cost per
#: store partition, unrelated to the kB of state these feeds carry.
#: These verification streams restart from FRESH checkpoints every run
#: (uuid-named memory sinks), so nothing is baked in: 8 partitions is
#: right-sized for the backlog the bench actually drains (VERDICT r9
#: item 3: 32 -> 8 cuts the sequential commit waves 4x and with them
#: the family's host-load spread).  A production deployment sizes this
#: to its cluster ONCE at first start — the scope helper below is the
#: engine making that capacity decision explicit per stream instead of
#: inheriting whatever the session default happens to be.
_STREAM_STATE_PARTITIONS = 8


class _stream_conf_scope:
    """Scope ``spark.sql.shuffle.partitions`` around a stream's whole
    start->drain window (the value is latched into the query's offset
    metadata at batch-0 planning, so the scope must cover the drain,
    not just ``.start()``).  The suite/bench/driver run queries
    sequentially, so a set/restore on the shared session is safe here;
    it is NOT a general concurrent-session tool."""

    _KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark, n: int = _STREAM_STATE_PARTITIONS):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._old = self._spark.conf.get(self._KEY)
        self._spark.conf.set(self._KEY, str(self._n))

    def __exit__(self, *exc):
        self._spark.conf.set(self._KEY, self._old)
        return False


def _run_stream_to_table(
    agg, mode: str, no_data_batches: bool | None = None
) -> str:
    """availableNow the streaming frame into a uniquely-named memory
    sink; return the table name.

    ``no_data_batches=False`` skips the trailing empty micro-batch that
    availableNow otherwise runs to advance the watermark (VERDICT r11
    item 7: measured 0.7-0.9 s of pure state-store commit waves, ~40%
    of the interval join's wall).  ONLY valid for sinks whose every row
    is emitted by the data batches themselves.  Complete-mode sinks are
    categorically such (every batch re-emits the full result), so the
    default (``None``) derives the skip from ``mode`` — no per-site
    flag to forget; append/update sites must opt in EXPLICITLY because
    the answer depends on the operator: inner stream-stream joins and
    pass-through dedup emit on arrival (safe), append/update windowed
    and session aggregates NEED that batch to flush closed windows."""

    if no_data_batches is None:
        no_data_batches = mode != "complete"
    name = f"strm_{uuid.uuid4().hex[:8]}"
    spark_ = agg.sparkSession
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    nd_old = spark_.conf.get(nd_key)
    with _stream_conf_scope(spark_):
        # latched at query start, so set before .start() and restore
        # after the drain completes (a leaked "false" would silently
        # drop the final-window flush of a LATER append-mode agg)
        spark_.conf.set(nd_key, "true" if no_data_batches else "false")
        try:
            q = (
                agg.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            try:
                # awaitTermination returns False on timeout; stopping a
                # stream mid-backlog would silently aggregate PARTIAL
                # results, so a timeout must be an error, never a
                # truncated answer.  600 s is ~60x the observed sf0.01
                # drain time — headroom for the host's measured 2-8x
                # allocation swings during driver verification.
                if not q.awaitTermination(600):
                    raise TimeoutError(
                        f"stream {name} did not drain its backlog within 600s"
                    )
            finally:
                q.stop()
        finally:
            spark_.conf.set(nd_key, nd_old)
    return name


@_q(
    "streaming_hourly_counts",
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
    doc="§2.8 Structured Streaming, hash-verified against the BATCH oracle: "
        "events staged to a file-source dir, availableNow micro-batches, "
        "tumbling 1-hour windows into a complete-mode memory sink — decimal "
        "money sums make the streaming result bit-identical to the batch SQL, "
        "so the driver verifies the streaming engine itself, not a weaker "
        "rows-only check",
)
def _stream_hourly(spark, sf_dir):
    from ..streaming.jobs import read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    # window() needs concrete event time; the batch oracle filters the
    # same NULL rows so the group sets align.  Cross-process
    # content-addressed staging (r10: this was the last stream feed
    # still re-written per process through _scratch — ~2-4 s of
    # non-engine time per fresh run at sf0.1).
    src = _stage_stream_src(
        spark, sf_dir, "hourly", events.filter(F.col("ts").isNotNull())
    )
    agg = (
        read_event_stream(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
    )
    # Route through the shared runner (r10 review finding: this inline
    # copy ignored awaitTermination's boolean, so a timeout would have
    # silently returned a PARTIAL complete-mode aggregate — the exact
    # truncated-answer failure _run_stream_to_table exists to forbid).
    name = _run_stream_to_table(agg, "complete")
    # The stream reads the NTZ parquet through an LTZ schema (watermark
    # compatibility), so w.start's *epoch* micros equal the fixture's
    # wall-clock micros.  Rebuild the NTZ wall clock from that integer —
    # tz-independent, unlike a bare LTZ collect, which would shift by
    # the consumer session's zone offset and break the oracle hash.
    return spark.table(name).select(
        F.expr(
            "timestampadd(MICROSECOND, unix_micros(w.start),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("hour_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@_q(
    "streaming_sessionize",
    """
    WITH e AS (
      SELECT user_id, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts)
                    OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e),
    sid AS (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m),
    sess AS (
      SELECT user_id, sess, MIN(ts) AS session_start, MAX(ts) AS session_end,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sid GROUP BY user_id, sess),
    last AS (SELECT user_id, MAX(sess) AS last_sess FROM sess GROUP BY user_id)
    SELECT s.user_id, s.session_start, s.session_end, s.n_events
    FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sess < l.last_sess
    """,
    doc="§2.8 custom stateful streaming operator, hash-verified: gap-based "
        "(30 min) sessionization via applyInPandasWithState "
        "(streaming/jobs.py sessionize_stream), tz-proof as_micros mode — "
        "event time reduced to epoch-micro longs JVM-side before the Arrow "
        "hop, sessions rebuilt as TIMESTAMP_NTZ wall clock after.  The "
        "stream emits a session only when a later same-user event closes "
        "it, so the batch oracle excludes each user's final (still-open) "
        "session — the exact emission semantics, stated in SQL.  State is "
        "bounded by active users; one state shuffle total.",
)
def _stream_sessionize(spark, sf_dir):
    from ..streaming.jobs import read_event_stream, sessionize_stream

    (events,) = _load(spark, sf_dir, "events")
    src = _stage_stream_src(
        spark, sf_dir, "sess",
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()),
    )
    sessions = sessionize_stream(
        read_event_stream(spark, src), gap_s=1800, as_micros=True
    )
    name = _run_stream_to_table(sessions, "update")
    ntz = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return spark.table(name).select(
        "user_id",
        F.expr(f"timestampadd(MICROSECOND, session_start_us, {ntz})").alias(
            "session_start"
        ),
        F.expr(f"timestampadd(MICROSECOND, session_end_us, {ntz})").alias(
            "session_end"
        ),
        "n_events",
    )


@_q(
    "streaming_dedup_counts",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
      {SQL_SUM.format(col="value")} AS total_value
    FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    """,
    doc="§2.8 streaming exact dedup with bounded state, hash-verified: the "
        "staged stream carries every 7th event RE-DELIVERED (duplicates "
        "injected per FIXTURES.md policy — the fixtures themselves are "
        "dup-free), dropDuplicatesWithinWatermark(event_id) suppresses the "
        "re-deliveries with state bounded by the watermark horizon, and "
        "the surviving rows aggregate to EXACTLY the original table's "
        "count/sum (duplicates are byte-identical, so survivor choice "
        "cannot change the aggregate).  n_rows == n_unique proves the "
        "dedup actually fired.",
)
def _stream_dedup(spark, sf_dir):
    from ..streaming.jobs import dedup_stream, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("event_id").isNotNull() & F.col("ts").isNotNull()
    )
    redelivered = base.filter(F.col("event_id") % 7 == 0)
    src = _stage_stream_src(
        spark, sf_dir, "dedup", base.unionAll(redelivered)
    )
    # horizon must cover the fixture's full span (~30 days): with a
    # shorter watermark a multi-batch source could evict dedup state
    # while re-deliveries are still arriving
    deduped = dedup_stream(
        read_event_stream(spark, src), ["event_id"], ts_col="ts",
        watermark="1440 hours",
    )
    name = _run_stream_to_table(deduped, "append", no_data_batches=False)
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_unique"),
        _sum_money(F.col("value"), "total_value"),
    )


@_q(
    "streaming_enriched_totals",
    f"""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col="e.value")} AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL AND e.value IS NOT NULL
    GROUP BY n.n_name
    """,
    doc="§2.8 stream-static join, hash-verified: each micro-batch of the "
        "event stream is enriched against the (static, re-planned per "
        "batch) nation dimension via broadcast — no stream-side shuffle, "
        "no state store for the join — then aggregated complete-mode.  "
        "The synthetic user_id%25 key exercises the join; decimal sums "
        "make streaming == batch bit-exact.",
)
def _stream_enrich(spark, sf_dir):
    from ..streaming.jobs import enrich_stream_static, read_event_stream

    events, nation = _load(spark, sf_dir, "events", "nation")
    base = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    src = _stage_stream_src(spark, sf_dir, "enrich", base)
    dim = nation.select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    stream = read_event_stream(spark, src).withColumn(
        "nkey", F.col("user_id") % 25
    )
    enriched = enrich_stream_static(stream, dim, on="nkey", how="inner")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_money(F.col("value"), "total_value"),
    )
    name = _run_stream_to_table(agg, "complete")
    return spark.table(name).select("n_name", "n_events", "total_value")


@_q(
    "streaming_interval_join",
    f"""
    WITH v AS (
      SELECT user_id, ts AS vts FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL),
    p AS (
      SELECT user_id, ts AS pts, value FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND ts IS NOT NULL AND value IS NOT NULL)
    SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      {SQL_SUM.format(col="p.value")} AS attributed_value
    FROM v JOIN p ON p.user_id = v.user_id
      AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
    doc="§2.8 stream-stream interval join, hash-verified: the view and "
        "purchase streams (two independent file-source readers over the "
        "same staged events) join on user with the purchase constrained to "
        "[view_ts, view_ts + 1h] — the impression→conversion attribution "
        "shape.  Both sides are watermarked and the range predicate is in "
        "the join condition, which is what lets Spark evict join state "
        "once the other side's watermark passes view_ts + 1h (bounded "
        "state; without the range bound the state store grows forever).  "
        "Inner stream-stream join emits each matched pair exactly once, "
        "so the appended pairs aggregate bit-identically to the batch "
        "join oracle (decimal sums).",
)
def _stream_interval_join(spark, sf_dir):
    from ..streaming.jobs import join_streams_interval, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # tag "sess" on purpose: this frame is byte-identical to the one
    # streaming_sessionize stages (same user/ts null filter), so the two
    # queries share one staging write via the _shared_stage key.
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    views = (
        read_event_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    purchases = (
        read_event_stream(spark, src)
        .filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
    )
    joined = join_streams_interval(
        views.withColumnRenamed("user_id", "u"),
        purchases.withColumnRenamed("p_user", "u"),
        key="u",
        left_ts="v_ts",
        right_ts="p_ts",
        within="1 hour",
        # horizon covers the fixture's full span: availableNow may split
        # the staged files into multiple micro-batches, and a short
        # watermark would evict join state mid-backlog (same reasoning
        # as streaming_dedup_counts)
        watermark="1440 hours",
    )
    # inner stream-stream join: every match emits in the data batch it
    # completes in, so the trailing watermark-advancing empty batch is
    # pure state-store commit cost (VERDICT r11 item 7) — skip it
    name = _run_stream_to_table(joined, "append", no_data_batches=False)
    return spark.table(name).groupBy(F.col("u").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        _sum_money(F.col("value"), "attributed_value"),
    )


@_q(
    "streaming_ewma",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    a AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id)
    SELECT user_id, n_events,
      round(list_reduce(vs, (s, x) -> 0.3 * x + 0.7 * s), 6) AS ewma
    FROM a
    """,
    doc="STREAMING per-key EWMA, hash-verified against the batch fold: "
        "applyInPandasWithState carries exactly (s, last_ts, n) per key "
        "and folds each micro-batch's time-sorted rows into it — the "
        "online-smoother state every monitoring pipeline maintains.  "
        "The Python kernel computes 0.3*x + 0.7*s on IEEE doubles in "
        "the same order as the batch JVM fold and DuckDB's list_reduce, "
        "so the terminal state per key is bit-identical to the batch "
        "answer (update-mode emissions; the final row per key wins via "
        "a combinable struct max on the strictly-increasing count).  "
        "State is O(active keys) x 3 scalars — the minimal stateful "
        "operator footprint.",
)
def _stream_ewma(spark, sf_dir):
    from ..streaming.jobs import ewma_stream, read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # identical frame to the sessionizer's staging -> shared dir
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    out = ewma_stream(read_event_stream(spark, src))
    name = _run_stream_to_table(out, "update")
    final = spark.table(name).groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.round(F.col("s.ewma"), 6).alias("ewma"),
    )


@_q(
    "streaming_countmin",
    """
    WITH cells AS (
      SELECT i AS row,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
          % 256 AS bucket
      FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) h
      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY 1, 2
    """,
    doc="STREAMING Count-Min sketch, hash-verified against the batch "
        "oracle: the same countmin_sketch operator runs unchanged on a "
        "file-source stream (stateless cell explode + complete-mode "
        "count), and because sketch cells are LINEAR the incrementally "
        "maintained sketch is bit-identical to the batch one — the "
        "property that lets a streaming job keep live heavy-hitter "
        "counts whose merged state equals a from-scratch rebuild.  "
        "4x256 cells of per-user occurrence counts; DuckDB rebuilds the "
        "identical sketch via the portable md5 hash family.  Operators: "
        "operators/stats.py countmin_sketch over streaming/jobs.py "
        "read_event_stream",
)
def _scountmin(spark, sf_dir):
    from ..streaming.jobs import read_event_stream

    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # identical frame to the sessionizer's staging -> shared dir
    src = _stage_stream_src(spark, sf_dir, "sess", base)
    sk = countmin_sketch(read_event_stream(spark, src), "user_id", depth=4, width=256)
    name = _run_stream_to_table(sk, "complete")
    return spark.table(name).select(
        "row", "bucket", F.col("cnt").cast("long").alias("cnt")
    )


@_q(
    "streaming_upsert_apply",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
    target0 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        CAST(0 AS BIGINT) AS seq
      FROM base WHERE o_orderkey % 4 <> 0),
    feed AS (
      SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
        o_totalprice + 50.0 AS o_totalprice, CAST(1 AS BIGINT) AS seq
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 100.0,
        CAST(2 AS BIGINT)
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'I', o_totalprice, CAST(1 AS BIGINT)
      FROM base WHERE o_orderkey % 4 = 0),
    latest AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, seq
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM feed)
      WHERE rn = 1)
    SELECT
      coalesce(l.o_orderkey, t.o_orderkey) AS o_orderkey,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_custkey
           ELSE t.o_custkey END AS o_custkey,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_orderstatus
           ELSE t.o_orderstatus END AS o_orderstatus,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_totalprice
           ELSE t.o_totalprice END AS o_totalprice,
      CASE WHEN l.o_orderkey IS NOT NULL THEN l.seq ELSE t.seq END AS seq
    FROM target0 t FULL OUTER JOIN latest l ON t.o_orderkey = l.o_orderkey
    """,
    doc="§2.8 streaming MERGE sink, hash-verified end to end: a CDC-style "
        "feed (two versioned updates per touched key + inserts of keys "
        "absent from the target) streams through foreachBatch, each "
        "micro-batch collapses to latest-seq-wins and MERGEs into a "
        "catalog target table initialized from the pre-update slice — "
        "the idiomatic bridge from a stream to any batch-only sink, "
        "idempotent on replay (checkpoint + key-deduped MERGE).  The "
        "feed is staged partitioned BY KEY so both versions of a key "
        "share a file: micro-batch boundaries then can't reorder a "
        "key's versions, making the final table deterministic however "
        "availableNow splits the backlog.  The oracle replays the same "
        "latest-wins MERGE in SQL over the original orders — a lost "
        "update, doubled insert, or stale-version win breaks the hash.  "
        "Sink: streaming/jobs.py foreach_batch_upsert",
)
def _stream_upsert(spark, sf_dir):
    from ..streaming.jobs import foreach_batch_upsert

    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    target0 = base.filter(F.col("o_orderkey") % 4 != 0).withColumn(
        "seq", F.lit(0).cast("long")
    )
    upd = base.filter(F.col("o_orderkey") % 10 == 0)
    feed = (
        upd.select(
            "o_orderkey",
            "o_custkey",
            F.lit("U1").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(50.0)).alias("o_totalprice"),
            F.lit(1).cast("long").alias("seq"),
        )
        .unionByName(
            upd.select(
                "o_orderkey",
                "o_custkey",
                F.lit("U2").alias("o_orderstatus"),
                (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
                F.lit(2).cast("long").alias("seq"),
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 4 == 0).select(
                "o_orderkey",
                "o_custkey",
                F.lit("I").alias("o_orderstatus"),
                F.col("o_totalprice"),
                F.lit(1).cast("long").alias("seq"),
            )
        )
    )
    norm = os.path.abspath(os.path.normpath(sf_dir))
    digest = hashlib.md5(norm.encode()).hexdigest()[:10]
    table = f"automated_batch_data_pipeline_nyc_upsert_{digest}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for name in (table, f"{table}__staged"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = os.path.join(wh.path or wh.netloc, name.lower())
        shutil.rmtree(loc, ignore_errors=True)
    target0.write.saveAsTable(table)
    # keyed staging (NOT _stage_stream_src's round-robin): both versions
    # of a key must share a file so batch splits can't reorder them
    src = _shared_stage(
        f"stream_upsertfeed_{os.path.basename(norm)}_{_fixture_fingerprint(sf_dir)}",
        lambda tmp: feed.repartition(4, "o_orderkey")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    stream = spark.readStream.schema(feed.schema).parquet(src)
    ckpt = _scratch(f"automated_batch_data_pipeline_nyc_ckpt_upsert_{uuid.uuid4().hex[:8]}")
    # scope the shuffle width around the drain: the stream itself is
    # stateless, but every micro-batch's foreachBatch MERGE join plans
    # with the session's shuffle.partitions — 8 is right-sized for the
    # per-batch increments this feed carries (fresh checkpoint per run,
    # nothing baked in)
    with _stream_conf_scope(spark):
        q = foreach_batch_upsert(stream, table, ["o_orderkey"], ckpt, "seq")
        try:
            if not q.awaitTermination(600):
                raise TimeoutError(
                    "streaming upsert did not drain within 600s"
                )
        finally:
            q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "seq"
    )
