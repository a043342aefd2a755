"""Structured Streaming surface (SURVEY.md §2.8).

The reference is batch-only; its README claims (but never implements)
monthly incremental loading (README.md:220-222).  This module supplies
the streaming equivalent of the reference's hour-bucket enrichment
(F1/F2): a file-source stream over the events table, watermarked
tumbling-window aggregation, and an append-mode Parquet sink.

Scale notes:
- File source discovers new files per micro-batch — the idiomatic
  incremental-load mechanism (new month = new partition directory).
- The watermark bounds state: late events beyond 1 hour are dropped
  rather than growing the state store without bound.
- ``trigger(availableNow=True)`` gives batch-like "process the backlog
  then stop" semantics — used by tests and by incremental backfills.
- **Size the state layout deliberately**: ``spark.sql.shuffle.
  partitions`` at a stateful query's FIRST start fixes its state-store
  partition count for the checkpoint's lifetime, and each store
  partition pays a fixed snapshot+commit protocol cost per micro-batch
  regardless of how little state it holds (profiled in SCALING.md
  round 9: commit waves, not data, dominated small-backlog wall time).
  Set it to match your cluster/arrival rate BEFORE the first start —
  the suite's own verification streams scope it per stream
  (``suite.streaming._stream_conf_scope``), which is the pattern to copy for
  short-lived or bench-sized streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.capture import checkpoint as _ckpt

__all__ = [
    "EVENTS_STREAM_SCHEMA",
    "read_event_stream",
    "windowed_event_counts",
    "sessionize_stream",
    "enrich_stream_static",
    "join_streams_interval",
    "ewma_stream",
    "dedup_stream",
    "foreach_batch_upsert",
    "foreach_batch_upsert_partitioned",
    "write_stream_to_parquet",
    "stream_txlog_sink",
]

#: Schema must be explicit for streaming file sources (no inference).
#: ``ts`` stays TIMESTAMP (LTZ) because watermarks reject TIMESTAMP_NTZ
#: event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).  Reading the NTZ
#: parquet fixtures through an LTZ schema keeps the stored wall-clock
#: micros as epoch micros unshifted, so window arithmetic is exact; a
#: consumer that needs wall-clock output in a non-UTC session converts
#: with ``timestampadd(MICROSECOND, unix_micros(col), NTZ epoch)``
#: (tz-independent), as the `streaming_hourly_counts` query (`suite/streaming.py`) does.
EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window per-type counts with late-data watermark — the
    streaming rendition of the reference's hour-bucket CASE (M1/F1)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    as_micros: bool = False,
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization over
    ``applyInPandasWithState`` — the streaming twin of
    ``operators.windows.sessionize``.

    Per-user state carries (session_start, last_ts, n_events); a
    session is EMITTED when a later event from the same user arrives
    past the gap (so each user's final session stays open in the state
    store — batch comparison must exclude per-user last sessions).
    State is bounded by active users, not history; at scale add an
    event-time timeout to flush idle users.

    ``as_micros=True`` is the tz-proof path: the event time is reduced
    to integer epoch micros JVM-side (``unix_micros``) BEFORE the
    Arrow hop, and sessions come back as ``session_start_us`` /
    ``session_end_us`` longs.  The default timestamp path round-trips
    through pandas naive datetimes, which Spark anchors to
    ``spark.sql.session.timeZone`` — fine inside one session, shifted
    when a UTC-written fixture is read by a non-UTC consumer.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if as_micros:
        out_schema = T.StructType([
            T.StructField("user_id", T.LongType(), False),
            T.StructField("session_start_us", T.LongType(), False),
            T.StructField("session_end_us", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
        ])
    else:
        out_schema = T.StructType([
            T.StructField("user_id", T.LongType(), False),
            T.StructField("session_start", T.TimestampType(), False),
            T.StructField("session_end", T.TimestampType(), False),
            T.StructField("n_events", T.LongType(), False),
        ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ])
    gap_us = gap_s * 1_000_000
    emit_micros = as_micros

    # closure-pure kernel: stdlib + pandas only (workers import nothing
    # from this package)
    def fn(key, pdfs, state: GroupState):
        import pandas as _pd

        rows = _pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        if emit_micros:
            ts_us = rows["ts"].astype("int64")  # already epoch micros
        else:
            # Arrow hands timestamps to pandas as datetime64[ns];
            # normalize to us before integer math so epoch arithmetic
            # is unit-stable.
            ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = n = None
        closed = []
        for t in ts_us:
            t = int(t)
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > gap_us:
                closed.append((int(key[0]), start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((start_us, last_us, n))
        if closed:
            if emit_micros:
                cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
                yield _pd.DataFrame(closed, columns=cols)
            else:
                out = _pd.DataFrame(
                    closed,
                    columns=["user_id", "session_start", "session_end", "n_events"],
                )
                out["session_start"] = _pd.to_datetime(out["session_start"], unit="us")
                out["session_end"] = _pd.to_datetime(out["session_end"], unit="us")
                yield out

    clean = stream.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    if as_micros:
        clean = clean.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros(F.col(ts_col)).alias("ts"),
        )
    else:
        clean = clean.select(
            F.col(user_col).alias("user_id"), F.col(ts_col).alias("ts")
        )
    return clean.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def enrich_stream_static(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension
    table.

    The static side is re-planned per micro-batch (so slowly-changing
    dims refresh without restarting the query) and is broadcast when
    small — no stream-side shuffle, no state store.  This is the
    streaming rendition of the reference's lookup-enrichment joins.
    """
    return stream.join(F.broadcast(dim), on=on, how=how)


def ewma_stream(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.3,
) -> DataFrame:
    """Streaming per-key EWMA: the stateful twin of the batch array fold
    (`ewma_by_user` in `suite/analytics.py`).  State per key is exactly (s, last_us, last_id,
    n) — the smoothed value, the last event time consumed, the id of the
    last row consumed (tie-straddle guard), and the count; each
    micro-batch sorts its rows by (event time, ``id_col`` tiebreak) and
    folds them into the carried state, then emits the updated
    (key, n_events, ewma) row.  The output key column is named and typed
    after ``key_col``.

    Ordering contract: the fold is order-sensitive.  Within a batch the
    kernel sorts; ACROSS batches arrival must be (event time,
    ``id_col``)-ordered — the kernel enforces this with the carried
    (last-seen timestamp, last-seen id) pair and RAISES on out-of-order
    arrival instead of silently mis-smoothing.  The id carry closes the
    tie-straddle hole: a row whose timestamp EQUALS the carried
    last-seen timestamp but whose id sorts before the carried id would
    silently diverge from the batch oracle's (ts, id) fold order, so it
    raises too.  (An availableNow read with no file cap lands
    everything in one batch and trivially satisfies the contract; a
    chunked incremental load — e.g. maxFilesPerTrigger — must deliver
    (ts, id)-ordered chunks, as the tests' range-partitioned staging
    does.)  Production late-data policy is the standard online-EWMA
    one: pair with a watermark and accept that late rows never
    retroactively re-smooth.

    Checkpoint compatibility: the state tuple grew from (s, last_us, n)
    to (s, last_us, last_id, n) when the tie-straddle guard landed.
    applyInPandasWithState pins the state schema in the checkpoint, so
    resuming a pre-guard checkpoint with this kernel is NOT supported —
    start from a fresh checkpoint after upgrading.  As defense in depth
    the kernel also accepts a 3-field tuple at ``state.get`` and
    upgrades it with ``last_id=None`` (the tie-straddle guard is then
    inert for the first post-upgrade tie), in case the state store
    hands back legacy rows instead of failing fast.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = stream.schema[key_col].dataType
    id_type = stream.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(key_col, key_type, False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("ewma", T.DoubleType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("s", T.DoubleType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("last_id", id_type, True),
        T.StructField("n", T.LongType(), False),
    ])
    a = alpha
    key_name = key_col

    def fn(key, pdfs, state: GroupState):
        import pandas as _pd

        rows = _pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["__ts", "__id"]
        )
        if state.exists:
            vals = tuple(state.get)
            if len(vals) == 3:  # legacy (s, last_us, n) checkpoint
                s, last_us, n = vals
                last_id = None
            else:
                s, last_us, last_id, n = vals
        else:
            s, last_us, last_id, n = None, -1, None, 0
        ts_vals = rows["__ts"].astype("int64")
        if len(rows):
            first_ts = int(ts_vals.iloc[0])
            if first_ts < last_us:
                raise ValueError(
                    "ewma_stream: out-of-order arrival across micro-batches "
                    f"(batch min ts {first_ts} < carried {last_us}); "
                    "deliver time-ordered batches — an order-sensitive "
                    "fold cannot silently absorb this"
                )
            if (
                first_ts == last_us
                and last_id is not None
                and rows["__id"].iloc[0] < last_id
            ):
                raise ValueError(
                    "ewma_stream: tie straddles a micro-batch boundary out "
                    f"of order (ts {first_ts} == carried last ts, id "
                    f"{rows['__id'].iloc[0]!r} sorts before carried "
                    f"{last_id!r}); the (ts, id) fold order cannot be "
                    "preserved — deliver (ts, id)-ordered batches"
                )
        for v in rows["value"]:
            v = float(v)
            s = v if s is None else a * v + (1 - a) * s
            n += 1
        if len(rows):
            last_us = int(ts_vals.iloc[-1])
            lid = rows["__id"].iloc[-1]
            # numpy scalar -> native python for state serialization
            last_id = lid.item() if hasattr(lid, "item") else lid
        state.update((s, last_us, last_id, n))
        yield _pd.DataFrame(
            [(key[0], n, s)], columns=[key_name, "n_events", "ewma"]
        )

    clean = stream.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col)).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("value"),
    )
    return clean.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound.

    Matches a right-stream row to a left-stream row on ``key`` when the
    right event time falls in ``[left_ts, left_ts + within]`` — the
    click→purchase / impression→conversion attribution shape.  Both
    sides carry a watermark and the join predicate includes the time
    range, which is what lets Spark EVICT join state: a buffered left
    row can be dropped once the right watermark passes
    ``left_ts + within``, so state is bounded by
    (arrival rate × (watermark + within)) instead of growing with the
    stream.  Without the range condition the state store would have to
    keep every row forever — the #1 stream-stream-join production
    failure mode.

    Inner stream-stream join semantics: every matched pair is emitted
    exactly once (append mode), so the result is row-identical to the
    equivalent batch join — which is exactly how the suite hash-verifies
    it against the batch SQL oracle.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        # qualify the left timestamp: a bare F.expr(f"{left_ts} + ...")
        # is ambiguous whenever both streams share the column name
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes — bounded state, unlike plain
    ``dropDuplicates`` on a stream which retains every key forever.
    The at-least-once file/queue sources plus this operator give
    effectively-once rows downstream.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def foreach_batch_upsert(
    stream: DataFrame,
    table: str,
    key_cols: list[str],
    checkpoint: str,
    order_col: str,
):
    """Streaming MERGE: apply each micro-batch as an upsert into a
    warehouse table via :func:`..operators.incremental.merge_upsert`.

    ``foreachBatch`` is the idiomatic bridge from a stream to any
    batch-only sink: the micro-batch DataFrame is deduplicated on the
    key (latest ``order_col`` wins) and merged.  Exactly-once comes
    from the checkpoint: a replayed batch re-merges the same rows,
    and MERGE is idempotent on the key.

    **Cost model — read before using on a large target.**  The merge
    materializes via a staging table (Spark cannot overwrite a table
    from a plan that reads it), so every micro-batch REWRITES THE
    ENTIRE TARGET — O(|table|) I/O per batch regardless of batch size.
    Correct and idempotent, fine for dim-sized targets; a scale-killer
    when the target grows with the fact stream.  The production paths
    for that regime already exist in this engine:

    - :func:`foreach_batch_upsert_partitioned` — the same MERGE
      semantics against a partitioned parquet target, rewriting ONLY
      the partitions the batch touches (O(|touched partitions|) per
      batch).
    - :func:`stream_txlog_sink` — appends ONE atomic commit per batch
      to a versioned table (O(|batch|) per batch, exactly-once via the
      txn action); compact/dedup on read or in a periodic job.
    - :func:`..operators.incremental.cdc_apply` — applies a change
      feed in a single full-outer shuffle, run at a chosen cadence
      rather than per micro-batch.
    """
    from pyspark.sql import Window

    from ..operators.incremental import merge_upsert

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not spark.catalog.tableExists(table):
            batch.limit(0).write.saveAsTable(table)
        # collapse the micro-batch to one row per key (latest order_col
        # wins) so the MERGE join is unambiguous.
        w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        current = spark.table(table)
        merged = merge_upsert(current, latest, key_cols)
        # overwrite via staging table: Spark cannot overwrite a table
        # from a plan that reads the same table.
        merged.write.mode("overwrite").saveAsTable(f"{table}__staged")
        spark.table(f"{table}__staged").write.mode("overwrite").saveAsTable(table)
        spark.sql(f"DROP TABLE IF EXISTS {table}__staged")

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_upsert_partitioned(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    checkpoint: str,
    order_col: str,
):
    """Streaming MERGE into a PARTITIONED parquet target, rewriting
    only the partitions each micro-batch touches — the scale path
    :func:`foreach_batch_upsert`'s docstring promises (VERDICT r5/r6:
    that function's full-table rewrite is O(|table|) per batch).

    Per batch: collapse to one row per key (latest ``order_col`` wins),
    list the DISTINCT ``partition_col`` values present (a tiny collect,
    bounded by partitions-touched-per-batch, never rows), read ONLY
    those partitions back (partition pruning at the scan), MERGE, and
    write with dynamic partition overwrite — untouched partitions'
    files are never read or rewritten, so per-batch I/O is
    O(|touched partitions|).  Exactly-once: the checkpoint replays a
    failed batch, and re-merging the same rows into the same partitions
    is idempotent.

    Constraint (the standard one for pruned upserts — Delta
    ``replaceWhere``, Hudi partition-path updates): ``partition_col``
    must be IMMUTABLE per key.  A key whose partition value changed
    between batches would insert into the new partition while its old
    row survives in an untouched partition; derive the partition from
    an immutable attribute (event month, signup cohort), never a
    mutable one.
    """
    from pyspark.sql import Window

    from ..operators.incremental import merge_upsert

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
        latest = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not os.path.isdir(path):
            latest.write.partitionBy(partition_col).parquet(path)
            return
        parts = [
            r[0] for r in latest.select(partition_col).distinct().collect()
        ]
        if not parts:
            return
        current = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(parts))
            .select(*latest.columns)  # align column order with the batch
        )
        merged = merge_upsert(current, latest, key_cols)
        # materialize BEFORE writing: the write overwrites the very
        # partition files the plan reads (classic self-overwrite trap);
        # eager localCheckpoint bounds the footprint to the touched
        # partitions, never the table.
        merged = _ckpt(merged, label="upsert_partitioned_merge")
        # dynamic partition overwrite replaces only the partitions
        # present in `merged` = the touched set.  Set as a WRITE option,
        # not session conf: the sink must prune correctly on a vanilla
        # session too (the driver-contract rule — static mode would
        # silently DELETE every untouched partition).
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(path)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Append-mode Parquet sink; ``availableNow`` processes the current
    backlog then stops (incremental batch)."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_txlog_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    app_id: str,
):
    """Exactly-once streaming sink into a versioned txlog table: each
    micro-batch becomes one append COMMIT (``sources/txlog.py``), so
    downstream readers always see whole batches (never a half-written
    directory), every batch boundary is a time-travelable version, and
    restart replays are deduplicated.

    Exactly-once here is the real protocol, not just checkpoint luck:
    Structured Streaming re-runs the last unacknowledged batch after a
    crash (at-least-once), and the plain parquet file sink relies on
    its own manifest to hide duplicates.  This sink instead records
    ``(app_id, batch_id)`` in each commit (Delta's ``txn`` action); a
    replayed batch is recognized in the log and skipped BEFORE any data
    is written, so the table's contents — not merely one reader's view
    — are exact.  Trade-off vs the raw parquet sink: one tiny JSON
    put-if-absent per batch; the win: atomic multi-file publication,
    concurrent batch writers (other apps appending the same table
    can't corrupt each other), and vacuum/compaction under readers.
    """
    from ..sources import txlog

    def _apply(batch: DataFrame, batch_id: int) -> None:
        txlog.commit(batch, path, mode="append", txn=(app_id, int(batch_id)))

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
