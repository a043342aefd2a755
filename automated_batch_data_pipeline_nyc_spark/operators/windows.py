"""Window / ordinal operators (SURVEY.md §2.7).

The reference's only ordinal pattern is a driver-side chunk counter
(dags/nyc_taxi_pipeline_dag.py:77-81); here the full analytic-window
surface is declared.  All of these shuffle once on the partition key
and then sort within partitions — at scale the rule is: always
``partitionBy`` a real key (a global window with no partition key is a
single-task sort and is only acceptable on small exports).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..plans.capture import checkpoint as _ckpt
from .util import epoch_micros

__all__ = [
    "ranked",
    "with_lag",
    "rolling_time_window",
    "distributed_percent_rank",
    "global_row_number",
    "sessionize",
    "merge_intervals",
]


def _spec(partition_by: Sequence[str], order_by: Sequence[Column | str]) -> WindowSpec:
    w = Window.partitionBy(*partition_by) if partition_by else Window.partitionBy()
    return w.orderBy(*order_by)


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    out_col: str = "rn",
    method: str = "row_number",
) -> DataFrame:
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    return df.withColumn(out_col, fn().over(_spec(partition_by, order_by)))


def with_lag(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    offset: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    out_col = out_col or f"{col}_lag{offset}"
    return df.withColumn(out_col, F.lag(col, offset).over(_spec(partition_by, order_by)))


def rolling_time_window(
    df: DataFrame,
    partition_by: Sequence[str],
    ts_col: str,
    agg_col: str,
    window_seconds: int = 3600,
    prefix: str = "w",
) -> DataFrame:
    """Trailing time-RANGE window: per key, aggregate everything whose
    timestamp falls in ``[ts - window_seconds, ts]`` — event-time
    rolling counts/sums, the time-series "hypertable" primitive.

    Unlike a ROWS frame, the extent is value-based: ties and gaps in
    event time are handled exactly.  The frame is declared over integer
    epoch-microseconds so the bound arithmetic is integral (bit-exact
    cross-engine, no sub-second truncation drift) and works for both
    TIMESTAMP and TIMESTAMP_NTZ inputs in any session timezone.  One
    shuffle on the key; within partitions Spark keeps a sliding frame,
    so cost is O(rows) amortized, not O(rows x frame).
    """
    us = epoch_micros(df, ts_col)
    spec = (
        Window.partitionBy(*partition_by)
        .orderBy(us)
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    return df.withColumns({
        f"{prefix}_count": F.count("*").over(spec),
        f"{prefix}_sum": F.sum(agg_col).over(spec),
    })


def distributed_percent_rank(
    df: DataFrame,
    partition_by: str,
    value_col: str,
    pr_col: str = "pr",
    cd_col: str = "cd",
) -> DataFrame:
    """percent_rank + cume_dist without the single-task-per-group window.

    ``F.percent_rank().over(partitionBy(g).orderBy(v))`` sorts each
    whole group in ONE task — with a handful of groups, parallelism is
    capped at the group count no matter the cluster (measured 9.5x
    super-linear on the 10x fixture step).  This computes the same
    numbers from the per-(group, value) histogram instead:

      rank(v)     = 1 + count of rows with value < v     (tie-aware)
      cume(v)     = count of rows with value <= v
      percent_rank = (rank - 1) / (n - 1);  cume_dist = cume / n

    The window now runs over the DISTINCT-VALUE table (vocabulary-
    sized), and the corpus-sized side is only ever hash-joined on
    (group, value) — every stage fully parallel.  Results are
    bit-identical to the exact window form.
    """
    hist = df.groupBy(partition_by, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(partition_by).orderBy(F.asc(value_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy(partition_by)
    ranked = (
        hist.withColumn("__cum", F.sum("__cnt").over(w))
        .withColumn("__n", F.sum("__cnt").over(wg))
        .select(
            partition_by,
            value_col,
            # single-row groups: percent_rank is defined as 0, not 0/0
            F.when(F.col("__n") == 1, F.lit(0.0))
            .otherwise(
                (F.col("__cum") - F.col("__cnt")).cast("double")
                / (F.col("__n") - 1).cast("double")
            )
            .alias(pr_col),
            (F.col("__cum").cast("double") / F.col("__n").cast("double")).alias(cd_col),
        )
    )
    return df.join(ranked, on=[partition_by, value_col], how="inner")


def global_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = 64,
    out_col: str = "i",
    _keep_bucket: bool = False,
) -> DataFrame:
    """Distributed ``ROW_NUMBER() OVER (ORDER BY value, tiebreak)`` —
    1-based, total order, NO single-task global sort.

    The naive form puts the entire frame through one unpartitioned
    Window task; fine for a 25-row dim, a scale-killer on anything that
    grows with the fact table.  This is the two-level prefix scan of
    ``operators/stats.py::_two_sample_running_counts`` applied to
    ranking:

    1. range-bucket rows on ``value_col`` into ``n_buckets`` splits of
       ``[min, max]`` (the 1-row min/max aggregate broadcasts — no
       driver collect).  The bucket index is monotone in the value, so
       cross-bucket order is free and ties always share a bucket;
    2. ``row_number`` within each bucket via a window PARTITIONED by
       bucket, ordered by ``(value, tiebreak)``;
    3. exclusive running bucket-count offsets via a window over the
       TINY ``n_buckets``-row total table, broadcast back.

    ``out_col = offset + local_rn`` equals the global row number
    bit-for-bit for ANY bucket assignment that is non-decreasing along
    the ``(value, tiebreak)`` total order — bucket boundaries affect
    only task placement, never the result.  That freedom is used for
    skew resistance (VERDICT r6 item 3):

    - buckets are **equi-depth**: boundaries come from
      ``percentile_approx(value, i/n_buckets)``, so a heavy-tailed
      value distribution (revenue concentration — most mass in a few
      low values) still spreads ~evenly across tasks, where the old
      equi-width ``[min, max]`` splits degenerated toward one task;
    - **heavy ties split on the tiebreak**: a value spanning ≥2
      quantile cutpoints (e.g. a 99%-identical column) is sub-bucketed
      by equi-depth cutpoints of *tiebreak_col* among its ties (only
      when the tiebreak is numeric — non-numeric tiebreaks keep ties
      in one bucket, documented skew bound = largest tie class).

    ``value_col`` must be non-null — a NULL raises loudly inside the
    job (``raise_error``) instead of silently dropping the row
    (ADVICE r6).  ``(value, tiebreak)`` must be a total order for the
    result to be deterministic.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    vnull = F.raise_error(
        F.lit(
            f"global_row_number: NULL in value_col {value_col!r} — "
            "filter NULLs first or rank them explicitly"
        )
    )
    v = F.col(value_col).cast("double")
    if n_buckets == 1:
        local = df.withColumn(
            "__b", F.when(F.col(value_col).isNull(), vnull).otherwise(F.lit(0))
        )
    else:
        from .util import sorted_array_rank

        qs = [i / n_buckets for i in range(1, n_buckets)]
        # 1-row aggregate — broadcasts, no driver collect; staged
        # because both the bucket assignment and the heavy-tie probe
        # consume it (unstaged, the percentile pass runs per consumer)
        cuts = _ckpt(
            df.agg(
                F.percentile_approx(v, qs, 1_000).alias("__cuts")  # placement-only; r13 cheaper summary
            ),
            eager=False,
            label="global_row_number_cuts",
        )
        # bucket = #{cuts < v} via sqrt-decomposition (~2*sqrt(n) HOF
        # steps/row) — a full per-row fold over n_buckets-1 cuts is
        # interpreted work, ~10 s/eval at sf0.1 with 1024 buckets
        base = sorted_array_rank(F.col("__cuts"), v, n_buckets - 1)
        local = (
            df.crossJoin(F.broadcast(cuts))
            .withColumn(
                "__b", F.when(F.col(value_col).isNull(), vnull).otherwise(base)
            )
            .drop("__cuts")
        )
        # Tie-splitting: a value equal to m>=2 cutpoints holds ~m/n of
        # the data in one bucket.  Spread its ties over m sub-buckets
        # by the tiebreak's own quantiles (fixed n_buckets-grid so the
        # percentile literal stays foldable; sub = floor(q*m) keeps the
        # assignment monotone in tiebreak, so offsets stay exact).
        from pyspark.sql.types import NumericType

        if isinstance(df.schema[tiebreak_col].dataType, NumericType):
            heavy = (
                cuts.select(F.explode("__cuts").alias("__hv"))
                .groupBy("__hv")
                .agg(F.count(F.lit(1)).alias("__m"))
                .filter(F.col("__m") >= 2)
            )  # <= n_buckets-1 rows
            t = F.col(tiebreak_col).cast("double")
            tcuts = (
                local.join(F.broadcast(heavy), v == F.col("__hv"), "inner")
                .groupBy("__hv", "__m")
                .agg(F.percentile_approx(t, qs, 1_000).alias("__tcuts"))  # placement-only
            )
            # NULL __tcuts (non-heavy rows) NULL-propagates through the
            # rank; the coalesce below maps it to sub-bucket 0
            tq = sorted_array_rank(F.col("__tcuts"), t, n_buckets - 1)
            sub = F.floor(tq * F.col("__m") / F.lit(n_buckets)).cast("int")
            local = (
                local.join(F.broadcast(tcuts), v == F.col("__hv"), "left")
                .withColumn(
                    "__b", F.col("__b") + F.coalesce(sub, F.lit(0))
                )
                .drop("__hv", "__m", "__tcuts")
            )
    w_in = Window.partitionBy("__b").orderBy(value_col, tiebreak_col)
    local = local.withColumn("__il", F.row_number().over(w_in))
    btot = local.groupBy("__b").agg(F.count(F.lit(1)).alias("__bc"))
    w_excl = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b", F.coalesce(F.sum("__bc").over(w_excl), F.lit(0)).alias("__off")
    )
    out = (
        local.join(F.broadcast(boff), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__il")).cast("long"))
        .drop("__il", "__off")
    )
    # _keep_bucket exposes the placement column so tests can assert the
    # skew bound (heavy ties spread across tasks); never set in queries.
    return out if _keep_bucket else out.drop("__b")


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the user's previous event exceeds *gap*.

    Classic two-window formulation (both windows share one shuffle on
    the user key): flag session starts with ``lag``, then
    ``sum(flag)`` as a running session ordinal.  The tie-break column
    makes the ordering total, so session ids are deterministic under
    any partitioning — which is what lets a SQL oracle verify this
    bit-for-bit.  The streaming twin (arbitrary-state sessionizer over
    ``applyInPandasWithState``) lives in streaming/jobs.py.
    """
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    prev_ts = F.lag(ts_col).over(w)
    new_session = F.when(
        prev_ts.isNull() | (F.col(ts_col) - prev_ts > F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    out = df.withColumn("__new_session", new_session)
    run = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return out.withColumn(
        "session_id", F.sum("__new_session").over(run).cast("long")
    ).drop("__new_session")


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Union of overlapping/touching intervals per key (gaps-and-islands):
    ``(key, merged_start, merged_end, n_merged)``.

    The coverage/availability primitive — stitching rental periods,
    maintenance windows, session spans — and the dual of
    :func:`~.joins.interval_overlap_join` (which FINDS overlaps; this
    DISSOLVES them).  Classic cummax formulation: an interval opens a
    new island iff its start exceeds the running max end of everything
    before it in (start, end) order; the island id is the running count
    of such openings.  Two windows over the same (key → start, end)
    ordering — ONE shuffle, one partition-local sort, no self-join, no
    explode: at 100 TB this is a sort-based linear scan per key, where
    the naive interval self-join would be quadratic per key.
    Intervals that merely touch (start == previous end) merge.
    """
    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    island = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(key_col), F.col(start_col), F.col(end_col))
        .withColumn("__island", island)
        .groupBy(key_col, "__island")
        .agg(
            F.min(start_col).alias("merged_start"),
            F.max(end_col).alias("merged_end"),
            F.count("*").alias("n_merged"),
        )
        .drop("__island")
    )
