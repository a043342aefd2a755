"""Behavioral and time-series analytics: growth, retention and cohorts,
sessions and funnels, rolling and range windows, gap filling,
anomalies and change points, EWMA, drawdowns, RFM and survival."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import util as U
from ..operators import windows as W
from ..operators.stats import autocorrelation
from ..plans.capture import checkpoint as _ckpt
from .registry import D2, SQL_SUM, _load, _q, _sum_money


def _daily_revenue(spark, sf_dir: str):
    """The shared daily order-revenue spine: ``(d DATE, rev
    DECIMAL(18,2))`` — one fact shuffle reduces orders to the
    date-bounded daily table.  Extracted (VERDICT r6 item 8) so the
    time-series queries built on it (seasonal_dow_anomalies,
    acf_daily_revenue) stay in lockstep if the spine definition ever
    changes; exact DECIMAL keeps it order-independent cross-engine.
    """
    (orders,) = _load(spark, sf_dir, "orders")
    return orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )


@_q(
    "user_growth_daily",
    """
    WITH f AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
      FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    a AS (
      SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS n_active
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    n AS (SELECT first_day AS day, COUNT(*) AS n_new FROM f GROUP BY 1)
    SELECT a.day, CAST(a.n_active AS BIGINT) AS n_active,
      CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
      CAST(SUM(COALESCE(n.n_new, 0)) OVER (
        ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS cum_users
    FROM a LEFT JOIN n USING (day)
    """,
    doc="daily active / new / cumulative users: two corpus aggregations "
        "(first-seen per user, distinct-per-day) meet in a days-sized frame; "
        "the single-partition running sum runs over that tiny aggregate, "
        "never the corpus — the growth-dashboard query at any scale",
)
def _growth(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    a = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_distinct("user_id").alias("n_active")
    )
    n = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        a.join(n, "day", "left")
        .select(
            "day",
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))
    )


@_q(
    "retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    e AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      FROM events WHERE ts IS NOT NULL)
    SELECT f.cohort,
      CAST(date_diff('day', f.cohort, e.wk) / 7 AS BIGINT) AS week_offset,
      CAST(COUNT(*) AS BIGINT) AS n_users
    FROM e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="weekly retention cohort matrix: first-seen week per user joined back "
        "to the user's distinct active weeks, counted by (cohort, offset) — "
        "the user_id-keyed join co-partitions with both aggregations, and both "
        "date_trunc('week')s are Monday-aligned in both engines so the "
        "day-difference is exactly divisible by 7",
)
def _cohorts(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("ts").isNotNull())
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    e = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        e.join(f, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@_q(
    "sessionize_events",
    """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      COUNT(*) AS n_events,
      min(ts) AS session_start,
      max(ts) AS session_end
    FROM (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL '30 minutes'
               THEN 1 ELSE 0 END AS new_s
        FROM events WHERE ts IS NOT NULL
      )
    )
    GROUP BY user_id, session_id
    """,
    doc="§2.7 gap-based sessionization (30-min inactivity): lag-flag + running "
        "sum, one shuffle on user_id; deterministic via (ts, event_id) ordering",
)
def _sessions(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    s = W.sessionize(
        events.filter(F.col("ts").isNotNull()), "user_id", "ts", "event_id"
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_q(
    "rolling_hour_window",
    """
    SELECT event_id, user_id,
      CAST(COUNT(*) OVER w AS BIGINT) AS w_count,
      CAST(SUM(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS w_cents
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="trailing 1-hour event-time RANGE window per user (count + integer-cents "
        "sum): value-based frame over unix_micros so bounds are integral and "
        "bit-exact cross-engine; one shuffle on the user key, sliding-frame O(rows)",
)
def _rollhour(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    us = U.epoch_micros(base, "ts")
    spec = (
        Window.partitionBy("user_id").orderBy(us).rangeBetween(-3_600_000_000, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(spec).alias("w_count"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(spec).alias("w_cents"),
    )


@_q(
    "resample_gap_fill",
    """
    WITH b AS (
      SELECT date_trunc('hour', ts) AS hour, event_type FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM b),
    spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
    types AS (SELECT DISTINCT event_type FROM b),
    c AS (SELECT hour, event_type, COUNT(*) AS n FROM b GROUP BY hour, event_type)
    SELECT s.hour, t.event_type, COALESCE(c.n, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN c ON c.hour = s.hour AND c.event_type = t.event_type
    """,
    doc="time-series resample with gap filling: dense hour x type spine "
        "(sequence+explode from the observed span — driver-side-free) left-joined "
        "with the sparse counts, missing cells zero-filled; the spine side is "
        "spans x types (tiny, broadcast), the corpus only ever hash-aggregates",
)
def _resample(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    b = events.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(F.date_trunc("hour", "ts").alias("hour"), "event_type")
    span = b.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    spine = span.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = b.select("event_type").distinct()
    counts = b.groupBy("hour", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n_events"))
    )


@_q(
    "funnel_signup_purchase",
    """
    WITH l AS (
      SELECT user_id, min(ts) AS first_signup FROM events
      WHERE event_type = 'signup' AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase
      FROM events e JOIN l ON l.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= l.first_signup
      GROUP BY e.user_id
    )
    SELECT l.user_id, l.first_signup, p.first_purchase,
      (p.first_purchase IS NOT NULL) AS converted
    FROM l LEFT JOIN p USING (user_id)
    """,
    doc="two-step funnel: first signup, then first purchase at-or-after it, "
        "per-user conversion flag — two keyed aggregations + one join, no "
        "window over raw history (min() composes with partial aggregation)",
)
def _funnel(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    signups = (
        base.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .join(signups, "user_id")
        .filter(F.col("ts") >= F.col("first_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return signups.join(purchases, "user_id", "left").select(
        "user_id",
        "first_signup",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
    )


@_q(
    "sliding_window_counts",
    f"""
    SELECT ws AS window_start, ws + INTERVAL 30 MINUTE + INTERVAL 30 MINUTE
        AS window_end,
      event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col='value')} AS total_value
    FROM (
      SELECT event_type, value,
        unnest([time_bucket(INTERVAL '30 minutes', ts),
                time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE])
          AS ws
      FROM events WHERE ts IS NOT NULL)
    GROUP BY ws, event_type
    """,
    doc="hopping (sliding) 1-hour windows with a 30-minute slide, batch form "
        "of streaming window(ts, '1 hour', '30 minutes'): Spark fans each row "
        "into duration/slide = 2 windows before one hash agg (map-side "
        "combine bounds the exchange by windows x types); the oracle derives "
        "the same two epoch-aligned starts per row via time_bucket; DECIMAL "
        "money sums keep the hash bit-exact",
)
def _sliding(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@_q(
    "rolling_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    contrib AS (
      SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        INTERVAL 1 DAY)) AS DATE) AS window_day, user_id
      FROM ud)
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rolling_7d_users
    FROM contrib GROUP BY window_day
    """,
    doc="trailing 7-day distinct users per day (the DAU/WAU dashboard "
        "primitive) — exact sliding-window COUNT DISTINCT without re-scanning "
        "7 days per output row: the corpus collapses once to DISTINCT "
        "(user, day), each such pair fans out to the 7 window-end days it "
        "contributes to, and the count-distinct runs on that bounded frame "
        "(7 x users x active-days, never corpus events); window ends beyond "
        "the data's last day keep their partial trailing value",
)
def _rolling_dau(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ud = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = ud.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("window_day"),
        "user_id",
    )
    return contrib.groupBy(
        F.date_format("window_day", "yyyy-MM-dd").alias("window_day")
    ).agg(F.countDistinct("user_id").alias("rolling_7d_users"))


@_q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT prev_type, event_type AS next_type,
      CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    doc="event-type transition matrix (the empirical Markov view of user "
        "journeys — funnel-leak and bot-pattern audit): lag over (user, "
        "event-time) with a deterministic event_id tiebreak, then one "
        "combinable count shuffle to the types x types frame; the window "
        "shuffles each user's history once, the aggregate output is "
        "dashboard-sized at any scale",
)
def _transitions(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@_q(
    "rolling_zscore_anomalies",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    w AS (
      SELECT event_id, user_id, value,
        CAST(COUNT(*) OVER win AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER win AS DOUBLE) AS s1,
        CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
             OVER win AS DOUBLE) AS s2
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, value,
      round((value - s1 / n)
            / sqrt((n * s2 - s1 * s1) / (n * (n - 1))), 6) AS zscore
    FROM w
    WHERE n >= 5 AND (n * s2 - s1 * s1) > 0
      AND abs((value - s1 / n)
              / sqrt((n * s2 - s1 * s1) / (n * (n - 1)))) > 2.5
    """,
    doc="rolling z-score anomaly detection over each user's trailing-10 "
        "event window (frame excludes the current row — no self-"
        "contamination): the monitoring primitive for value-drift / fraud "
        "screens.  Cross-engine exactness: the window sums run in DECIMAL "
        "(order-independent, bit-identical on any partitioning), variance "
        "derives from the two exact power sums in a handful of identical "
        "IEEE ops, and the one sqrt/division rounds to 6dp.  One shuffle "
        "(hash by user), per-user local sort, linear frame scan.",
)
def _rolling_zscore(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    v = F.col("value").cast(D2)
    w = e.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum(v).over(win).cast("double").alias("s1"),
        F.sum(v * v).over(win).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var_num = n * s2 - s1 * s1
    z = (F.col("value") - s1 / n) / F.sqrt(var_num / (n * (n - 1)))
    return w.filter((n >= 5) & (var_num > 0) & (F.abs(z) > 2.5)).select(
        "event_id", "user_id", "value", F.round(z, 6).alias("zscore")
    )


@_q(
    "session_window_native",
    f"""
    WITH e AS (
      SELECT user_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sid AS (
      SELECT user_id, ts, value,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m)
    SELECT user_id, MIN(ts) AS session_start,
      MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {SQL_SUM.format(col="value")} AS total_value
    FROM sid GROUP BY user_id, sess
    """,
    doc="Spark's NATIVE session_window aggregation (batch form): "
        "groupBy(user, session_window(ts, '30 minutes')) merges events "
        "whose gaps are under the timeout into dynamic windows — one "
        "shuffle + per-user local sort, no self-join, no window-function "
        "pass.  The oracle restates the exact semantics as gaps-and-"
        "islands (a gap of EXACTLY the timeout starts a new session — "
        "session_window ends are exclusive) with session_end = last event "
        "+ timeout.  Complements the applyInPandasWithState streaming "
        "sessionizer (streaming_sessionize) and the SQL-form "
        "sessionize_events: three routes, one hash-verified semantics.",
)
def _session_native(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _sum_money(F.col("value"), "total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


#: ewma_by_user per-key history cap (rows per aggregation buffer).  At
#: ~50-100 B per collected (ts, event_id, value) struct this bounds the
#: worst single buffer to ~100-200 MB — far past any bounded-history
#: workload, far short of executor OOM.  Read at query-BUILD time so
#: tests can tighten it (monkeypatch) to pin the fail-fast path.
EWMA_MAX_HISTORY = 2_000_000


@_q(
    "ewma_by_user",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    a AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM e GROUP BY user_id)
    SELECT user_id, n_events, vs[-1] AS last_value,
      round(list_reduce(vs, (s, x) -> 0.3 * x + 0.7 * s), 6) AS ewma
    FROM a
    """,
    doc="per-key exponentially weighted moving average (alpha=0.3) — the "
        "monitoring/feature-engineering smoother: s_1 = x_1, "
        "s_i = 0.3 x_i + 0.7 s_{i-1} over each user's time-ordered "
        "values.  The fold is a JVM higher-order aggregate over the "
        "collected per-user array, seeded with the first element — "
        "DuckDB's list_reduce folds accumulator-first with the same "
        "seed, so every intermediate double is computed in the identical "
        "order and the result is bit-exact before the final 6dp round.  "
        "One user-keyed shuffle.  SCALE CAVEAT: collect_list materializes "
        "each key's full value history in one aggregation buffer, so this "
        "batch form is only safe while per-key history is bounded (events "
        "per user — the same locality assumption as sessionization).  "
        "EWMA_MAX_HISTORY enforces the bound: a key whose history "
        "exceeds it RAISES (assert_true) instead of ballooning the "
        "buffer toward OOM.  For unbounded/hot keys the PRODUCTION form "
        "is streaming/jobs.py ewma_stream, which folds incrementally "
        "with O(1) state (s, last_us, last_id, n) per key and is "
        "hash-verified against this batch fold by the streaming_ewma "
        "suite entry.",
)
def _ewma(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    # fail-fast guard for the SCALE CAVEAT above: a key whose collected
    # history exceeds the cap raises with a pointer to ewma_stream
    # instead of silently ballooning one aggregation buffer toward OOM.
    # Module-level so tests (and operators) can tighten it.
    cap = F.lit(int(EWMA_MAX_HISTORY))
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda x: x["value"],
    )
    agged = e.groupBy("user_id").agg(
        arr.alias("vs"), F.count(F.lit(1)).alias("n_events")
    )
    ewma = F.round(
        F.aggregate(
            F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
            F.element_at(F.col("vs"), 1),
            lambda s, x: F.lit(0.3) * x + F.lit(0.7) * s,
        ),
        6,
    )
    guard = F.assert_true(
        F.size("vs") <= cap,
        F.concat_ws(
            "",
            F.lit("ewma_by_user: per-key history for key "),
            F.col("user_id").cast("string"),
            F.lit(" exceeds EWMA_MAX_HISTORY="),
            cap.cast("string"),
            F.lit(
                " rows; the batch collect_list fold is bounded-history "
                "only — use streaming/jobs.py ewma_stream (O(1) state "
                "per key) for unbounded/hot keys"
            ),
        ),
    )
    return agged.where(guard.isNull()).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.element_at("vs", -1).alias("last_value"),
        ewma.alias("ewma"),
    )


@_q(
    "user_value_drawdown",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    r AS (
      SELECT user_id, value,
        MAX(CAST(value AS DECIMAL(12,2))) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS runmax
      FROM e)
    SELECT user_id,
      CAST(MAX(runmax - CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        AS max_drawdown,
      CAST(MAX(runmax) AS DOUBLE) AS peak_value
    FROM r GROUP BY user_id
    """,
    doc="per-key maximum drawdown (largest drop from a running peak) — "
        "the classic sequence-risk metric, and the gaps-and-islands "
        "cousin that needs only a running MAX: one cummax window pass "
        "in exact DECIMAL (order-independent given the (ts, id) sort), "
        "then a per-key aggregate of peak minus current.  The groupBy "
        "reuses the window's hash partitioning on user_id, so the whole "
        "query is ONE shuffle.",
)
def _drawdown(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = F.col("value").cast(D2)
    r = e.select(
        "user_id", "value", F.max(v).over(w).alias("runmax")
    )
    return r.groupBy("user_id").agg(
        F.max(F.col("runmax") - v).cast("double").alias("max_drawdown"),
        F.max("runmax").cast("double").alias("peak_value"),
    )


@_q(
    "events_dow_hour_matrix",
    """
    SELECT isodow(ts) AS dow, hour(ts) AS hr, COUNT(*) AS n_events
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="calendar heatmap counts (ISO day-of-week x hour) — the traffic-"
        "shape report behind every ops dashboard.  Spark's dayofweek is "
        "1=Sunday, so the ISO form is derived arithmetically "
        "((dow+5)%7+1) to match DuckDB's isodow.  Map-only expression + "
        "one 168-row-bounded count shuffle.",
)
def _dowhour(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(iso.alias("dow"), F.hour("ts").cast("long").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@_q(
    "user_activity_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    g AS (
      SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d),
    s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
    SELECT user_id,
      CAST(max(len) AS BIGINT) AS longest_streak,
      CAST(count(*) AS BIGINT) AS n_streaks,
      CAST(sum(len) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
    doc="§2.7 consecutive-day activity streaks per user (engagement / "
        "retention feature): the classic gaps-and-islands shape — "
        "distinct active days, then (epoch_day - row_number) labels each "
        "run of consecutive days with a constant, one groupBy per run "
        "then per user.  Two user-keyed shuffles total (distinct + "
        "window share one), no self-join, no explode over date ranges — "
        "the date-dimension cross-join alternative is corpus x days and "
        "dies at scale.",
)
def _streaks(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    days = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("day"))
    grouped = days.withColumn(
        "__grp", F.unix_date(F.col("day")) - F.row_number().over(w)
    )
    streaks = grouped.groupBy("user_id", "__grp").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("__len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("__len").cast("long").alias("n_active_days"),
    )


@_q(
    "gapfill_user_hourly",
    """
    WITH obs AS (
      SELECT user_id,
        CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) * 3600 AS slot_s,
        COUNT(*) AS n_obs,
        SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2),
    grid AS (
      SELECT user_id, unnest(range(lo, hi + 1, 3600)) AS slot_s
      FROM (SELECT user_id, MIN(slot_s) AS lo, MAX(slot_s) AS hi
            FROM obs GROUP BY 1)),
    j AS (
      SELECT g.user_id, g.slot_s,
        COALESCE(o.n_obs, 0) AS n_obs, CAST(o.v AS DOUBLE) AS v_obs, o.v
      FROM grid g LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.slot_s = o.slot_s),
    w AS (
      SELECT user_id, slot_s, n_obs, v_obs,
        LAST_VALUE(CASE WHEN v IS NOT NULL THEN slot_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS UNBOUNDED PRECEDING) AS ps,
        LAST_VALUE(v IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS UNBOUNDED PRECEDING) AS pv,
        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN slot_s END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns,
        FIRST_VALUE(v IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot_s
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM j)
    SELECT user_id, slot_s, CAST(n_obs AS BIGINT) AS n_obs, v_obs,
      CASE WHEN v_obs IS NOT NULL THEN v_obs
           WHEN ps IS NOT NULL AND ns IS NOT NULL
             THEN CAST(pv * (ns - ps) + (nv - pv) * (slot_s - ps) AS DOUBLE)
                  / (ns - ps)
           END AS v_lerp,
      COALESCE(v_obs, CAST(pv AS DOUBLE)) AS v_locf
    FROM w
    """,
    doc="Time-series gap-fill + interpolation, hash-verified: every "
        "user's event stream resampled onto a dense hourly grid spanning "
        "their observed range, holes filled by linear interpolation "
        "between the nearest observed slots (no extrapolation past the "
        "edges) and by carry-forward — the resampling primitive feature "
        "windows / forecasting / charting need over irregular events.  "
        "Plan (segment form, round-5 optimization — identical hash, ~10× "
        "wall at sf0.1): ONE corpus shuffle (the (user, slot) bucket "
        "aggregate), one lead() window over the OBSERVED-slot table, "
        "then each [p, n) segment sequence()-GENERATES its own grid "
        "slots with both interpolation endpoints already on the row — "
        "the dense grid is never joined and never windowed; the "
        "grid-sized frame passes only through map-only expressions.  "
        "Slots are integer epoch seconds end to end — no timezone, no "
        "interval arithmetic.  Operator: "
        "operators/timeseries.py gap_fill_interpolate",
)
def _gapfill(spark, sf_dir):
    from ..operators.timeseries import gap_fill_interpolate

    (events,) = _load(spark, sf_dir, "events")
    clean = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return gap_fill_interpolate(
        clean, ["user_id"], "ts", "value", step_seconds=3600
    )


@_q(
    "session_path_trigrams",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    m AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (
      SELECT user_id, ts, event_id, event_type,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sess
      FROM m),
    paths AS (
      SELECT user_id, sess,
        string_split(string_agg(event_type, '>' ORDER BY ts, event_id), '>')
          AS path
      FROM sid GROUP BY user_id, sess),
    tri AS (
      SELECT path[i] || '>' || path[i+1] || '>' || path[i+2] AS trigram
      FROM paths, unnest(generate_series(1, len(path) - 2)) AS t(i)
      WHERE len(path) >= 3)
    SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 25
    """,
    doc="session path analysis: the 25 most common 3-step event "
        "sequences WITHIN a session (30-min gap sessionization, same "
        "rule as streaming_sessionize) — the product-analytics staple "
        "behind 'what do users do right before purchasing'.  Ordering "
        "inside a session is pinned by (ts, event_id) so concurrent "
        "events can't reorder across engines.  Plan: ONE user-keyed "
        "shuffle drives both sessionization windows and the per-session "
        "path assembly (array_sort over collect_list — session-bounded, "
        "never a corpus sort), trigrams explode map-side bounded by "
        "events-per-session, the count shuffle carries the tiny trigram "
        "vocabulary, top-k is TakeOrdered.",
)
def _session_paths(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "ts", "event_id", "event_type")
    e = e.withColumn("__us", U.epoch_micros(e, "ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.when(
            F.lag("__us").over(w).isNull()
            | (F.col("__us") - F.lag("__us").over(w) > 1_800_000_000),
            1,
        )
        .otherwise(0)
    )
    sid = e.withColumn("new_s", new_s).withColumn(
        "sess",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    paths = sid.groupBy("user_id", "sess").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda x: x["event_type"],
        ).alias("path")
    )
    tri = (
        paths.filter(F.size("path") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("path") - 3),
                    lambda i: F.concat_ws(
                        ">",
                        F.col("path")[i],
                        F.col("path")[i + 1],
                        F.col("path")[i + 2],
                    ),
                )
            ).alias("trigram")
        )
    )
    return (
        tri.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(25)
    )


@_q(
    "rfm_segments",
    """
    WITH c AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_d,
        CAST(COUNT(*) AS BIGINT) AS freq,
        SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
      FROM orders GROUP BY o_custkey),
    a AS (SELECT MAX(last_d) AS anchor FROM c),
    b AS (
      SELECT CAST(date_diff('day', c.last_d, a.anchor) AS BIGINT)
               AS recency_d,
             c.freq, c.monetary
      FROM c, a),
    s AS (
      SELECT recency_d, freq, monetary,
        CASE WHEN recency_d <= 120 THEN 'active'
             WHEN recency_d <= 365 THEN 'warm'
             ELSE 'cold' END AS r_band,
        CASE WHEN freq >= 13 THEN 'frequent'
             WHEN freq >= 9 THEN 'regular'
             ELSE 'occasional' END AS f_band,
        CASE WHEN monetary >= 3000000 THEN 'high'
             WHEN monetary >= 2000000 THEN 'mid'
             ELSE 'low' END AS m_band
      FROM b)
    SELECT r_band, f_band, m_band,
      CASE WHEN r_band = 'active' AND f_band = 'frequent'
                AND m_band = 'high' THEN 'champion'
           WHEN r_band = 'active' AND f_band <> 'occasional' THEN 'loyal'
           WHEN r_band = 'cold' AND (f_band = 'frequent'
                OR m_band = 'high') THEN 'at_risk'
           WHEN r_band = 'cold' THEN 'hibernating'
           ELSE 'developing' END AS segment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(monetary) AS DOUBLE) AS total_monetary,
      CAST(SUM(recency_d) AS DOUBLE) / COUNT(*) AS avg_recency_days
    FROM s GROUP BY 1, 2, 3, 4
    """,
    doc="RFM customer segmentation (recency / frequency / monetary — the "
        "CRM workhorse report): per-customer last-order age vs the corpus "
        "anchor date, order count, and exact-DECIMAL lifetime spend, banded "
        "on fixed business thresholds and rolled into named segments "
        "(champion / loyal / at_risk / hibernating / developing).  "
        "Threshold bands — not quantiles — keep the whole pipeline "
        "map-only after ONE customer-keyed corpus shuffle: the anchor is "
        "the 1-row max over the checkpoint-staged customer aggregate "
        "(no second corpus scan, no scalar-reuse re-execution) broadcast "
        "back via a 1-row cross join, and the segment rollup shuffles "
        "only the ≤27-band table.  The quantile-scored variant at scale "
        "is the window_percentile_ranks_dist histogram pattern.  All "
        "band edges compare integers / exact decimals, so membership is "
        "bit-deterministic cross-engine.",
)
def _rfm(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    c = _ckpt(
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast(D2)).alias("monetary"),
        ),
        # two consumers (anchor max + the banding scan): stage so the
        # corpus aggregate is computed once (SCALING.md scalar-reuse trap)
        eager=False,
        label="rfm_customers",
    )
    anchor = c.agg(F.max("last_d").alias("anchor"))
    b = c.crossJoin(F.broadcast(anchor)).select(
        F.datediff(F.col("anchor"), F.col("last_d"))
        .cast("long")
        .alias("recency_d"),
        "freq",
        "monetary",
    )
    r_band = (
        F.when(F.col("recency_d") <= 120, "active")
        .when(F.col("recency_d") <= 365, "warm")
        .otherwise("cold")
    )
    f_band = (
        F.when(F.col("freq") >= 13, "frequent")
        .when(F.col("freq") >= 9, "regular")
        .otherwise("occasional")
    )
    m_band = (
        F.when(F.col("monetary") >= 3_000_000, "high")
        .when(F.col("monetary") >= 2_000_000, "mid")
        .otherwise("low")
    )
    s = b.select(
        "recency_d",
        "monetary",
        r_band.alias("r_band"),
        f_band.alias("f_band"),
        m_band.alias("m_band"),
    )
    segment = (
        F.when(
            (F.col("r_band") == "active")
            & (F.col("f_band") == "frequent")
            & (F.col("m_band") == "high"),
            "champion",
        )
        .when(
            (F.col("r_band") == "active") & (F.col("f_band") != "occasional"),
            "loyal",
        )
        .when(
            (F.col("r_band") == "cold")
            & ((F.col("f_band") == "frequent") | (F.col("m_band") == "high")),
            "at_risk",
        )
        .when(F.col("r_band") == "cold", "hibernating")
        .otherwise("developing")
    )
    return (
        s.withColumn("segment", segment)
        .groupBy("r_band", "f_band", "m_band", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("total_monetary"),
            (F.sum("recency_d").cast("double") / F.count(F.lit(1))).alias(
                "avg_recency_days"
            ),
        )
    )


@_q(
    "cusum_changepoint_daily",
    """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
        CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    s AS (
      SELECT event_type, day, x,
        SUM(x) OVER (PARTITION BY event_type ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS pre,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
        SUM(x) OVER (PARTITION BY event_type) AS total,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    t AS (
      SELECT event_type, day, n, total,
        n * pre - i * total AS s_raw,
        ABS(n * pre - i * total) AS s_abs
      FROM s),
    r AS (
      SELECT event_type, day, n, total, s_raw, s_abs,
        ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY s_abs DESC, day) AS rk
      FROM t)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
      CAST(n AS BIGINT) AS n_days,
      CAST(total AS BIGINT) AS total_events,
      CAST(s_raw AS BIGINT) AS s_scaled,
      CAST(s_abs AS BIGINT) AS s_abs
    FROM r WHERE rk = 1
    """,
    doc="change-point detection per event type: the day maximizing the "
        "classic cumulative-sum deviation statistic (Page 1954 / Pettitt "
        "shape) over the daily count series — 'when did this metric's "
        "level shift'.  The statistic is kept INTEGER by scaling: "
        "S_i = n·prefix_i − i·total (n× the mean-subtracted CUSUM), so "
        "the whole detector is exact bigint arithmetic with no float "
        "mean anywhere and the argmax (ties broken by earliest day) is "
        "bit-deterministic cross-engine.  Plan: ONE map-side-combined "
        "(type, day) count shuffle reduces the corpus to day-frame rows; "
        "all four window passes (prefix, index, per-type totals, the "
        "argmax rank) share the single event_type-keyed exchange over "
        "that tiny frame.  Days bucket via date_trunc on NTZ wall-clock "
        "time — timezone-proof like every event-time expression here.",
)
def _cusum(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    d = (
        events.filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    s = d.select(
        "event_type",
        "day",
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("pre"),
        F.row_number().over(wo).alias("i"),
        F.sum("x").over(wa).alias("total"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    s_raw = F.col("n") * F.col("pre") - F.col("i") * F.col("total")
    t = s.select(
        "event_type",
        "day",
        "n",
        "total",
        s_raw.alias("s_raw"),
        F.abs(s_raw).alias("s_abs"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("s_abs"), "day")
    )
    return (
        t.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            F.col("n").alias("n_days"),
            F.col("total").alias("total_events"),
            F.col("s_raw").alias("s_scaled"),
            F.col("s_abs").alias("s_abs"),
        )
    )


@_q(
    "rolling_corr_daily",
    """
    WITH d AS (
      SELECT epoch_us(ts) // 86400000000 AS di,
        CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
        CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY 1),
    sp AS (
      SELECT UNNEST(generate_series(MIN(di), MAX(di))) AS di FROM d),
    g AS (
      SELECT sp.di, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
      FROM sp LEFT JOIN d USING (di)),
    w AS (
      SELECT di, x, y,
        SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
        SUM(x * x) OVER win AS sxx, SUM(y * y) OVER win AS syy,
        SUM(x * y) OVER win AS sxy,
        ROW_NUMBER() OVER (ORDER BY di) AS rn
      FROM g
      WINDOW win AS (ORDER BY di ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT
      strftime(CAST(DATE '1970-01-01' + CAST(di AS INTEGER) AS DATE),
               '%Y-%m-%d') AS day,
      x AS n_click, y AS n_purchase,
      CAST(round(
        CAST(7 * sxy - sx * sy AS DOUBLE) /
        NULLIF(sqrt(CAST(7 * sxx - sx * sx AS DOUBLE)) *
               sqrt(CAST(7 * syy - sy * sy AS DOUBLE)), 0),
        6) AS DOUBLE) AS corr7
    FROM w WHERE rn >= 7
    """,
    doc="7-day rolling Pearson correlation between the click and purchase "
        "daily count series — the lead-indicator co-movement monitor "
        "('are conversions still tracking traffic this week?').  Exactness: "
        "day indices are integer epoch-day division of epoch micros (no "
        "timezone, no double rounding past 2^53), all five rolling "
        "sufficient statistics (Σx Σy Σx² Σy² Σxy) are windowed BIGINT "
        "sums, and the correlation is the closed form over those integers "
        "with exactly three IEEE double ops (two sqrts, one division; "
        "round 6dp; zero-variance windows NULL out via the guard).  "
        "Plan: ONE map-side-combined day-bucket shuffle reduces the "
        "corpus to the day table (checkpoint-staged for its two "
        "consumers), the min..max day spine is sequence()-GENERATED and "
        "broadcast-joined so silent zero-count days stay in the frame, "
        "and every window runs over the span-bounded spine (the PSI "
        "bounded-frame pattern — safe single partition by construction).",
)
def _rolling_corr(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("ts").isNotNull())
    e = e.withColumn("__us", U.epoch_micros(e, "ts"))
    d = _ckpt(
        e.select(F.expr("__us DIV 86400000000").alias("di"), "event_type")
        .groupBy("di")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        ),
        # two consumers (spine extent + the join): stage so the corpus
        # bucket aggregate runs once (SCALING.md scalar-reuse trap)
        eager=False,
        label="rolling_corr_buckets",
    )
    sp = d.agg(F.min("di").alias("__lo"), F.max("di").alias("__hi")).select(
        F.explode(F.sequence("__lo", "__hi")).alias("di")
    )
    g = sp.join(F.broadcast(d), "di", "left").select(
        "di",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    win = Window.orderBy("di").rowsBetween(-6, 0)
    w = g.select(
        "di",
        "x",
        "y",
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.row_number().over(Window.orderBy("di")).alias("rn"),
    )
    num = (F.lit(7) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    va = (F.lit(7) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vb = (F.lit(7) * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    denom = F.sqrt(va) * F.sqrt(vb)
    return w.filter(F.col("rn") >= 7).select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("di").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("x").alias("n_click"),
        F.col("y").alias("n_purchase"),
        F.round(num / F.when(denom != 0, denom), 6).alias("corr7"),
    )


@_q(
    "cohort_ltv_curve",
    """
    WITH e AS (
      SELECT user_id, date_trunc('week', ts) AS wk, value FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    f AS (
      SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
    sz AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM f GROUP BY cohort),
    r AS (
      SELECT f.cohort,
        CAST(date_diff('day', f.cohort, e.wk) / 7 AS BIGINT) AS week_offset,
        SUM(CAST(e.value AS DECIMAL(12,2))) AS rev
      FROM e JOIN f USING (user_id)
      WHERE e.value IS NOT NULL
      GROUP BY 1, 2),
    c AS (
      SELECT cohort, week_offset, rev,
        SUM(rev) OVER (PARTITION BY cohort ORDER BY week_offset
                       ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM r)
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week, c.week_offset,
      sz.cohort_users,
      CAST(c.rev AS DOUBLE) AS revenue,
      CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
      CAST(round(CAST(c.cum_rev AS DOUBLE) / CAST(sz.cohort_users AS DOUBLE),
                 6) AS DOUBLE) AS ltv_per_user
    FROM c JOIN sz USING (cohort)
    """,
    doc="cohort lifetime-value curve: cumulative revenue per user by "
        "signup-week cohort and week offset — the LTV companion to "
        "retention_cohorts (same Monday-aligned week math, so offsets "
        "divide exactly by 7).  Revenue accumulates in exact DECIMAL "
        "(the cumulative window runs over the cohort×offset frame — "
        "dashboard-sized, never the corpus) and the per-user division "
        "is one rounded double op.  Plan: the filtered corpus is "
        "checkpoint-staged (first-week + revenue consumers), the "
        "first-week table staged again for its size + join consumers, "
        "the revenue join is user-keyed equi (co-partitioned with the "
        "first-week aggregate), and cohort sizes broadcast onto the "
        "tiny curve table.",
)
def _cohort_ltv(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = _ckpt(
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("week", "ts").alias("wk"), "value"),
        # two consumers (first-week aggregate + the revenue join):
        # stage so the corpus scan runs once (scalar-reuse trap)
        eager=False,
        label="cohort_ltv_events",
    )
    f = _ckpt(
        e.groupBy("user_id")
        .agg(F.min("wk").alias("cohort")),
        # two consumers (cohort sizes + the revenue join)
        eager=False,
        label="cohort_ltv_first_week",
    )
    sz = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    r = (
        e.filter(F.col("value").isNotNull())
        .join(f, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum(F.col("value").cast(D2)).alias("rev"))
    )
    cum = F.sum("rev").over(
        Window.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = r.withColumn("cum_rev", cum)
    return c.join(F.broadcast(sz), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "cohort_users",
        F.col("rev").cast("double").alias("revenue"),
        F.col("cum_rev").cast("double").alias("cum_revenue"),
        F.round(
            F.col("cum_rev").cast("double")
            / F.col("cohort_users").cast("double"),
            6,
        ).alias("ltv_per_user"),
    )


@_q(
    "survival_kaplan_meier",
    """
    WITH u AS (
      SELECT user_id, MIN(ts) AS t0,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id),
    mx AS (SELECT MAX(ts) AS tmax FROM events WHERE ts IS NOT NULL),
    d AS (
      SELECT
        CAST(date_diff('day', u.t0, COALESCE(u.tp, mx.tmax)) AS BIGINT)
          AS dur,
        CASE WHEN u.tp IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM u, mx),
    tbl AS (
      SELECT dur, CAST(SUM(died) AS BIGINT) AS deaths,
        CAST(COUNT(*) AS BIGINT) AS leaving
      FROM d GROUP BY dur),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    r AS (
      SELECT dur, deaths, leaving,
        CAST(tot.n - COALESCE(SUM(leaving) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS at_risk
      FROM tbl, tot),
    k AS (
      SELECT dur, deaths, at_risk,
        SUM(CASE WHEN deaths < at_risk THEN
              ln(1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE))
            END)
          OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS lsum
      FROM r)
    SELECT dur AS dur_days, at_risk, deaths,
      CASE WHEN deaths = at_risk THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(round(exp(lsum), 6) AS DOUBLE) END AS surv6
    FROM k WHERE deaths > 0
    """,
    doc="Kaplan-Meier survival curve: time from each user's first "
        "tracked event to first PURCHASE (users who never purchase are "
        "right-censored at the corpus horizon) — the time-to-convert "
        "estimator that, unlike a naive conversion-rate-by-day, is "
        "unbiased under censoring because censored users leave the "
        "risk set without counting as failures.  S(t) = Π over death "
        "times ≤ t of (1 - d_i/n_i).  Exactness: durations/deaths/"
        "risk-set counts are exact integers (date_diff day boundaries "
        "== Spark datediff calendar days); the product runs as "
        "exp(Σ ln(1-d/n)) with the running sum over the DISTINCT-"
        "DURATION table (horizon-bounded, never the corpus) in "
        "deterministic dur order — identical IEEE sequence both "
        "engines, 6dp round absorbs libm ULP; a full-wipe tail row "
        "(d=n, ln 0) is necessarily last and pinned to 0.0 by CASE.  "
        "Plan: ONE user-keyed corpus shuffle, a broadcast 1-row "
        "horizon, then window+agg over the tiny duration table.",
)
def _survival_km(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    mx = events.filter(F.col("ts").isNotNull()).agg(
        F.max("ts").alias("tmax")
    )
    d = u.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.coalesce("tp", "tmax"), F.col("t0"))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
    )
    # two consumers (duration table + the 1-row total): stage once
    d = _ckpt(d, eager=False, label="survival_km_durations")
    tbl = d.groupBy("dur").agg(
        F.sum("died").cast("bigint").alias("deaths"),
        F.count(F.lit(1)).alias("leaving"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    # windows over the distinct-duration table: horizon-bounded (a few
    # hundred rows at any sf), safe single-partition frame
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    r = tbl.crossJoin(F.broadcast(tot)).withColumn(
        "at_risk",
        F.col("n") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    k = r.withColumn(
        "lsum",
        F.sum(
            F.when(
                F.col("deaths") < F.col("at_risk"),
                F.log(
                    F.lit(1.0)
                    - F.col("deaths").cast("double")
                    / F.col("at_risk").cast("double")
                ),
            )
        ).over(w_run),
    )
    return k.filter(F.col("deaths") > 0).select(
        F.col("dur").alias("dur_days"),
        "at_risk",
        "deaths",
        F.when(F.col("deaths") == F.col("at_risk"), F.lit(0.0))
        .otherwise(F.round(F.exp("lsum"), 6))
        .alias("surv6"),
    )


@_q(
    "seasonal_dow_anomalies",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    s AS (
      SELECT isodow(d) AS dow, CAST(COUNT(*) AS BIGINT) AS days,
        SUM(rev) AS dow_rev
      FROM daily GROUP BY 1),
    t AS (SELECT SUM(rev) AS tot_rev, CAST(COUNT(*) AS BIGINT) AS tot_days
          FROM daily),
    j AS (
      SELECT daily.d, daily.rev, s.dow,
        CAST(s.dow_rev AS DOUBLE) / CAST(s.days AS DOUBLE) AS dow_avg,
        (CAST(s.dow_rev AS DOUBLE) / CAST(s.days AS DOUBLE))
          / (CAST(t.tot_rev AS DOUBLE) / CAST(t.tot_days AS DOUBLE))
          AS idx
      FROM daily JOIN s ON isodow(daily.d) = s.dow, t),
    z AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, CAST(dow AS BIGINT) AS dow,
        CAST(rev AS DOUBLE) AS revenue,
        CAST(round(dow_avg, 6) AS DOUBLE) AS dow_avg6,
        CAST(round(idx, 6) AS DOUBLE) AS index6,
        CAST(round(CAST(rev AS DOUBLE) / dow_avg, 6) AS DOUBLE) AS ratio6
      FROM j)
    SELECT day, dow, revenue, dow_avg6, index6, ratio6
    FROM z ORDER BY abs(ratio6 - 1.0) DESC, day LIMIT 15
    """,
    doc="seasonal decomposition + anomaly ranking: daily revenue vs "
        "its ISO-weekday seasonal average — each day's deseasonalized "
        "ratio (revenue / weekday mean) beside the weekday's seasonal "
        "index (weekday mean / overall daily mean), top-15 days by "
        "deviation.  The ratio-to-seasonal-average screen that "
        "separates 'it's just Saturday' from a genuine demand spike — "
        "the calendar-aware complement to rolling_zscore_anomalies "
        "and cusum_changepoint_daily.  Exactness: daily/weekday "
        "revenue in exact DECIMAL; the index/ratio are fixed double "
        "op sequences rounded 6dp; ranking reads the ROUNDED ratio "
        "with a day tiebreak so top-k is bit-deterministic; ISO "
        "weekday derived arithmetically from Spark's Sunday-based "
        "dayofweek (the events_dow_hour_matrix recipe).  Plan: one "
        "fact shuffle into the date-bounded daily table (staged for "
        "its three consumers), 7-row seasonal + 1-row total aggregates "
        "broadcast back, TakeOrdered top-k — the corpus is scanned "
        "once.",
)
def _seasonal_dow(spark, sf_dir):
    daily = _ckpt(
        _daily_revenue(spark, sf_dir)
        .withColumn(
            "dow", ((F.dayofweek("d") + 5) % 7 + 1).cast("bigint")
        ),
        # three consumers (seasonal agg, total agg, the day join)
        eager=False,
        label="seasonal_dow_daily",
    )
    s = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("days"), F.sum("rev").alias("dow_rev")
    )
    t = daily.agg(
        F.sum("rev").alias("tot_rev"), F.count(F.lit(1)).alias("tot_days")
    )
    dow_avg = F.col("dow_rev").cast("double") / F.col("days").cast("double")
    overall = F.col("tot_rev").cast("double") / F.col("tot_days").cast(
        "double"
    )
    j = (
        daily.join(F.broadcast(s), "dow")
        .crossJoin(F.broadcast(t))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dow"),
            F.col("rev").cast("double").alias("revenue"),
            F.round(dow_avg, 6).alias("dow_avg6"),
            F.round(dow_avg / overall, 6).alias("index6"),
            F.round(F.col("rev").cast("double") / dow_avg, 6).alias(
                "ratio6"
            ),
        )
    )
    return j.orderBy(
        F.abs(F.col("ratio6") - F.lit(1.0)).desc(), "day"
    ).limit(15)


@_q(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    base AS (
      SELECT CAST(date_diff('day', DATE '1990-01-01', d) AS BIGINT) AS i,
        CAST(rev AS DECIMAL(18,2)) AS x
      FROM daily WHERE rev IS NOT NULL),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s, SUM(x * x) AS ss
      FROM base),
    lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
    pairs AS (
      SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        SUM(a.x * b.x) AS sxy, SUM(a.x) AS sh, SUM(b.x) AS st
      FROM lags l
      JOIN base a ON TRUE
      JOIN base b ON b.i = a.i + l.lag
      GROUP BY 1)
    SELECT p.lag, p.n_pairs,
      CASE WHEN p.n_pairs > 0 AND
        (CAST(g.ss AS DOUBLE) - CAST(g.n AS DOUBLE)
          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
          * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))) <> 0
      THEN CAST(round(
        (CAST(p.sxy AS DOUBLE)
          - (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(p.sh AS DOUBLE) + CAST(p.st AS DOUBLE))
          + CAST(p.n_pairs AS DOUBLE)
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE)))
        / (CAST(g.ss AS DOUBLE) - CAST(g.n AS DOUBLE)
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
            * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))),
        6) AS DOUBLE)
      END AS acf6
    FROM pairs p, g
    """,
    doc="Autocorrelation function r1..r7 of daily order revenue -- the "
        "time-series memory diagnostic (weekly seasonality shows as an "
        "r7 spike) complementing cusum_changepoint_daily / "
        "seasonal_dow_anomalies.  One fact shuffle builds the "
        "DIM-BOUNDED daily series (days, never the corpus); the lag "
        "self-join and moment algebra run on that tiny frame.  "
        "Exactness: revenue in DECIMAL(18,2); all pair/global sums "
        "exact decimals; the mean enters one fixed IEEE expression per "
        "lag via SUM((x-m)(y-m)) = SUMxy - m(SUMh+SUMt) + n*m*m, "
        "rounded 6dp once.  Operator: operators/stats.py "
        "autocorrelation",
)
def _acf_daily(spark, sf_dir):
    daily = _daily_revenue(spark, sf_dir)
    series = daily.select(
        F.datediff("d", F.lit("1990-01-01").cast("date")).alias("i"), "rev"
    )
    return autocorrelation(series, "i", "rev", max_lag=7)
