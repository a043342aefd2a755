"""Statistics and sketches: quantiles, histograms, moments, regression,
mutual information, HLL, Count-Min, Bloom filters, profiling, drift,
concentration indices, privacy checks and hypothesis tests."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import quality as Q
from ..operators import tokenize as tk
from ..operators.stats import (
    benjamini_hochberg, bloom_bitmap, bloom_build, bloom_might_contain,
    categorical_mutual_information, chi2_independence, corr_matrix, countmin_estimate,
    countmin_inner_product, countmin_sketch, equi_depth_histogram, exact_second_moments,
    group_linear_fit, hll_overlap_estimate, hll_partial_sketches, hll_union_estimate,
    kmv_distinct, ks_two_sample, mahalanobis_scores, normal_cdf, pair_lift,
    rank_sum_auc, trimmed_mean,
)
from ..operators.util import spread
from ..operators.windows import global_row_number
from ..plans.capture import checkpoint as _ckpt
from .registry import D2, _load, _q


@_q(
    "approx_distinct",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      TRUE AS parts_within_tol,
      TRUE AS orders_within_tol
    FROM lineitem
    """,
    doc="§2.4 approx_count_distinct — the 100 TB cardinality path (HLL++, "
        "no exact shuffle) — as a BOUND-AUDIT oracle query (VERDICT r10 "
        "item 4; was rows-only): the registered result is the exact "
        "distinct counts (hash-exact cross-engine) plus boolean "
        "|approx-exact| <= 3*rsd*exact verdicts on Spark's HLL++ "
        "estimates.  DuckDB runs a different sketch, so the ESTIMATE "
        "can never hash-match — but the verdict frame can: the oracle "
        "encodes the expectation (TRUE), Spark computes the actual "
        "verdict, and a sketch drifting past tolerance turns the hash "
        "check red.  rsd=0.05 (Spark default); 3*rsd=0.15 is the "
        "3-sigma band, measured rel-err 0.018-0.036 at sf0.01/sf0.1 "
        "and the estimate is deterministic for fixed data (verified "
        "across 6 runs at local[8] AND local[32]).  The raw-estimate "
        "form stays available via the same aggregate; the exact-count "
        "twin distinct_count is hash-verified separately.",
)
def _adcount(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    tol = 3 * 0.05  # 3-sigma band at Spark's default rsd
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey").alias("__ap"),
        F.approx_count_distinct("l_orderkey").alias("__ao"),
    )
    return agg.select(
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("__ap") - F.col("exact_parts"))
            <= F.lit(tol) * F.col("exact_parts")
        ).alias("parts_within_tol"),
        (
            F.abs(F.col("__ao") - F.col("exact_orders"))
            <= F.lit(tol) * F.col("exact_orders")
        ).alias("orders_within_tol"),
    )


@_q(
    "approx_quantiles",
    """
    SELECT l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n,
      quantile_cont(l_extendedprice, 0.5) AS p50_exact,
      quantile_cont(l_extendedprice, 0.95) AS p95_exact,
      TRUE AS p50_rank_ok,
      TRUE AS p95_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approximate quantiles (GK sketch / percentile_approx; mergeable "
        "partials at scale) — as a BOUND-AUDIT oracle query (VERDICT r10 "
        "item 4; was rows-only): the registered result is the exact "
        "quantiles (percentile == quantile_cont bit-for-bit, the "
        "grouped_median/equi_depth precedent) plus boolean WITHIN-EPSILON-"
        "RANK-BOUND verdicts on the GK estimates.  DuckDB's "
        "approx_quantile is a t-digest, so the ESTIMATE can never "
        "hash-match — but the rank-bound verdict can: the estimate's "
        "rank interval [count(<v), count(<=v)] must meet Spark's "
        "documented guarantee floor((p-eps)*n) <= rank <= "
        "ceil((p+eps)*n) with one extra rank of slack each side "
        "(eps = 1/accuracy = 1/1000; measured deviations reach 98%% of "
        "eps*n at sf0.01, so the slack keeps the flag flake-proof while "
        "the guarantee itself keeps it honest).  Estimates are "
        "deterministic for fixed data (verified across 6 runs at "
        "local[8] AND local[32]).  Plan: one grouped agg computing "
        "exact+approx together, a broadcast of the 3-row estimate frame "
        "back onto the scan for the rank counts, one final 3-row join — "
        "the corpus is scanned twice, shuffled never (both aggs are "
        "map-side partial on a 3-value key).",
)
def _aquant(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    acc = 1000
    eps = 1.0 / acc
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95_exact"),
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("__p50a"),
        F.percentile_approx("l_extendedprice", 0.95, acc).alias("__p95a"),
    )
    ranks = (
        lineitem.join(
            F.broadcast(agg.select("l_returnflag", "__p50a", "__p95a")),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("__p50a")).cast("long")).alias("__lt50"),
            F.sum((F.col("l_extendedprice") <= F.col("__p50a")).cast("long")).alias("__le50"),
            F.sum((F.col("l_extendedprice") < F.col("__p95a")).cast("long")).alias("__lt95"),
            F.sum((F.col("l_extendedprice") <= F.col("__p95a")).cast("long")).alias("__le95"),
        )
    )

    def _rank_ok(lt: str, le: str, p: float):
        lo = F.floor((F.lit(p) - F.lit(eps)) * F.col("n")) - 1
        hi = F.ceil((F.lit(p) + F.lit(eps)) * F.col("n")) + 1
        return (F.col(le) >= lo) & (F.col(lt) <= hi)

    return agg.join(ranks, "l_returnflag").select(
        "l_returnflag",
        "n",
        "p50_exact",
        "p95_exact",
        _rank_ok("__lt50", "__le50", 0.5).alias("p50_rank_ok"),
        _rank_ok("__lt95", "__le95", 0.95).alias("p95_rank_ok"),
    )


@_q(
    "grouped_median",
    """
    SELECT l_returnflag,
      median(l_quantity) AS med_qty,
      quantile_cont(l_quantity, 0.25) AS q1_qty,
      quantile_cont(l_quantity, 0.75) AS q3_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="§2.4 exact median / continuous quantiles (linear interpolation is one "
        "double op from identical sorted inputs -> bit-exact across engines)",
)
def _median(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q1_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q3_qty"),
    )


@_q(
    "value_histogram",
    """
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n,
      CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY bucket
    """,
    doc="fixed-width value histogram (quality-monitoring primitive): bucket by "
        "IEEE-exact floor division, min/max per bucket (order-independent), one agg",
)
def _hist(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


@_q(
    "clip_outliers",
    """
    WITH s AS (
      SELECT event_type,
        quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
      least(greatest(e.value, s.lo), s.hi) AS clipped
    FROM events e JOIN s USING (event_type)
    WHERE e.value IS NOT NULL
    """,
    doc="winsorize: clip values to the per-group [p05, p95] band — exact "
        "percentiles (interpolation matches quantile_cont bit-for-bit), tiny "
        "stats side broadcast back; at 100 TB swap percentile for approx_percentile",
)
def _clip(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    stats = base.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return base.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("clipped"),
    )


@_q(
    "exact_moment_stats",
    """
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS px,
        CAST(floor(l_quantity) AS BIGINT) AS qy
      FROM lineitem),
    m AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(px AS DECIMAL(12,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(px AS DECIMAL(12,0)) * CAST(px AS DECIMAL(12,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(qy AS DECIMAL(12,0)) * CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(px AS DECIMAL(12,0)) * CAST(qy AS DECIMAL(12,0))) AS DOUBLE) AS sxy
      FROM base GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, n,
      sx / CAST(n AS DOUBLE) AS mean_price,
      CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * sxx - sx * sx)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS var_price,
      sqrt(CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * sxx - sx * sx)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END) AS stddev_price,
      sy / CAST(n AS DOUBLE) AS mean_qty,
      CASE WHEN n > 1 THEN (CAST(n AS DOUBLE) * syy - sy * sy)
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS var_qty,
      CASE WHEN n > 1
             AND sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
               * sqrt(CAST(n AS DOUBLE) * syy - sy * sy) <> 0
        THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
             * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr_priceqty
    FROM m
    """,
    doc="distributed variance / stddev / correlation via EXACT decimal second "
        "moments (ship sufficient statistics, not data): six order-independent "
        "decimal sums per group (map-side combinable, one six-number shuffle), "
        "then a fixed IEEE-double closed form — bit-identical on any engine or "
        "partitioning, unlike Welford-accumulated stddev_samp/corr built-ins",
)
def _moments(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("px"),
        F.floor(F.col("l_quantity")).cast("long").alias("qy"),
    )
    out = exact_second_moments(
        base, ["l_returnflag", "l_linestatus"], "px", "qy",
        prefix_x="price", prefix_y="qty",
    )
    return out.select(
        "l_returnflag", "l_linestatus", "n",
        "mean_price", "var_price", "stddev_price",
        "mean_qty", "var_qty", "corr_priceqty",
    )


@_q(
    "group_linear_fit",
    """
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
        CAST(floor(l_quantity) AS BIGINT) AS x,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(x AS DECIMAL(12,0))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(x AS DECIMAL(12,0))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(y AS DECIMAL(12,0)) * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(y AS DECIMAL(12,0))) AS DOUBLE) AS sxy
      FROM base GROUP BY l_returnflag, l_linestatus)
    SELECT l_returnflag, l_linestatus, n,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0 THEN
        (CAST(n AS DOUBLE) * sxy - sx * sy)
          / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0 THEN
        sy / CAST(n AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx)) * (sx / CAST(n AS DOUBLE))
        END AS intercept,
      CASE WHEN n > 1 AND (CAST(n AS DOUBLE) * sxx - sx * sx) <> 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) <> 0 THEN
        ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
          / ((CAST(n AS DOUBLE) * sxx - sx * sx)
             * (CAST(n AS DOUBLE) * syy - sy * sy)) END AS r2
    FROM m
    """,
    doc="per-group closed-form OLS (price-cents vs quantity): slope/intercept/"
        "r2 derived from the six exact decimal power sums — a million per-group "
        "regressions cost ONE map-side-combinable aggregation (no ML library, "
        "no iteration), and the fixed IEEE closed form is bit-identical "
        "cross-engine",
)
def _linfit(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_quantity")).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return group_linear_fit(base, ["l_returnflag", "l_linestatus"], "x", "y")


@_q(
    "mutual_information",
    """
    WITH cells AS (
      SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS c0
      FROM orders GROUP BY x, y),
    s AS (
      SELECT CAST(c0 AS DOUBLE) AS c,
        CAST(SUM(c0) OVER (PARTITION BY x) AS DOUBLE) AS nx,
        CAST(SUM(c0) OVER (PARTITION BY y) AS DOUBLE) AS ny,
        CAST(SUM(c0) OVER () AS DOUBLE) AS n
      FROM cells)
    SELECT 'o_orderstatus' AS x_col, 'o_orderpriority' AS y_col,
      CAST(MIN(n) AS BIGINT) AS n,
      CAST(round(-SUM((c / n) * ln(nx / n)), 6) AS DOUBLE) AS h_x,
      CAST(round(-SUM((c / n) * ln(ny / n)), 6) AS DOUBLE) AS h_y,
      CAST(round(-SUM((c / n) * ln(c / n)), 6) AS DOUBLE) AS h_xy,
      CAST(round((-SUM((c / n) * ln(nx / n))) + (-SUM((c / n) * ln(ny / n)))
        - (-SUM((c / n) * ln(c / n))), 6) AS DOUBLE) AS mi_nats,
      CASE WHEN least(-SUM((c / n) * ln(nx / n)), -SUM((c / n) * ln(ny / n))) > 0
        THEN CAST(round(((-SUM((c / n) * ln(nx / n))) + (-SUM((c / n) * ln(ny / n)))
          - (-SUM((c / n) * ln(c / n))))
          / least(-SUM((c / n) * ln(nx / n)), -SUM((c / n) * ln(ny / n))), 6) AS DOUBLE)
        END AS nmi
    FROM s
    """,
    doc="categorical association screen: H(X), H(Y), H(X,Y), mutual "
        "information and normalized MI between order status and priority — "
        "one corpus shuffle to contingency cells, margins as window sums over "
        "the tiny cell frame; 6dp rounding absorbs ln ULP + summation order",
)
def _mi(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return categorical_mutual_information(orders, "o_orderstatus", "o_orderpriority")


@_q(
    "equi_depth_histogram",
    """
    WITH c AS (
      SELECT quantile_cont(value,
        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS cuts
      FROM events WHERE value IS NOT NULL)
    SELECT CAST(len(list_filter(c.cuts, x -> x <= e.value)) AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n,
      MIN(e.value) AS lo, MAX(e.value) AS hi
    FROM events e, c WHERE e.value IS NOT NULL
    GROUP BY bucket
    """,
    doc="equal-frequency histogram (8 buckets bounded by exact corpus "
        "percentiles — the skew-proof distribution view): one agg computes all "
        "cutpoints at once (percentile==quantile_cont bit-for-bit), the single-"
        "row cut array broadcasts onto the scan, bucket id is a map-only array "
        "count, one final hash agg; swap approx_percentile at 100 TB",
)
def _equi_depth(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return equi_depth_histogram(events, "value", k=8)


@_q(
    "hll_mergeable_rollup",
    """
    SELECT event_type,
      CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_partial_days,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS union_within_tol
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
    doc="mergeable distinct-count rollup: per-(event_type, day) DataSketches "
        "HLL partials (one corpus shuffle, sketches are ~2^lg_k bytes each), "
        "then per-type union + estimate over the dashboard-sized partials "
        "table — coarser rollups never rescan the corpus.  BOUND-AUDIT "
        "oracle form (VERDICT r10 item 4 recipe; was rows-only): the "
        "registered result is the partial-grain cardinality (n_partial_days "
        "— hash-exact proof the rollup really aggregated per-day sketches) "
        "+ exact per-type distinct users + a boolean |union_est - exact| <= "
        "3*(1.04/sqrt(2^12))*exact verdict on the unioned estimate "
        "(measured rel-err 0.000/0.008 at sf0.01/sf0.1, deterministic "
        "across 3 runs; tol 0.049).  The union estimate itself stays "
        "engine-specific and deliberately out of the hash; note union != "
        "single-shot direct estimate in dense mode (the union drops the "
        "HIP accumulator — 1488 vs 1494 at sf0.1), which is why the audit "
        "bounds it against EXACT, not against the direct sketch.  partials "
        "feed two consumers (day count + union) so they stage through a "
        "lazy localCheckpoint (SCALING.md scalar-reuse trap).",
)
def _hll_rollup(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("user_id").isNotNull())
    partials = _ckpt(
        hll_partial_sketches(
            base.withColumn("day", F.date_trunc("day", "ts")),
            ["event_type", "day"],
            "user_id",
        ),
        eager=False,
        label="hll_rollup_partials",
    )
    union = hll_union_estimate(partials, ["event_type"])
    counts = partials.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_partial_days")
    )
    exact = base.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    tol = 3 * 1.04 / 2 ** 6  # 3 sigma at lg_k=12
    return (
        counts.join(union, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_partial_days",
            "exact_users",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                <= F.lit(tol) * F.col("exact_users")
            ).alias("union_within_tol"),
        )
    )


@_q(
    "grouped_mode",
    """
    SELECT event_type, mode_value, CAST(n AS BIGINT) AS n FROM (
      SELECT event_type, user_id AS mode_value, COUNT(*) AS n,
        row_number() OVER (PARTITION BY event_type
                           ORDER BY COUNT(*) DESC, user_id ASC) AS rn
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id)
    WHERE rn = 1
    """,
    doc="deterministic per-group mode (most frequent user per event type, "
        "ties broken by smallest value — unlike SQL mode(), which is "
        "tie-nondeterministic): one combinable count shuffle to (group, "
        "value) cells, then WindowGroupLimit rn=1 over the cell frame — the "
        "categorical-imputation primitive, corpus never sorted",
)
def _gmode(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    cells = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("event_type"), F.col("user_id").alias("mode_value"), "n")
    )


@_q(
    "robust_spread",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events WHERE value IS NOT NULL GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
      WHERE e.value IS NOT NULL)
    SELECT event_type, CAST(round(MIN(med), 6) AS DOUBLE) AS median_value,
      CAST(round(quantile_cont(adev, 0.5), 6) AS DOUBLE) AS mad
    FROM dev GROUP BY event_type
    """,
    doc="robust spread per group: median + MAD (median absolute deviation) — "
        "the outlier-resistant partner to clip_outliers for heavy-tailed "
        "value columns; two exact-percentile corpus aggregations with the "
        "tiny per-group median broadcast back between them (percentile == "
        "quantile_cont bit-for-bit; 6dp absorbs the subtraction's last-ulp "
        "sensitivity to double rounding)",
)
def _mad(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    base = events.filter(F.col("value").isNotNull())
    med = base.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.min("med"), 6).alias("median_value"),
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad"),
    )


@_q(
    "countmin_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({tk.space_tokens_sql('lower(text)')}) AS w FROM documents),
    cnt AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    cells AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || w), 1, 8))::BIGINT
          % 1024 AS b
      FROM toks, (SELECT unnest([0, 1, 2, 3]) AS i) h),
    sk AS (SELECT r, b, COUNT(*) AS cnt FROM cells GROUP BY r, b),
    probes AS (SELECT w, c FROM cnt WHERE c >= 100)
    SELECT p.w AS token, CAST(p.c AS BIGINT) AS true_cnt,
      CAST(least(e0.cnt, e1.cnt, e2.cnt, e3.cnt) AS BIGINT) AS cm_estimate,
      CAST(least(e0.cnt, e1.cnt, e2.cnt, e3.cnt) - p.c AS BIGINT) AS overcount
    FROM probes p
    JOIN sk e0 ON e0.r = 0 AND e0.b =
      ('0x' || substring(md5('0:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e1 ON e1.r = 1 AND e1.b =
      ('0x' || substring(md5('1:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e2 ON e2.r = 2 AND e2.b =
      ('0x' || substring(md5('2:' || p.w), 1, 8))::BIGINT % 1024
    JOIN sk e3 ON e3.r = 3 AND e3.b =
      ('0x' || substring(md5('3:' || p.w), 1, 8))::BIGINT % 1024
    """,
    doc="Count-Min sketch heavy hitters: a 4x1024-cell CM sketch over "
        "corpus token occurrences, then every token with true count "
        ">= 100 is estimated from the sketch (min over its 4 buckets) "
        "beside its exact count and overcount.  The mergeable counting "
        "primitive: cells are linear, so per-shard sketches SUM to the "
        "corpus sketch — heavy-hitter dashboards at 100 TB read 4096 "
        "cells, never the corpus.  The md5 hash family is the engine-"
        "portable hash_bucket recipe, so DuckDB rebuilds the IDENTICAL "
        "sketch and the estimates — overcounts included — match "
        "bit-for-bit.  Operators: operators/stats.py countmin_sketch / "
        "countmin_estimate",
)
def _cmheavy(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    toks = spread(docs.select(F.explode(tk.space_tokens(F.lower("text"))).alias("w")))
    # r13: hash the VOCABULARY, not the occurrences — one tokenize pass
    # into the (token, count) table (map-side combinable, staged through
    # a lazy localCheckpoint for its two consumers), then the sketch's
    # 4 md5 bucket hashes run per DISTINCT token with the count as the
    # cell weight (cells are linear, so the weighted sketch equals the
    # occurrence sketch exactly).  Before: two tokenize passes and
    # 4 x occurrences md5 evaluations.
    cnt = _ckpt(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c")),
        eager=False,
        label="cm_heavy_counts",
    )
    sk = countmin_sketch(cnt, "w", depth=4, width=1024, weight_col="c")
    probes = cnt.filter(F.col("c") >= 100)
    est = countmin_estimate(sk, probes, "w", depth=4, width=1024)
    return est.select(
        F.col("w").alias("token"),
        F.col("c").cast("long").alias("true_cnt"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("c")).cast("long").alias("overcount"),
    )


@_q(
    "bloom_fpp_audit",
    """
    WITH dim AS (
      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
    pos AS (
      SELECT DISTINCT
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
           || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 4096 AS p
      FROM dim, (SELECT unnest([0, 1, 2]) AS i) h),
    f AS (
      SELECT o_custkey,
        EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('0:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
        AND EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('1:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
        AND EXISTS (SELECT 1 FROM pos WHERE p =
          ('0x' || substring(md5('2:' || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 4096)
          AS bloom_pass,
        EXISTS (SELECT 1 FROM dim WHERE k = o_custkey) AS true_match
      FROM orders)
    SELECT bloom_pass, true_match, CAST(COUNT(*) AS BIGINT) AS n
    FROM f GROUP BY bloom_pass, true_match
    """,
    doc="Bloom filter BIT-EXACT cross-engine audit (the countmin-style "
        "verification, for membership): DuckDB rebuilds the identical "
        "4096-bit filter from the engine-portable md5 hash family and "
        "classifies every orders row as (bloom_pass, true_match) — so the "
        "exact false-positive COUNT of the filter, not just its lossless-"
        "ness, must match bit-for-bit, and the (false, true) cell — a "
        "false negative — must be structurally ABSENT from both engines.  "
        "This pins the sketch's behavior at the bit level: a hash-family "
        "drift, an off-by-one in the word/bit indexing, or a signed-shift "
        "bug would flip cells.  Operators: operators/stats.py bloom_build "
        "/ bloom_bitmap / bloom_might_contain",
)
def _bloomaudit(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bitmap = bloom_bitmap(bloom_build(dim, "c_custkey", 4096, 3), 4096)
    flagged = (
        orders.join(F.broadcast(bitmap))
        .withColumn(
            "bloom_pass",
            bloom_might_contain(F.col("o_custkey"), F.col("bloom_bitmap"), 4096, 3),
        )
        .join(
            F.broadcast(
                dim.select(F.col("c_custkey").alias("o_custkey")).withColumn(
                    "__hit", F.lit(1)
                )
            ),
            "o_custkey",
            "left",
        )
        .withColumn("true_match", F.col("__hit").isNotNull())
    )
    return flagged.groupBy("bloom_pass", "true_match").agg(
        F.count(F.lit(1)).alias("n")
    )


@_q(
    "k_anonymity_events",
    """
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             hour(ts) AS h, minute(ts) AS m, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3, 4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
      CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      CAST(MIN(n) AS BIGINT) AS effective_k
    FROM g
    """,
    doc="k-anonymity privacy audit (Sweeney 2002) over the events table "
        "released at (event_type, date, hour, minute) granularity — the "
        "census a privacy review runs before publishing: how many quasi-"
        "identifier groups, how many have < 5 members (re-identifiable), "
        "how many rows sit in them, and the dataset's effective k.  The "
        "minute-precision timestamp is the classic quasi-identifier leak "
        "this audit exists to catch.  One count shuffle keyed on the "
        "quasi columns, then a group-table fold.  Operators: "
        "operators/quality.py k_anonymity_summary / k_anonymity_audit",
)
def _kanon(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    quasi = events.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
    )
    return Q.k_anonymity_summary(quasi, ["event_type", "d", "h", "m"], k=5)


_PROFILE_SPEC = [
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "CAST(o_totalprice AS DECIMAL(12,2))"),
    ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ("o_orderpriority", "o_orderpriority"),
]

_PROFILE_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{name}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_nulls,
      CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
      CAST(MIN({expr}) AS VARCHAR) AS min_value,
      CAST(MAX({expr}) AS VARCHAR) AS max_value
    FROM orders"""
    for name, expr in _PROFILE_SPEC
)


@_q(
    "profile_orders_table",
    _PROFILE_ORACLE,
    doc="ANALYZE-TABLE profile, hash-verified: per-column row/null/NDV "
        "counts plus min/max for the whole orders table in ONE aggregate "
        "over one scan (the exact COUNT(DISTINCT) battery plans a single "
        "Expand shuffle, never a job per column) — the stats pass every "
        "catalog/optimizer/data-contract workflow runs first.  min/max "
        "serialize via portable casts (double -> DECIMAL before "
        "stringifying; float formatting is the one engine-specific "
        "rendering).  At 100 TB flip approx_distinct=True: HLL NDV keeps "
        "the scan map-only with no Expand fan-out.  Operator: "
        "operators/quality.py profile_table",
)
def _profile(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    proj = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast(D2).alias("o_totalprice"),
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    return Q.profile_table(proj)


@_q(
    "psi_drift_orders",
    """
    WITH e AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        AND o_totalprice IS NOT NULL),
    a AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        AND o_totalprice IS NOT NULL),
    bins AS (SELECT CAST(unnest(range(5)) AS BIGINT) AS bin_id),
    be AS (
      SELECT CASE WHEN v < 100000 THEN 0 WHEN v < 200000 THEN 1
                  WHEN v < 300000 THEN 2 WHEN v < 400000 THEN 3
                  ELSE 4 END AS bin_id, COUNT(*) AS c
      FROM e GROUP BY 1),
    ba AS (
      SELECT CASE WHEN v < 100000 THEN 0 WHEN v < 200000 THEN 1
                  WHEN v < 300000 THEN 2 WHEN v < 400000 THEN 3
                  ELSE 4 END AS bin_id, COUNT(*) AS c
      FROM a GROUP BY 1),
    j AS (
      SELECT b.bin_id,
        CAST(COALESCE(be.c, 0) AS BIGINT) AS n_expected,
        CAST(COALESCE(ba.c, 0) AS BIGINT) AS n_actual
      FROM bins b LEFT JOIN be USING (bin_id) LEFT JOIN ba USING (bin_id)),
    t AS (SELECT SUM(n_expected) AS te, SUM(n_actual) AS ta FROM j)
    SELECT bin_id, n_expected, n_actual,
      round((n_expected + 0.5) / (te + 2.5), 6) AS p_expected,
      round((n_actual + 0.5) / (ta + 2.5), 6) AS p_actual,
      round(((n_actual + 0.5) / (ta + 2.5) - (n_expected + 0.5) / (te + 2.5))
        * ln(((n_actual + 0.5) / (ta + 2.5))
           / ((n_expected + 0.5) / (te + 2.5))), 6) AS psi_term
    FROM j, t
    """,
    doc="Population Stability Index drift monitor, hash-verified: "
        "o_totalprice distribution of pre-1997 orders (the 'training "
        "window' baseline) vs 1997+ orders (the 'serving window'), cut at "
        "fixed 100k-wide bins; per-bin Laplace-smoothed shares and "
        "(p_a − p_e)·ln(p_a/p_e) terms whose sum is the headline PSI "
        "(< 0.1 stable / > 0.25 shifted).  Plan: the two corpora are "
        "NEVER joined row-wise — one map-side-combined count aggregate "
        "per side (k rows out), broadcast-joined to a literal bin table "
        "so empty bins stay in the output.  The per-round drift check a "
        "training-data pipeline runs before accepting a new crawl.  "
        "Operator: operators/quality.py population_stability_index",
)
def _psi(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")
    d = F.col("o_orderdate").cast("date")
    return Q.population_stability_index(
        orders.filter(d < cut),
        orders.filter(d >= cut),
        "o_totalprice",
        [100_000.0, 200_000.0, 300_000.0, 400_000.0],
    )


def _corr_matrix_sql(cols: list[str]) -> str:
    """Emit the corr-matrix oracle: the same exact-decimal sufficient
    statistics and fixed IEEE closed form as operators/stats.py
    corr_matrix, one UNION ALL branch per upper-triangle pair (the
    branches read a single pre-aggregated 1-row CTE, so DuckDB computes
    the sums once)."""
    dec = "DECIMAL(12,0)"
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in cols:
        sums.append(f"CAST(SUM(CAST({c} AS {dec})) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} AS {dec}) * CAST({c} AS {dec})) AS DOUBLE) AS ss_{c}"
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(
                f"CAST(SUM(CAST({a} AS {dec}) * CAST({b} AS {dec})) AS DOUBLE)"
                f" AS sx_{a}_{b}"
            )
    branches = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            den = (
                f"sqrt(CAST(n AS DOUBLE) * ss_{a} - s_{a} * s_{a})"
                f" * sqrt(CAST(n AS DOUBLE) * ss_{b} - s_{b} * s_{b})"
            )
            num = f"CAST(n AS DOUBLE) * sx_{a}_{b} - s_{a} * s_{b}"
            branches.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, n,\n"
                f"  CASE WHEN n > 1 AND ({den}) <> 0\n"
                f"    THEN ({num}) / ({den}) END AS corr FROM m"
            )
    return (
        "WITH base AS (\n"
        "  SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,\n"
        "    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,\n"
        "    CAST(floor(l_discount * 100) AS BIGINT) AS disc_c,\n"
        "    CAST(floor(l_tax * 100) AS BIGINT) AS tax_c\n"
        "  FROM lineitem),\n"
        "m AS (\n  SELECT " + ",\n    ".join(sums) + "\n  FROM base)\n"
        + "\nUNION ALL\n".join(branches)
    )


@_q(
    "corr_matrix_lineitem",
    _corr_matrix_sql(["qty", "price_c", "disc_c", "tax_c"]),
    doc="one-pass Pearson correlation MATRIX over lineitem's four numeric "
        "measures (quantity / price / discount / tax as exact cents): ONE "
        "aggregate over one scan ships every sufficient statistic at once "
        "(n + 4 sums + 4 square sums + 6 cross sums — 15 numbers through "
        "the shuffle, map-side combined, never rows), then the 1-row "
        "result explodes into the long-form upper triangle INSIDE the "
        "plan (per-pair select branches would re-execute the scan per "
        "pair, the SCALING.md scalar-reuse trap).  Each corr is the fixed "
        "IEEE closed form over exact DECIMAL sums — bit-identical on any "
        "engine or partitioning, unlike the Welford-accumulated corr() "
        "built-ins.  The column-dependence screen a table profile runs "
        "beside profile_orders_table.  Operator: operators/stats.py "
        "corr_matrix",
)
def _corrmat(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_c"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("tax_c"),
    )
    return corr_matrix(base, ["qty", "price_c", "disc_c", "tax_c"])


@_q(
    "benford_price_audit",
    """
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit,
        COUNT(*) AS n_obs
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice >= 1
      GROUP BY 1),
    digits AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
    j AS (
      SELECT d.digit, CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs
      FROM digits d LEFT JOIN c USING (digit)),
    t AS (
      SELECT digit, n_obs, CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
      FROM j),
    s AS (
      SELECT digit, n_obs, n_total,
        CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
        round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_share
      FROM t),
    s2 AS (
      SELECT digit, n_obs, n_total, obs_share, exp_share,
        round(((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
               * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share))
              / (CAST(n_total AS DOUBLE) * exp_share), 6) AS chi_term
      FROM s)
    SELECT digit, n_obs, n_total, obs_share, exp_share, chi_term,
      CAST(SUM(CAST(chi_term AS DECIMAL(28,6))) OVER () AS DOUBLE) AS chi2_total
    FROM s2
    """,
    doc="Benford first-significant-digit audit of o_totalprice — the "
        "fraud / fabrication / unit-mixing screen for amount columns: "
        "per digit 1-9 the exact observed count and share beside the "
        "log10(1+1/d) expectation and chi-square contribution, plus the "
        "dataset-wide chi2 on every row.  The digit comes from the "
        "DECIMAL string render, so the corpus scan is pure integer/"
        "string codegen (no log/pow near the hot path); log10 appears "
        "only in the 9-row tail (rounded 6dp, libm-ULP tolerance) and "
        "the chi total sums 6dp-rounded terms in DECIMAL so partial "
        "order can't change it.  ONE map-side-combined count shuffle, "
        "broadcast against a literal digit table, windows over the "
        "9-row frame.  Operator: operators/quality.py benford_audit",
)
def _benford(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return Q.benford_audit(orders, "o_totalprice")


@_q(
    "basket_brand_lift",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS bk, p_brand AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM b),
    i AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i FROM b GROUP BY 1),
    p AS (
      SELECT a.item AS item_a, c.item AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item
      GROUP BY 1, 2)
    SELECT item_a, item_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
      CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
      CAST(n_ab AS DOUBLE) / CAST(ia.n_i AS DOUBLE) AS confidence,
      CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)
        / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift
    FROM p
    JOIN i ia ON p.item_a = ia.item
    JOIN i ib ON p.item_b = ib.item
    CROSS JOIN nb
    """,
    doc="market-basket association mining: support / confidence / lift "
        "for every brand pair co-purchased within an order — the "
        "co-occurrence primitive behind recommendations and affinity "
        "reports.  Scale design: baskets collapse to distinct (order, "
        "brand) FIRST and stage through a lazy localCheckpoint (three "
        "consumers — both pair-join sides and the basket total — would "
        "otherwise each re-execute the distinct, the SCALING.md "
        "scalar-reuse trap); the pair join is equi on the order key so "
        "the quadratic is bounded WITHIN a basket (≤ 25 distinct brands), "
        "never corpus-sized; margins and the total are brand-table-sized "
        "broadcasts, and every ratio divides exact counts.  Operator: "
        "operators/stats.py pair_lift",
)
def _basket(spark, sf_dir):
    li, part = _load(spark, sf_dir, "lineitem", "part")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select(F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("item"))
    return pair_lift(baskets, "bk", "item")


@_q(
    "join_size_estimate_cm",
    """
    WITH a AS (
      SELECT l_partkey AS k FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-01-01'),
    b AS (
      SELECT l_partkey AS k FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'),
    ca AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(k AS VARCHAR)), 1, 8))::BIGINT
          % 4096 AS bk,
        COUNT(*) AS cnt
      FROM a, (SELECT unnest([0, 1, 2, 3]) AS i) h GROUP BY 1, 2),
    cb AS (
      SELECT i AS r,
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':'
                               || CAST(k AS VARCHAR)), 1, 8))::BIGINT
          % 4096 AS bk,
        COUNT(*) AS cnt
      FROM b, (SELECT unnest([0, 1, 2, 3]) AS i) h GROUP BY 1, 2),
    ip AS (
      SELECT ca.r,
        SUM(CAST(ca.cnt AS DECIMAL(19,0)) * CAST(cb.cnt AS DECIMAL(19,0)))
          AS ip
      FROM ca JOIN cb ON ca.r = cb.r AND ca.bk = cb.bk GROUP BY ca.r),
    -- a hash row with NO bucket overlap has inner product ZERO and must
    -- still participate in the min (disjoint-side correctness)
    ipf AS (
      SELECT COALESCE(ip.ip, 0) AS ip
      FROM (SELECT unnest([0, 1, 2, 3]) AS r) rows_
      LEFT JOIN ip ON ip.r = rows_.r),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ipf),
    fa AS (SELECT k, COUNT(*) AS c FROM a GROUP BY k),
    fb AS (SELECT k, COUNT(*) AS c FROM b GROUP BY k),
    tru AS (
      SELECT CAST(COALESCE(SUM(
        CAST(fa.c AS DECIMAL(19,0)) * CAST(fb.c AS DECIMAL(19,0))), 0)
        AS BIGINT) AS true_join_size
      FROM fa JOIN fb USING (k))
    SELECT est_join_size, true_join_size,
      CAST(est_join_size - true_join_size AS BIGINT) AS overcount
    FROM est CROSS JOIN tru
    """,
    doc="join-CARDINALITY estimation from two Count-Min sketches (the CM "
        "inner-product estimator, Cormode & Muthukrishnan 2005 §4.2), "
        "hash-verified bit-for-bit: the pre/post-1996 lineitem slices "
        "sketch their part keys into 4x4096 cells, and min-over-rows of "
        "the per-row bucket dot products upper-bounds the true fact-fact "
        "join size — what a cost-based optimizer or pipeline pre-flight "
        "wants before committing a 100 TB shuffle (sketches are linear "
        "and mergeable; the estimate joins two 16k-cell tables, the "
        "corpora never meet; a no-overlap hash row contributes a ZERO "
        "that stays in the min, so disjoint sides estimate small).  The "
        "true size is computed beside it via "
        "exact per-key count products (the verification branch — "
        "production reads only the cells), and the md5 hash family "
        "replays in ANSI SQL so estimate AND overcount match exactly.  "
        "Products run in DECIMAL (two 10^12-row sides can share a "
        "bucket).  Operator: operators/stats.py countmin_inner_product",
)
def _cm_joinsize(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    cut = F.lit("1996-01-01").cast("timestamp")
    a = spread(li.filter(F.col("l_shipdate") < cut).select(F.col("l_partkey").alias("k")))
    b = spread(li.filter(F.col("l_shipdate") >= cut).select(F.col("l_partkey").alias("k")))
    # r13: hash the VOCABULARY, not the occurrences (the
    # countmin_heavy_hitters pattern) — the per-key (k, count) tables
    # the true-size branch needs anyway now double as the sketch
    # inputs, so the 4 md5 bucket hashes run once per DISTINCT part key
    # instead of once per lineitem row (~15x fewer digests here), and
    # each side's count aggregate runs once for both consumers (lazy
    # localCheckpoint).  Cells sum the counts, which equals the
    # occurrence sketch exactly (cells are linear in integer counts).
    fa = _ckpt(
        a.groupBy("k").agg(F.count(F.lit(1)).alias("ca")),
        eager=False,
        label="cm_joinsize_a",
    )
    fb = _ckpt(
        b.groupBy("k").agg(F.count(F.lit(1)).alias("cb")),
        eager=False,
        label="cm_joinsize_b",
    )
    est = countmin_inner_product(
        countmin_sketch(fa, "k", depth=4, width=4096, weight_col="ca"),
        countmin_sketch(fb, "k", depth=4, width=4096, weight_col="cb"),
        depth=4,
    )
    true_size = fa.join(fb, "k").agg(
        F.coalesce(
            F.sum(F.col("ca").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)")),
            F.lit(0),
        )
        .cast("long")
        .alias("true_join_size")
    )
    return est.crossJoin(true_size).select(
        "est_join_size",
        "true_join_size",
        (F.col("est_join_size") - F.col("true_join_size"))
        .cast("long")
        .alias("overcount"),
    )


#: Fixed precision matrix for the registered (hash-verified)
#: mahalanobis_outliers form (VERDICT r9 item 2): a KMS kernel
#: 2^-|i-j| (symmetric positive-definite for any size) rescaled per
#: variable by dyadic powers 2^-e_i chosen to bring each measure's
#: deviations to O(1) — qty ~2^5, price cents ~2^23, disc/tax cents
#: ~2^3.  Every entry is a dyadic rational, EXACT in binary floats, so
#: the quadratic form's products and left-associated sum are
#: deterministic IEEE arithmetic in any engine — no rounding needed,
#: the raw doubles hash bit-for-bit.
_MAHA_COLS = ["qty", "price_c", "disc_c", "tax_c"]
_MAHA_SCALES = [5, 23, 3, 3]
_MAHA_PRECISION = [
    [
        2.0 ** -(abs(i - j) + _MAHA_SCALES[i] + _MAHA_SCALES[j])
        for j in range(4)
    ]
    for i in range(4)
]


def _maha_fixed_oracle() -> str:
    """DuckDB replay of the registered mahalanobis_outliers form,
    generated from the SAME _MAHA_PRECISION literals with the SAME
    left-associated (i, j) term order the operator's codegen emits, so
    every IEEE step matches bit-for-bit: exact integer measures, means
    as CAST(exact sum AS DOUBLE) / CAST(count AS DOUBLE) (identical to
    the operator's float(decimal)/float(n)), dyadic coefficients."""
    cent = [
        f"(CAST({c} AS DOUBLE) - m.mu{i})" for i, c in enumerate(_MAHA_COLS)
    ]
    terms = "0.0"
    for i in range(4):
        for j in range(4):
            terms += f"\n        + {_MAHA_PRECISION[i][j]!r} * {cent[i]} * {cent[j]}"
    mus = ",\n        ".join(
        f"CAST(SUM({c}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu{i}"
        for i, c in enumerate(_MAHA_COLS)
    )
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
        CAST(floor(l_quantity) AS BIGINT) AS qty,
        CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
        CAST(floor(l_discount * 100) AS BIGINT) AS disc_c,
        CAST(floor(l_tax * 100) AS BIGINT) AS tax_c
      FROM lineitem),
    m AS (
      SELECT {mus}
      FROM base)
    SELECT l_orderkey, l_linenumber,
      {terms} AS maha2
    FROM base CROSS JOIN m
    ORDER BY maha2 DESC, l_orderkey, l_linenumber
    LIMIT 100
    """


@_q(
    "mahalanobis_outliers",
    _maha_fixed_oracle(),
    doc="multivariate outlier detection, HASH-VERIFIED end to end "
        "(VERDICT r9 item 2: was rows-only): top-100 lineitem rows by "
        "squared Mahalanobis-form distance over the four cents-exact "
        "measures — the jointly-implausible-row screen per-column "
        "z-scores can't see.  Plan (identical to the data-driven mode): "
        "ONE exact-DECIMAL moment aggregate for n + the d sums (a "
        "single driver-sized row), data-driven means as "
        "float(exact_sum)/n, then the quadratic form as map-only "
        "codegen with literal coefficients — no UDF, no second shuffle; "
        "top-k is TakeOrdered with a unique key tiebreak.  The "
        "precision matrix is PINNED to fixed dyadic-rational literals "
        "(scaled SPD KMS kernel, exact in binary floats), so every "
        "arithmetic step is deterministic IEEE in both engines and the "
        "raw doubles hash bit-for-bit — the r9 PCA recipe: the one "
        "remaining float step with no portable replay (numpy's d×d "
        "ridge inverse that PRODUCES data-driven coefficients) runs on "
        "already-verified sufficient statistics and stays pinned by "
        "pytest, while everything that scales is hash-verified here.  "
        "Operator: operators/stats.py mahalanobis_scores(precision=...)",
)
def _maha(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_c"),
        F.floor(F.col("l_tax") * 100).cast("long").alias("tax_c"),
    )
    scored = mahalanobis_scores(base, _MAHA_COLS, precision=_MAHA_PRECISION)
    return (
        scored.orderBy(F.desc("maha2"), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "maha2")
        .limit(100)
    )


@_q(
    "hll_audience_overlap",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         b AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL)
    SELECT 'purchase' AS label_a, 'click' AS label_b,
      CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
      CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS exact_b,
      CAST((SELECT COUNT(DISTINCT user_id) FROM events
            WHERE event_type IN ('purchase', 'click')
              AND user_id IS NOT NULL) AS BIGINT) AS exact_union,
      CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
        AS exact_overlap,
      TRUE AS overlap_within_tol
    """,
    doc="distinct-user audience overlap (purchased AND clicked) by "
        "inclusion–exclusion over mergeable HLL sketches: est(A) + "
        "est(B) − est(A∪B), answered from the SAME per-event-type "
        "partials a distinct dashboard already maintains — union is "
        "register-wise max, so the corpus is scanned once for the "
        "partials (checkpoint-staged for the three estimate consumers) "
        "and never again.  BOUND-AUDIT oracle form (VERDICT r10 item 4 "
        "recipe; was rows-only): the registered result is the exact "
        "a/b/union/overlap cardinalities (hash-exact cross-engine) "
        "plus a |est_overlap − exact_overlap| <= 3*(1.04/sqrt(2^12))*"
        "exact_union verdict — the tolerance scales with the UNION "
        "cardinality because inclusion–exclusion sums three estimates' "
        "errors (the operator docstring's documented amplification).  "
        "Measured: |err| = 0.00/17.0 vs tol 7.3/73.1 at sf0.01/sf0.1 "
        "(margin ratio 0.23), deterministic across runs; the raw "
        "estimates stay out of the hash (DataSketches register "
        "semantics have no SQL replay) and remain pinned by pytest "
        "(< 5% at lg_k=12).  Operator: operators/stats.py "
        "hll_overlap_estimate",
)
def _hll_overlap(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    ev = events.filter(F.col("user_id").isNotNull())
    both = ev.filter(F.col("event_type").isin("purchase", "click"))
    partials = _ckpt(
        hll_partial_sketches(both, ["event_type"], "user_id", lg_k=12),
        eager=False,
        label="hll_overlap_partials",
    )
    est = hll_overlap_estimate(partials, "event_type", "purchase", "click")
    pa = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    pb = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    exact = (
        pa.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
        .crossJoin(pb.agg(F.count(F.lit(1)).cast("long").alias("exact_b")))
        .crossJoin(
            both.select("user_id")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
        )
        .crossJoin(
            pa.join(pb, "user_id", "left_semi").agg(
                F.count(F.lit(1)).cast("long").alias("exact_overlap")
            )
        )
    )
    tol = 3 * 1.04 / 2 ** 6  # 3 sigma at lg_k=12, scaled by exact_union
    return est.crossJoin(exact).select(
        "label_a",
        "label_b",
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_overlap",
        (
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= F.lit(tol) * F.col("exact_union")
        ).alias("overlap_within_tol"),
    )


@_q(
    "market_concentration_hhi",
    """
    WITH sr AS (
      SELECT l_suppkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (1 - CAST(l_discount AS DECIMAL(10,2))))
             AS DECIMAL(19,4)) AS rev
      FROM lineitem GROUP BY l_suppkey),
    j AS (
      SELECT n.n_name, sr.rev
      FROM sr
      JOIN supplier s ON sr.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey)
    SELECT n_name,
      CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      CAST(SUM(rev) AS DOUBLE) AS revenue,
      CAST(round(
        CAST(SUM(rev * rev) AS DOUBLE) /
        CAST(CAST(SUM(rev) AS DECIMAL(19,4)) *
             CAST(SUM(rev) AS DECIMAL(19,4)) AS DOUBLE),
        6) AS DOUBLE) AS hhi,
      CAST(round(CAST(MAX(rev) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6)
        AS DOUBLE) AS top_share
    FROM j GROUP BY n_name
    """,
    doc="market-concentration report per nation: the Herfindahl–Hirschman "
        "index of supplier revenue shares plus the top-supplier share — "
        "the antitrust / vendor-risk screen ('is this market one outage "
        "away from a supply shock?').  The float trap here is summing "
        "share² as doubles (summation order would drift bits across "
        "partitionings); instead HHI = Σrev² / (Σrev)² with BOTH sums in "
        "exact DECIMAL and ONE rounded double division at the end.  The "
        "declared widths differ per engine on purpose — Spark DECIMAL(18,4) "
        "so the square's p1+p2+1 stays ≤ 38 (no scale truncation), DuckDB "
        "DECIMAL(19,4) so its physical multiply runs in int128 instead of "
        "overflowing int64 — but both hold the same exact 4dp values; "
        "widen both before rev exceeds 10^14 on larger corpora.  "
        "Plan: ONE supplier-keyed corpus shuffle reduces lineitem to the "
        "supplier revenue table, both dims broadcast, and the nation "
        "rollup (count / Σ / Σ² / max in one aggregate — no windows) "
        "shuffles only supplier-table-sized rows.",
)
def _hhi(spark, sf_dir):
    li, supp, nat = _load(spark, sf_dir, "lineitem", "supplier", "nation")
    disc_price = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    sr = li.groupBy("l_suppkey").agg(
        F.sum(disc_price).cast("decimal(18,4)").alias("rev")
    )
    j = (
        sr.join(F.broadcast(supp), sr["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select("n_name", "rev")
    )
    g = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("__sr"),
        F.sum(F.col("rev") * F.col("rev")).alias("__sq"),
        F.max("rev").alias("__mx"),
    )
    sr18 = F.col("__sr").cast("decimal(18,4)")
    return g.select(
        "n_name",
        "n_suppliers",
        F.col("__sr").cast("double").alias("revenue"),
        F.round(
            F.col("__sq").cast("double") / (sr18 * sr18).cast("double"), 6
        ).alias("hhi"),
        F.round(
            F.col("__mx").cast("double") / F.col("__sr").cast("double"), 6
        ).alias("top_share"),
    )


@_q(
    "ab_test_conversion",
    """
    WITH r AS (
      SELECT user_id, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    u AS (
      SELECT user_id % 2 AS variant,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM r WHERE rn = 1),
    c AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
        CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
          AS c0,
        CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
          AS c1
      FROM u),
    s AS (
      SELECT n0, n1, c0, c1,
        CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
      FROM c),
    z AS (
      SELECT n0, n1, c0, c1, p0, p1,
        CAST(round((p1 - p0) /
          NULLIF(sqrt(pp * (1.0 - pp) *
               (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 0),
          6) AS DOUBLE) AS z6
      FROM s)
    SELECT n0 AS n_control, n1 AS n_treatment,
      c0 AS conv_control, c1 AS conv_treatment,
      CAST(round(p0, 6) AS DOUBLE) AS p_control,
      CAST(round(p1, 6) AS DOUBLE) AS p_treatment,
      CAST(round(p1 - p0, 6) AS DOUBLE) AS lift,
      z6 AS z_score,
      CAST(CASE WHEN abs(z6) > 1.96 THEN 1 ELSE 0 END AS BIGINT)
        AS significant
    FROM z
    """,
    doc="A/B experiment readout: two-proportion z-test of FIRST-TOUCH "
        "conversion (is the user's first tracked event a purchase?) "
        "between the deterministic user_id-parity buckets — the "
        "hash-bucket assignment a real platform uses, same family as "
        "mixture_sample's md5 buckets.  First-touch keeps the metric "
        "volume-independent (any 'ever purchased' outcome saturates to "
        "100% as events-per-user grow — it did on this very corpus) and "
        "the unit of analysis is the USER, so heavy users can't inflate "
        "their arm (the classic unit-mismatch bug).  First events are "
        "pinned by (ts, event_id) so ties can't reorder across engines; "
        "counts are exact longs; the pooled-variance z statistic is one "
        "fixed IEEE sequence rounded 6dp (zero-variance guard NULLs it), "
        "and significance thresholds on the ROUNDED z so the verdict is "
        "bit-deterministic.  Plan: ONE user-keyed corpus shuffle drives "
        "the first-event window, then a 1-row total aggregate — nothing "
        "else moves.",
)
def _ab_test(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    u = (
        events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("conv"),
        )
    )
    c = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .alias("c0"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    s = c.select(
        "n0",
        "n1",
        "c0",
        "c1",
        p0.alias("p0"),
        p1.alias("p1"),
        pp.alias("pp"),
    )
    se = F.sqrt(
        F.col("pp")
        * (F.lit(1.0) - F.col("pp"))
        * (
            F.lit(1.0) / F.col("n0").cast("double")
            + F.lit(1.0) / F.col("n1").cast("double")
        )
    )
    z = s.select(
        "n0",
        "n1",
        "c0",
        "c1",
        "p0",
        "p1",
        F.round(
            (F.col("p1") - F.col("p0")) / F.when(se != 0, se), 6
        ).alias("z6"),
    )
    return z.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c0").alias("conv_control"),
        F.col("c1").alias("conv_treatment"),
        F.round("p0", 6).alias("p_control"),
        F.round("p1", 6).alias("p_treatment"),
        F.round(F.col("p1") - F.col("p0"), 6).alias("lift"),
        F.col("z6").alias("z_score"),
        F.when(F.abs(F.col("z6")) > 1.96, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant"),
    )


@_q(
    "gini_revenue_concentration",
    """
    WITH rev AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey),
    rk AS (
      SELECT o_custkey, rev,
        ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i,
        NTILE(10) OVER (ORDER BY rev, o_custkey) AS decile
      FROM rev),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS total,
        SUM(CAST(i AS DECIMAL(18,0)) * rev) AS iw
      FROM rk),
    gini AS (
      SELECT n, total,
        CAST(round(
          2.0 * CAST(iw AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
          - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS DOUBLE)
          AS gini6
      FROM g),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS customers,
        SUM(rev) AS drev
      FROM rk GROUP BY decile)
    SELECT CAST(d.decile AS BIGINT) AS decile, d.customers,
      CAST(d.drev AS DOUBLE) AS revenue,
      CAST(round(CAST(d.drev AS DOUBLE) / CAST(g2.total AS DOUBLE), 6)
        AS DOUBLE) AS rev_share6,
      CAST(round(
        CAST(SUM(d.drev) OVER (ORDER BY d.decile ROWS UNBOUNDED PRECEDING)
          AS DOUBLE) / CAST(g2.total AS DOUBLE), 6) AS DOUBLE)
        AS cum_share6,
      g2.gini6, g2.n AS n_customers
    FROM dec d, gini g2
    """,
    doc="Gini coefficient + decile Lorenz curve of customer revenue "
        "concentration — the inequality summary behind 'whale' "
        "analysis, one level deeper than market_concentration_hhi "
        "(HHI measures firm shares; Gini measures the whole "
        "distribution's skew).  G = 2·Σi·x(i)/(n·Σx) − (n+1)/n over "
        "revenue-ascending ranks.  Exactness: revenue and the "
        "rank-weighted sum stay in exact DECIMAL end-to-end (i ≤ "
        "customer count, so i·rev sums are overflow-safe in "
        "DECIMAL(38,2) far past 100 TB), cast to double once for the "
        "two-term Gini formula rounded 6dp; (rev, custkey) makes the "
        "rank order total, and NTILE(10) over a total order is "
        "engine-identical by the SQL-standard bucket rule.  Plan: one "
        "fact shuffle into the customer aggregate; ranks come from "
        "operators/windows.py::global_row_number — the two-level "
        "bucketed prefix scan, NO unpartitioned window over the "
        "customer frame (customers are the schema's largest 'dim'; at "
        "100x a single-task sort here is the bottleneck — VERDICT r5 "
        "item 3).  NTILE(10) is then the closed-form SQL-standard "
        "bucket rule applied to (i, n): the first n%10 deciles hold "
        "ceil(n/10) rows, the rest floor(n/10).  Ends in a 10-row "
        "Lorenz aggregate with the 1-row Gini broadcast back.",
)
def _gini_conc(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = global_row_number(rev, "rev", "o_custkey", out_col="i")
    n_row = rev.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    i, nn = F.col("i"), F.col("__n")
    q, r = (nn / 10).cast("long"), nn % 10
    # SQL-standard NTILE(10): buckets 1..r get q+1 rows, r+1..10 get q;
    # with n < 10 (q = 0) each row is its own bucket, i.e. decile = i.
    decile = (
        F.when(q == 0, i)
        .when(i <= r * (q + 1), F.floor((i - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((i - r * (q + 1) - 1) / q) + 1)
        .cast("int")
    )
    rk = _ckpt(
        ranked.crossJoin(F.broadcast(n_row))
        .select("o_custkey", "rev", "i", decile.alias("decile")),
        # two consumers (totals + decile aggregate): stage the ranked dim
        eager=False,
        label="gini_ranked",
    )
    g = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("rev")).alias("iw"),
    )
    gini = g.select(
        "n",
        "total",
        F.round(
            F.lit(2.0)
            * F.col("iw").cast("double")
            / (F.col("n").cast("double") * F.col("total").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0))
            / F.col("n").cast("double"),
            6,
        ).alias("gini6"),
    )
    dec = rk.groupBy("decile").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("rev").alias("drev"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return dec.crossJoin(F.broadcast(gini)).select(
        F.col("decile").cast("bigint").alias("decile"),
        "customers",
        F.col("drev").cast("double").alias("revenue"),
        F.round(
            F.col("drev").cast("double") / F.col("total").cast("double"), 6
        ).alias("rev_share6"),
        F.round(
            F.sum("drev").over(w_cum).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("cum_share6"),
        "gini6",
        F.col("n").alias("n_customers"),
    )


@_q(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id,
        CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
          AS c_click,
        CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
          AS c_view,
        CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
          AS c_purchase,
        CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT)
          AS c_signup,
        CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
          AS c_error,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id)
    SELECT user_id, n,
      CAST((CASE WHEN c_click > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_view > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_purchase > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_signup > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN c_error > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_types,
      CAST(round(
        ln(CAST(n AS DOUBLE))
        - ((CASE WHEN c_click > 0
              THEN CAST(c_click AS DOUBLE) * ln(CAST(c_click AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_view > 0
              THEN CAST(c_view AS DOUBLE) * ln(CAST(c_view AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_purchase > 0
              THEN CAST(c_purchase AS DOUBLE)
                   * ln(CAST(c_purchase AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN c_signup > 0
              THEN CAST(c_signup AS DOUBLE) * ln(CAST(c_signup AS DOUBLE))
              ELSE 0.0 END)
         + (CASE WHEN c_error > 0
              THEN CAST(c_error AS DOUBLE) * ln(CAST(c_error AS DOUBLE))
              ELSE 0.0 END)) / CAST(n AS DOUBLE), 6) AS DOUBLE)
        AS entropy6
    FROM c
    """,
    doc="per-user Shannon entropy of the event-type mix — the "
        "behavioral-diversity feature behind bot screening (a scraper "
        "is near-0 entropy, a human browses a mix) and audience "
        "segmentation, computed as H = ln n − (Σ cᵢ ln cᵢ)/n so every "
        "term is a function of exact integer counts.  Determinism: "
        "the five event types pivot to FIXED columns, so the Σ is a "
        "fixed-order scalar expression tree (never a float SUM whose "
        "partial-aggregate order could differ across engines) — "
        "identical IEEE sequence both sides, 6dp round absorbs ln "
        "ULP.  Plan: ONE user-keyed count shuffle (map-side "
        "combinable conditional counts), then map-only math; output "
        "is the user dim.",
)
def _user_entropy(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    e = events.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    types = ["click", "view", "purchase", "signup", "error"]
    c = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{t}")
            for t in types
        ],
        F.count(F.lit(1)).alias("n"),
    )
    plogp = None
    for t in types:
        ct = F.col(f"c_{t}")
        term = F.when(
            ct > 0, ct.cast("double") * F.log(ct.cast("double"))
        ).otherwise(F.lit(0.0))
        plogp = term if plogp is None else plogp + term
    n_types = None
    for t in types:
        ind = F.when(F.col(f"c_{t}") > 0, 1).otherwise(0)
        n_types = ind if n_types is None else n_types + ind
    return c.select(
        "user_id",
        "n",
        n_types.cast("bigint").alias("n_types"),
        F.round(
            F.log(F.col("n").cast("double"))
            - plogp / F.col("n").cast("double"),
            6,
        ).alias("entropy6"),
    )


@_q(
    "l_diversity_events",
    """
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             hour(ts) AS h, minute(ts) AS m,
             COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_sensitive
      FROM events GROUP BY 1, 2, 3, 4)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_homogeneous_groups,
      CAST(SUM(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END) AS BIGINT)
        AS n_rows_at_risk,
      CAST(MIN(n_sensitive) AS BIGINT) AS effective_l
    FROM g
    """,
    doc="l-diversity privacy census (Machanavajjhala et al. 2007) over "
        "the events table at (event_type, date, hour, minute) "
        "granularity with user_id as the sensitive attribute — the "
        "audit k-anonymity misses: a group can clear k members yet "
        "leak the sensitive value outright when all members share it "
        "(homogeneity attack).  Counts the quasi-identifier groups "
        "whose sensitive column has < 3 distinct values, the rows in "
        "them, and the dataset's effective l.  Plan: one shuffle keyed "
        "on the quasi columns (the per-group exact COUNT(DISTINCT) is "
        "a single Expand, still map-side combinable), then a group-"
        "table fold.  Operator: operators/quality.py "
        "l_diversity_summary / l_diversity_audit",
)
def _ldiv(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    quasi = events.select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("m"),
        "user_id",
    )
    return Q.l_diversity_summary(
        quasi, ["event_type", "d", "h", "m"], "user_id", l=3
    )


@_q(
    "auc_price_basket_size",
    """
    WITH lc AS (
      SELECT l_orderkey, COUNT(*) AS nl FROM lineitem GROUP BY 1
    ), s AS (
      SELECT o_totalprice AS score, (coalesce(nl, 0) >= 5) AS pos
      FROM orders LEFT JOIN lc ON o_orderkey = l_orderkey
      WHERE o_totalprice IS NOT NULL
    ), h AS (
      SELECT score,
        CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS cn
      FROM s GROUP BY score
    ), c AS (
      SELECT cp, cn, SUM(cn) OVER (ORDER BY score) AS cumn FROM h
    ), t AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
             CAST(SUM(cn) AS BIGINT) AS n_neg FROM h)
    SELECT n_pos, n_neg,
      CAST(SUM(cp * (2 * cumn - cn)) AS DOUBLE)
        / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
    FROM c, t GROUP BY n_pos, n_neg
    """,
    doc="distributed ROC-AUC (Mann–Whitney rank-sum identity): how well "
        "the order total ranks large baskets (>= 5 lineitems) — the "
        "eval every scoring feature/quality classifier needs, computed "
        "without materializing a single ROC point: per distinct score, "
        "a positive beats the negatives strictly below and half-ties "
        "the negatives at the same score, so 2U folds from the "
        "inclusive running negative counts.  Exact integer arithmetic "
        "(DECIMAL(38,0) pair sums — the pair count overflows BIGINT "
        "long before 100 TB) until ONE final double division — bit-"
        "reproducible unrounded.  Same two-level prefix-scan plan as "
        "ks_drift_price: one corpus shuffle, no global-order window "
        "over the data (the oracle's ORDER BY window is the semantic "
        "spec, not the plan).  The label join aggregates lineitem "
        "before joining, so the fact table never carries the label "
        "probe.  The synthetic fixture draws totals independently of "
        "basket size, so the verified value sits near the null 0.5; "
        "discrimination itself is pinned by the perfect/reversed/tied "
        "edge pytests.  Operator: operators/stats.py rank_sum_auc",
)
def _auc(spark, sf_dir):
    orders, lineitem = _load(spark, sf_dir, "orders", "lineitem")
    lc = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    scored = (
        orders.join(lc, "o_orderkey", "left")
        .select(
            F.col("o_totalprice").alias("score"),
            (F.coalesce(F.col("nl"), F.lit(0)) >= 5).alias("pos"),
        )
    )
    return rank_sum_auc(scored, "score", F.col("pos"))


@_q(
    "ks_drift_price",
    """
    WITH b AS (
      SELECT o_totalprice AS v,
             (o_orderdate < TIMESTAMP '1998-01-01') AS a
      FROM orders WHERE o_totalprice IS NOT NULL
    ), h AS (
      SELECT v,
        CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM b GROUP BY v
    ), c AS (
      SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM h
    ), t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
      FROM h
    ), d AS (
      SELECT n_a, n_b,
        MAX(ABS(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks_stat
      FROM c, t GROUP BY n_a, n_b)
    SELECT n_a, n_b, ks_stat,
      CAST(round(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE)) * ks_stat, 6)
           AS DOUBLE) AS ks_scaled
    FROM d
    """,
    doc="two-sample Kolmogorov–Smirnov drift test on order totals, "
        "pre-1998 vs 1998+ — the exact sup-gap ECDF companion to the "
        "binned psi_drift_orders: D = sup |F_A − F_B| evaluated at "
        "every distinct price (CDFs step together at tied atoms), plus "
        "the sqrt(n_a·n_b/(n_a+n_b))·D form compared against the "
        "Kolmogorov critical values.  NO global-order window over the "
        "data: per-value histogram (one corpus shuffle), then a two-"
        "level prefix scan — running offsets over the tiny range-"
        "bucket table, within-bucket windows partitioned by bucket — "
        "so every stage stays parallel at 100 TB (the SQL oracle's "
        "single ORDER BY window is the semantic spec, not the plan).  "
        "ks_stat is a fixed IEEE sequence over exact integer counts — "
        "bit-reproducible unrounded; only the sqrt-scaled form rounds "
        "(6dp).  Operator: operators/stats.py ks_two_sample",
)
def _ks(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return ks_two_sample(
        orders,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
    )




@_q(
    "chi2_event_dow",
    """
    WITH cells AS (
      SELECT event_type AS a, isodow(ts) AS b,
        CAST(COUNT(*) AS BIGINT) AS o
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    m AS (
      SELECT o,
        CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
        CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
        CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells),
    k AS (
      SELECT CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
        CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
      FROM cells),
    t AS (
      SELECT MAX(n) AS n,
        SUM(CAST(round(
          (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
             / CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
             / CAST(n AS DOUBLE))
          / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)),
          6) AS DECIMAL(28,6))) AS chi2
      FROM m)
    SELECT t.n, k.ka AS n_a, k.kb AS n_b,
      CAST((k.ka - 1) * (k.kb - 1) AS BIGINT) AS dof,
      CAST(round(CAST(t.chi2 AS DOUBLE), 6) AS DOUBLE) AS chi2_6,
      CASE WHEN t.n > 0 AND least(k.ka - 1, k.kb - 1) > 0 THEN
        CAST(round(sqrt(CAST(t.chi2 AS DOUBLE)
          / (CAST(t.n AS DOUBLE)
             * CAST(least(k.ka - 1, k.kb - 1) AS DOUBLE))), 6) AS DOUBLE)
      END AS cramers_v6
    FROM t, k
    """,
    doc="Pearson chi-square independence test of event_type x ISO "
        "weekday + Cramer's V effect size -- the hypothesis-testing "
        "complement to mutual_information (is the contingency "
        "explainable by chance?).  ONE map-side-combined count shuffle "
        "builds the contingency table; margins/expected counts are "
        "windows over the CELL frame (category-cardinality, never the "
        "corpus); per-cell chi terms are rounded 6dp and summed in "
        "DECIMAL(28,6) so partial order can't change the total (the "
        "Benford determinism pattern).  On the word-soup fixture the "
        "test should NOT reject wildly -- the pytest pins the statistic "
        "against scipy-free numpy replication on a hand-built "
        "dependent fixture instead.  Operator: operators/stats.py "
        "chi2_independence",
)
def _chi2_dow(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    iso = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    return chi2_independence(
        events.filter(F.col("ts").isNotNull()).withColumn("dow", iso),
        "event_type",
        "dow",
    )


@_q(
    "trimmed_mean_prices",
    """
    WITH r AS (
      SELECT l_returnflag AS g,
        CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))) AS rn,
        CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      FROM lineitem WHERE l_extendedprice IS NOT NULL)
    SELECT g AS l_returnflag,
      MAX(n) AS n,
      CAST(MAX(floor(0.1 * CAST(n AS DOUBLE))) AS BIGINT) AS k_trim,
      CASE WHEN SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                    AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                   THEN 1 ELSE 0 END) > 0 THEN
        CAST(round(
          CAST(SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                     AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                    THEN v END) AS DOUBLE)
          / CAST(SUM(CASE WHEN rn > floor(0.1 * CAST(n AS DOUBLE))
                      AND rn <= n - floor(0.1 * CAST(n AS DOUBLE))
                     THEN 1 ELSE 0 END) AS DOUBLE), 6) AS DOUBLE)
      END AS trimmed_mean6
    FROM r GROUP BY 1
    """,
    doc="Exact 10 percent trimmed mean of l_extendedprice per return "
        "flag -- the robust-location upgrade to AVG for heavy-tailed "
        "measures (clip-free complement to clip_outliers' winsorize). "
        "The engine computes per-group order statistics WITHOUT any "
        "per-group global sort: count algebra over the (group, value) "
        "histogram with the two-level range-bucket prefix scan, so "
        "even within-group running counts parallelize past the 3-group "
        "partition count; value weight = clamp(min(cum, n-k) - "
        "max(cum-cnt, k)) handles ties exactly (any tie order gives "
        "the same sum -- which is why the oracle's ROW_NUMBER form is "
        "equivalent).  Weighted sum exact DECIMAL, one division, 6dp. "
        "Operator: operators/stats.py trimmed_mean",
)
def _trimmed_prices(spark, sf_dir):
    (lineitem,) = _load(spark, sf_dir, "lineitem")
    return trimmed_mean(lineitem, "l_returnflag", "l_extendedprice", 0.1)


@_q(
    "kmv_distinct_users",
    """
    WITH pts AS (
      SELECT DISTINCT event_type AS g, user_id AS k
      FROM events WHERE user_id IS NOT NULL),
    h AS (
      SELECT g, k,
        (CAST(('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
      FROM pts),
    r AS (
      SELECT g, u,
        ROW_NUMBER() OVER (PARTITION BY g ORDER BY u, k) AS rn
      FROM h)
    SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
      CAST(round(CASE WHEN COUNT(*) = 64 THEN 63.0 / MAX(u)
                 ELSE CAST(COUNT(*) AS DOUBLE) END, 6) AS DOUBLE)
        AS kmv_estimate6
    FROM r WHERE rn <= 64 GROUP BY 1
    """,
    doc="K-Minimum-Values distinct-user sketch per event type (k=64 so even the sf0.01 driver fixture exercises the ESTIMATOR path, "
        "Bar-Yossef et al. 2002) -- the order-statistics dual of HLL: "
        "if the k-th smallest of the uniformly-hashed keys is h(k), "
        "~(k-1)/h(k) keys span (0,1).  Exact below k, mergeable, and "
        "(unlike HLL) supports set intersection via sketch unions.  "
        "Plan: dedup shuffle on (type, user), then row_number <= k -- "
        "Spark rewrites to WindowGroupLimit so every partition "
        "pre-prunes to its local k before the merge; surviving rows "
        "are k x |types|, never the corpus.  The md5-prefix uniform is "
        "the engine-portable hash every sampler shares, so DuckDB "
        "rebuilds the identical sketch bit-for-bit.  Operator: "
        "operators/stats.py kmv_distinct",
)
def _kmv_users(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return kmv_distinct(events, "event_type", "user_id", k=64)


@_q(
    "dp_event_counts",
    """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
    u AS (
      SELECT event_type, true_count,
        (CAST(('0x' || substring(
            md5('42' || chr(31) || event_type), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
      FROM c)
    SELECT event_type, true_count,
      CAST(round(-2.0 * sign(u - 0.5)
        * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS DOUBLE) AS noise6,
      CAST(round(CAST(true_count AS DOUBLE)
        + (-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6)
        AS DOUBLE) AS noisy_count6
    FROM u
    """,
    doc="epsilon-differentially-private event-type counts via the "
        "Laplace mechanism (eps=0.5, sensitivity 1) -- completes the "
        "privacy battery beside k_anonymity_events / "
        "l_diversity_events with the release-side primitive.  The "
        "noise is the inverse-CDF Laplace draw on the engine-portable "
        "md5 uniform: -(1/eps) sign(u-1/2) ln(1-2|u-1/2|) -- "
        "deterministic per (seed, group), so releases are auditable "
        "and replayable cross-engine (same-seed re-release spends no "
        "extra budget; a REAL release drops true_count, kept here for "
        "mechanism audit).  ONE map-side-combined count shuffle; noise "
        "math runs on the group-cardinality frame.  Operator: "
        "operators/quality.py dp_noisy_counts",
)
def _dp_counts(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return Q.dp_noisy_counts(events, "event_type", epsilon=0.5, seed=42)


@_q(
    "did_revenue_effect",
    """
    WITH j AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
        (c_mktsegment = 'BUILDING') AS t,
        (o_orderdate >= TIMESTAMP '1996-01-01') AS p
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice IS NOT NULL AND c_mktsegment IS NOT NULL
        AND o_orderdate IS NOT NULL),
    a AS (
      SELECT
        CAST(COUNT(*) FILTER (WHERE t AND NOT p) AS BIGINT) AS n_t_pre,
        CAST(COUNT(*) FILTER (WHERE t AND p) AS BIGINT) AS n_t_post,
        CAST(COUNT(*) FILTER (WHERE NOT t AND NOT p) AS BIGINT) AS n_c_pre,
        CAST(COUNT(*) FILTER (WHERE NOT t AND p) AS BIGINT) AS n_c_post,
        SUM(x) FILTER (WHERE t AND NOT p) AS s_t_pre,
        SUM(x) FILTER (WHERE t AND p) AS s_t_post,
        SUM(x) FILTER (WHERE NOT t AND NOT p) AS s_c_pre,
        SUM(x) FILTER (WHERE NOT t AND p) AS s_c_post
      FROM j)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
      CAST(round(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 6)
        AS DOUBLE) AS mean_t_pre6,
      CAST(round(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE), 6)
        AS DOUBLE) AS mean_t_post6,
      CAST(round(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 6)
        AS DOUBLE) AS mean_c_pre6,
      CAST(round(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE), 6)
        AS DOUBLE) AS mean_c_post6,
      CAST(round(
        (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
          - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
        - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
          - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)), 6)
        AS DOUBLE) AS did6
    FROM a
    """,
    doc="Difference-in-differences estimate of order value for the "
        "BUILDING segment (treated) vs all other segments (control), "
        "pre/post 1996-01-01 -- the quasi-experimental estimator when "
        "treatment wasn't randomized: the control group's pre->post "
        "drift nets out shared time trends under parallel trends.  On "
        "the signal-free fixture did6 ~ 0 by construction; the pytest "
        "pins recovery of a PLANTED effect on a hand-built panel.  "
        "Plan: broadcast customer-dim join, then ONE map-side-combined "
        "conditional aggregate (each row hits exactly one of 4 cells); "
        "nothing grows with the corpus.  Cell sums exact DECIMAL; "
        "means/DiD one fixed IEEE expression rounded 6dp.  Operator: "
        "operators/quality.py diff_in_diff",
)
def _did_revenue(spark, sf_dir):
    orders, customer = _load(spark, sf_dir, "orders", "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).filter(
        F.col("c_mktsegment").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    return Q.diff_in_diff(
        j,
        treated=F.col("c_mktsegment") == "BUILDING",
        post=F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"),
        value_col="o_totalprice",
    )


@_q(
    "fdr_event_value_tests",
    """
    WITH m AS (
      SELECT event_type,
        (isodow(ts) >= 6) AS wend,
        CAST(value AS DECIMAL(18,2)) AS x
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    s AS (
      SELECT event_type,
        CAST(COUNT(*) FILTER (WHERE wend) AS BIGINT) AS n1,
        CAST(COUNT(*) FILTER (WHERE NOT wend) AS BIGINT) AS n2,
        SUM(x) FILTER (WHERE wend) AS s1,
        SUM(x) FILTER (WHERE NOT wend) AS s2,
        SUM(x * x) FILTER (WHERE wend) AS ss1,
        SUM(x * x) FILTER (WHERE NOT wend) AS ss2
      FROM m GROUP BY 1),
    z AS (
      SELECT event_type, n1 AS n_wend, n2 AS n_wday,
        (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        / sqrt(
            ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)))
            / CAST(n1 AS DOUBLE)
            + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
               - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)))
            / CAST(n2 AS DOUBLE)) AS zval
      FROM s WHERE n1 > 1 AND n2 > 1),
    z2 AS (
      SELECT event_type, n_wend, n_wday, zval,
        abs(zval) / sqrt(2.0) AS xx
      FROM z),
    z3 AS (
      SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM z2),
    p AS (
      SELECT event_type, n_wend, n_wday,
        CAST(round(zval, 6) AS DOUBLE) AS z6,
        CAST(round(2.0 * (1.0 - (0.5 * (1.0 + (1.0
          - (0.254829592 * t
             + -0.284496736 * t * t
             + 1.421413741 * t * t * t
             + -1.453152027 * t * t * t * t
             + 1.061405429 * t * t * t * t * t)
            * exp(-xx * xx))))), 6) AS DOUBLE) AS p6
      FROM z3),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p6, event_type) AS BIGINT)
          AS rank,
        CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p),
    adj AS (
      SELECT event_type, n_wend, n_wday, z6, p6, rank,
        CAST(round(least(1.0, MIN(p6 * CAST(m AS DOUBLE)
            / CAST(rank AS DOUBLE))
          OVER (ORDER BY p6 DESC, event_type DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
          AS DOUBLE) AS p_bh6
      FROM ranked)
    SELECT event_type, n_wend, n_wday, z6, p6, rank, p_bh6,
      (p_bh6 <= 0.05) AS reject
    FROM adj
    """,
    doc="Per-event-type Welch z-test of weekend-vs-weekday mean value, "
        "Benjamini-Hochberg corrected at FDR 0.05 -- the "
        "multiple-testing control every metric battery needs (testing "
        "k segments at alpha=.05 'discovers' ~k/20 false positives; "
        "BH bounds the false-discovery RATE).  On the signal-free "
        "fixture nothing should reject -- the pytest pins rejection "
        "recovery on a planted-effect fixture and the BH math against "
        "a pure-Python reference.  Exactness: per-cell moments exact "
        "DECIMAL; z one fixed IEEE expression; Phi(z) via the A&S "
        "7.1.26 erf polynomial (FIXED shared literals, max err 1.5e-7 "
        "<< the 6dp round) because neither engine has a builtin erf; "
        "BH runs on the ROUNDED p so both engines rank identical "
        "values, ties broken by event_type.  Plan: one moment shuffle "
        "over (type, weekend); everything after runs on the "
        "hypothesis frame (one row per event type).  Operators: "
        "operators/stats.py normal_cdf + benjamini_hochberg",
)
def _fdr_value_tests(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    iso = (F.dayofweek("ts") + 5) % 7 + 1
    m = events.filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_type",
        (iso >= 6).alias("wend"),
        F.col("value").cast("decimal(18,2)").alias("x"),
    )
    s = m.groupBy("event_type").agg(
        F.count(F.when(F.col("wend"), F.lit(1))).alias("n_wend"),
        F.count(F.when(~F.col("wend"), F.lit(1))).alias("n_wday"),
        F.sum(F.when(F.col("wend"), F.col("x"))).alias("__s1"),
        F.sum(F.when(~F.col("wend"), F.col("x"))).alias("__s2"),
        F.sum(F.when(F.col("wend"), F.col("x") * F.col("x"))).alias("__ss1"),
        F.sum(F.when(~F.col("wend"), F.col("x") * F.col("x"))).alias("__ss2"),
    )

    def var_over_n(n: str, sx: str, ssx: str):
        nd = F.col(n).cast("double")
        sd = F.col(sx).cast("double")
        ssd = F.col(ssx).cast("double")
        return ((nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0)))) / nd

    zval = (
        F.col("__s1").cast("double") / F.col("n_wend").cast("double")
        - F.col("__s2").cast("double") / F.col("n_wday").cast("double")
    ) / F.sqrt(
        var_over_n("n_wend", "__s1", "__ss1")
        + var_over_n("n_wday", "__s2", "__ss2")
    )
    tests = (
        s.filter((F.col("n_wend") > 1) & (F.col("n_wday") > 1))
        .withColumn("__z", zval)
        .select(
            "event_type",
            "n_wend",
            "n_wday",
            F.round("__z", 6).alias("z6"),
            F.round(
                F.lit(2.0) * (F.lit(1.0) - normal_cdf(F.abs(F.col("__z")))), 6
            ).alias("p6"),
        )
    )
    return benjamini_hochberg(tests, "event_type", "p6", alpha=0.05)
