"""Moment-based statistics with exact, order-independent accumulation.

``stddev_samp`` / ``var_samp`` / ``corr`` built-ins accumulate doubles
(Welford-style), so their last bits depend on partitioning and engine —
unverifiable cross-engine and non-reproducible across cluster layouts.
For integer-valued measures (cents, counts) the second moments
``(n, Σx, Σx², Σy, Σy², Σxy)`` are EXACT in DECIMAL, decomposable
(partial sums merge associatively → map-side combine before the
exchange, one shuffle of six numbers per group), and the closed-form
conversion to variance / correlation is a short fixed sequence of
IEEE-double ops — bit-identical on any engine, any partitioning, any
scale.

This is the textbook pattern for distributed analytics at 100 TB:
ship sufficient statistics, not data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.capture import checkpoint as _ckpt

__all__ = [
    "exact_second_moments",
    "group_linear_fit",
    "corr_matrix",
    "ks_two_sample",
    "rank_sum_auc",
    "pair_lift",
    "mahalanobis_scores",
    "categorical_mutual_information",
    "equi_depth_histogram",
    "hll_partial_sketches",
    "hll_union_estimate",
    "hll_overlap_estimate",
    "countmin_bucket",
    "countmin_sketch",
    "countmin_estimate",
    "countmin_inner_product",
    "bloom_build",
    "bloom_bitmap",
    "bloom_might_contain",
    "chi2_independence",
    "autocorrelation",
    "trimmed_mean",
    "kmv_distinct",
    "normal_cdf",
    "benjamini_hochberg",
]

#: integer-valued measures fit comfortably: |x| < 10^12 keeps x*x
#: inside DECIMAL(25,0) and corpus-scale sums inside DECIMAL(38,0).
_D = "decimal(12,0)"


def exact_second_moments(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    prefix_x: str = "x",
    prefix_y: str = "y",
) -> DataFrame:
    """Per-group ``n, mean, var_samp, stddev_samp`` for two
    integer-valued columns plus their sample correlation, via exact
    decimal moments.

    ``x_col`` / ``y_col`` must be integer-valued (cast your money to
    cents first): the six power sums are then exact and
    order-independent, and every derived statistic is a deterministic
    double expression over them —

      ``var  = (n·Σx² − (Σx)²) / (n·(n−1))``
      ``corr = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²))``

    — reproducible bit-for-bit in ANSI SQL (each decimal sum casts to
    double correctly-rounded, after which the formula is fixed-order
    IEEE arithmetic).  Single-row groups yield NULL variance/corr
    (sample denominators), matching SQL semantics.
    """
    x = F.col(x_col).cast(_D)
    y = F.col(y_col).cast(_D)
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("__sx").cast("double"), F.col("__sxx").cast("double")
    sy, syy = F.col("__sy").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")

    def _var(s: Column, ss: Column) -> Column:
        return F.when(
            F.col("n") > 1, (n * ss - s * s) / (n * (n - F.lit(1.0)))
        )

    corr_num = n * sxy - sx * sy
    corr_den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return agg.select(
        *group_cols,
        F.col("n"),
        (sx / n).alias(f"mean_{prefix_x}"),
        _var(sx, sxx).alias(f"var_{prefix_x}"),
        F.sqrt(_var(sx, sxx)).alias(f"stddev_{prefix_x}"),
        (sy / n).alias(f"mean_{prefix_y}"),
        _var(sy, syy).alias(f"var_{prefix_y}"),
        F.when((F.col("n") > 1) & (corr_den != 0), corr_num / corr_den).alias(
            f"corr_{prefix_x}{prefix_y}"
        ),
    )


def group_linear_fit(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares fit ``y = slope·x + intercept``
    with ``r2``, closed-form from the same exact decimal moments as
    :func:`exact_second_moments` — no iteration, no ML library, one
    map-side-combinable shuffle of six numbers per group.

      ``slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``
      ``intercept = Σy/n − slope · (Σx/n)``
      ``r2        = (n·Σxy − Σx·Σy)² / ((n·Σx²−(Σx)²) · (n·Σy²−(Σy)²))``

    ``x_col`` / ``y_col`` must be integer-valued (cents, counts) so the
    power sums are exact; every derived value is then a fixed-order
    IEEE-double sequence — bit-reproducible on any partitioning or
    engine.  Degenerate groups (n < 2, constant x) yield NULL slope and
    intercept; constant y additionally nulls ``r2`` (0/0).

    This is the distributed-regression textbook shape: a million
    per-group fits cost one aggregation, not a million ML jobs.
    """
    x = F.col(x_col).cast(_D)
    y = F.col(y_col).cast(_D)
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("__sx").cast("double"), F.col("__sxx").cast("double")
    sy, syy = F.col("__sy").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")

    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx
    fit_ok = (F.col("n") > 1) & (denx != 0)
    return agg.select(
        *group_cols,
        F.col("n"),
        F.when(fit_ok, slope).alias("slope"),
        F.when(fit_ok, sy / n - slope * (sx / n)).alias("intercept"),
        F.when(fit_ok & (deny != 0), (num * num) / (denx * deny)).alias("r2"),
    )


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass Pearson correlation matrix over ``k`` integer-valued
    columns — the column-dependence screen a table profile runs next to
    :func:`exact_second_moments`' per-pair form.

    ONE aggregate over one scan computes every sufficient statistic at
    once: ``n``, ``k`` sums, ``k`` square sums and ``k·(k−1)/2`` cross
    sums, all exact DECIMAL (map-side combinable — the shuffle carries
    ``k·(k+3)/2 + 1`` numbers, never rows).  The single-row result then
    EXPLODES into the long-form upper triangle ``(col_x, col_y, n,
    corr)`` inside the same plan: deriving each pair as its own select
    branch over the agg would re-plan — and re-execute — the corpus
    subtree once per pair (the scalar-reuse trap, SCALING.md).

    Columns must be integer-valued (cast money to cents first) so the
    power sums are exact and order-independent; each ``corr`` is then
    the fixed IEEE-double closed form of :func:`exact_second_moments`
    — bit-identical on any engine or partitioning.  Constant columns
    (zero variance) yield NULL, as does n ≤ 1.
    """
    aggs = [F.count("*").alias("n")]
    for c in cols:
        x = F.col(c).cast(_D)
        aggs.append(F.sum(x).alias(f"__s_{c}"))
        aggs.append(F.sum(x * x).alias(f"__ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(F.col(a).cast(_D) * F.col(b).cast(_D)).alias(f"__sx_{a}_{b}")
            )
    agg = df.agg(*aggs)

    n = F.col("n").cast("double")

    def _d(name: str):
        return F.col(name).cast("double")

    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sa, sb = _d(f"__s_{a}"), _d(f"__s_{b}")
            num = n * _d(f"__sx_{a}_{b}") - sa * sb
            den = F.sqrt(n * _d(f"__ss_{a}") - sa * sa) * F.sqrt(
                n * _d(f"__ss_{b}") - sb * sb
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.when((F.col("n") > 1) & (den != 0), num / den).alias("corr"),
                )
            )
    return agg.select(
        F.col("n"), F.explode(F.array(*pairs)).alias("p")
    ).select("p.col_x", "p.col_y", F.col("n"), "p.corr")


def _equi_depth_buckets(hist: DataFrame, n_buckets: int) -> DataFrame:
    """Attach ``__b``: the equi-depth range bucket of ``__v``.

    Boundaries come from ``percentile_approx(__v, i/n_buckets)`` over
    the histogram (1-row aggregate — broadcasts, no driver collect), so
    buckets hold ~equal DISTINCT-VALUE counts whatever the value
    distribution; the old equi-width ``[min, max]`` splits degenerated
    toward a few buckets on heavy-tailed values (the same skew
    ``operators/windows.py::global_row_number`` fixed — VERDICT r6
    item 3).  ``__b`` is monotone non-decreasing in ``__v`` (count of
    cutpoints strictly below), which is the only property the two-level
    prefix scans need — placement-only freedom, results bit-unchanged.

    The RETURNED bucketed frame is lazily checkpointed (label
    ``equi_depth_buckets``): every caller feeds it to at least two consumers (the bucket-total
    table and the final running-count join), and round-8 profiling
    showed the un-staged form re-evaluating the histogram shuffle +
    percentile pass + ~2·√n_buckets interpreted HOF steps/row once per
    consumer (a cuts-only checkpoint was WORSE — it split the plan into
    separate RDD lineages and defeated AQE exchange reuse of the
    histogram: ks_drift_price 3.8 s vs 1.7 s at sf0.1).  The
    materialized frame is histogram-sized (distinct values × 4 narrow
    columns), the same size class the engine already shuffles — at
    100 TB that is executor-local disk-backed storage proportional to
    value cardinality, never the raw corpus.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    v = F.col("__v").cast("double")
    if n_buckets == 1:
        out = hist.withColumn("__b", F.lit(0))
    else:
        from .util import sorted_array_rank

        qs = [i / n_buckets for i in range(1, n_buckets)]
        # 1-row aggregate — broadcasts, no driver collect.  NOT checkpointed:
        # its only consumer is the crossJoin below, and within the single
        # checkpoint-materialization job the cuts subtree and the main
        # branch share the histogram exchange via AQE reuse.
        # accuracy 1_000 (r13): boundaries are placement-only (monotone
        # bucket assignment => bit-identical results), and the 10_000-node
        # quantile summary was measurably the most expensive part of the
        # bucket pass (1.2 s -> 0.95 s at sf0.1 on the lineitem histogram)
        cuts = hist.agg(F.percentile_approx(v, qs, 1_000).alias("__cuts"))
        # bucket = #{cuts < v} via sqrt-decomposition (~2*sqrt(n_buckets)
        # HOF steps/row) — the naive per-row fold over n_buckets-1 cuts is
        # interpreted work measured at ~10 s/eval at sf0.1 with 1024 buckets
        b = sorted_array_rank(F.col("__cuts"), v, n_buckets - 1).cast("int")
        out = (
            hist.crossJoin(F.broadcast(cuts)).withColumn("__b", b).drop("__cuts")
        )
    return _ckpt(out, eager=False, label="equi_depth_buckets")


def _two_sample_running_counts(
    df: DataFrame,
    value_col: str,
    is_a: Column,
    n_buckets: int,
) -> DataFrame:
    """Shared engine of :func:`ks_two_sample` / :func:`rank_sum_auc`:
    per-distinct-value counts of two labeled samples with INCLUSIVE
    running totals in value order, computed with NO global-order window
    over the data.

    1. ONE corpus-sized shuffle builds the per-distinct-value histogram
       ``(__v, __ca, __cb)``.
    2. Values are range-bucketed on EQUI-DEPTH ``percentile_approx``
       cutpoints over the histogram (:func:`_equi_depth_buckets` — the
       1-row aggregate broadcasts, no driver collect), so heavy-tailed
       value distributions still fill all buckets.
    3. Per-bucket totals (``n_buckets`` rows) get exclusive running
       offsets via a window over the TINY bucket table; within-bucket
       running counts use a window PARTITIONED by bucket — the classic
       two-level prefix scan, every stage parallel.

    Returns ``(__v, __ca, __cb, __cuma, __cumb, n_a, n_b)``.
    """
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    from .util import spread

    v = F.col(value_col)
    # spread (r14): a small parquet input plans as a handful of scan
    # splits (sf0.1 lineitem = 3), serializing the histogram's
    # map-side partial aggregate on 3 cores however many the cluster
    # has; hash-repartitioning on the high-cardinality value first
    # distributes it AND co-locates equal values so the partial agg
    # collapses them before the groupBy exchange (measured on the
    # trimmed-mean twin of this pipeline: 3.3 → 2.2 s warm at sf0.1;
    # a no-op at scale where the scan already fans out).
    base = spread(
        df.filter(v.isNotNull()).select(
            v.alias("__v"), is_a.cast("boolean").alias("__a")
        ),
        key="__v",
    )
    hist = base.groupBy("__v").agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long").alias("__ca"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).cast("long").alias("__cb"),
    )
    # h feeds the bucket totals AND the final running-count join;
    # _equi_depth_buckets returns it checkpointed, so the histogram
    # shuffle + percentile pass + bucket assignment run exactly once
    # (r8 profiling: per-consumer re-evaluation was the dominant cost).
    h = _equi_depth_buckets(hist, n_buckets)
    btot = h.groupBy("__b").agg(
        F.sum("__ca").alias("__ba"), F.sum("__cb").alias("__bb")
    )
    w_excl = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "__b",
        F.coalesce(F.sum("__ba").over(w_excl), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__bb").over(w_excl), F.lit(0)).alias("__ob"),
    )
    tot = btot.agg(F.sum("__ba").alias("n_a"), F.sum("__bb").alias("n_b"))
    w_in = (
        Window.partitionBy("__b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        h.join(F.broadcast(boff), "__b")
        .select(
            "__v",
            "__ca",
            "__cb",
            (F.col("__oa") + F.sum("__ca").over(w_in)).alias("__cuma"),
            (F.col("__ob") + F.sum("__cb").over(w_in)).alias("__cumb"),
        )
        .crossJoin(F.broadcast(tot))
    )


def rank_sum_auc(
    df: DataFrame,
    score_col: str,
    is_positive: Column,
    n_buckets: int = 128,
) -> DataFrame:
    """Distributed ROC-AUC via the Mann–Whitney rank-sum identity —
    the standard evaluation for any scoring model (quality classifier,
    ranking feature, anomaly score) without materializing a single ROC
    point: ``AUC = P(S⁺ > S⁻) + ½·P(S⁺ = S⁻)``, i.e. the U statistic
    normalized by ``n⁺·n⁻``.  Per distinct score s, a positive there
    beats every negative strictly below (``cum⁻(s) − c⁻(s)``) and
    half-ties the negatives at s, so with inclusive running counts:

      ``2·U = Σ_s c⁺(s) · (2·cum⁻(s) − c⁻(s))``,  ``AUC = 2U / (2·n⁺·n⁻)``

    Everything is exact integer arithmetic (DECIMAL(38,0) sums — the
    pair count overflows BIGINT long before 100 TB) until ONE final
    double division — bit-reproducible on any engine or partitioning,
    no rounding.  Plan shape is :func:`_two_sample_running_counts`:
    one corpus shuffle + the two-level prefix scan, no global-order
    window over the data.  Returns ``(n_pos, n_neg, auc)``; AUC is
    NULL when either class is empty.
    """
    _d38 = "decimal(38,0)"
    cum = _two_sample_running_counts(df, score_col, is_positive, n_buckets)
    num2 = F.sum(
        (2 * F.col("__cumb") - F.col("__cb")).cast(_d38)
        * F.col("__ca").cast(_d38)
    )
    out = cum.groupBy("n_a", "n_b").agg(num2.alias("__num2"))
    den = (
        F.lit(2.0)
        * F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
    )
    return out.select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("__num2").cast("double") / den,
        ).alias("auc"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_a: Column,
    n_buckets: int = 128,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic — the exact
    distribution-drift test that complements the binned PSI
    (:func:`population_stability_index`): ``D = sup_x |F_A(x) − F_B(x)|``
    over the two empirical CDFs, evaluated at every distinct value
    (ties handled by stepping both CDFs at the atom, the textbook
    convention).  Returns ONE row ``(n_a, n_b, ks_stat, ks_scaled)``
    where ``ks_scaled = sqrt(n_a·n_b/(n_a+n_b))·D`` is the statistic
    compared against the Kolmogorov critical values (1.358 at α=0.05).

    Fully distributed — no global-order window over the data:

    1. ONE corpus-sized shuffle builds the per-distinct-value histogram
       ``(value, count_A, count_B)``.
    2. Values are range-bucketed into ``n_buckets`` splits of
       ``[min, max]`` (the 1-row min/max aggregate broadcasts; no
       driver collect).
    3. Per-bucket totals (``n_buckets`` rows) get exclusive running
       offsets via a window over the TINY bucket table; within-bucket
       running counts use a window PARTITIONED by bucket — the classic
       two-level prefix scan, every stage parallel.
    4. The CDF gap maximum folds to one row.

    ``ks_stat`` is a ratio of exact integer counts evaluated in a fixed
    IEEE-double sequence — bit-reproducible on any engine or
    partitioning, no rounding needed.
    """
    cum = _two_sample_running_counts(df, value_col, is_a, n_buckets)
    gap = F.abs(
        F.col("__cuma").cast("double") / F.col("n_a").cast("double")
        - F.col("__cumb").cast("double") / F.col("n_b").cast("double")
    )
    out = cum.groupBy("n_a", "n_b").agg(F.max(gap).alias("ks_stat"))
    return out.select(
        "n_a",
        "n_b",
        "ks_stat",
        F.round(
            F.sqrt(
                F.col("n_a").cast("double")
                * F.col("n_b").cast("double")
                / (F.col("n_a") + F.col("n_b")).cast("double")
            )
            * F.col("ks_stat"),
            6,
        ).alias("ks_scaled"),
    )


def pair_lift(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 1,
) -> DataFrame:
    """Market-basket pairwise association: for every unordered item pair
    co-occurring in ≥ ``min_pair_count`` baskets, exact counts plus
    ``support``, directional ``confidence`` (a→b) and ``lift`` — the
    co-occurrence mining primitive behind recommendations and
    bundle/affinity reports.

    Plan shape (the scale design is bounding the quadratic): baskets
    collapse to distinct ``(basket, item)`` rows first (one shuffle) and
    are staged through a lazy ``localCheckpoint`` — the frame feeds
    three consumers (both sides of the pair join and the basket count)
    and Catalyst would otherwise re-execute the distinct per consumer
    (SCALING.md scalar-reuse trap).  The pair join is equi on the
    basket key with ``item_a < item_b``, so the blow-up is quadratic
    only WITHIN a basket — bounded by distinct items per basket, never
    corpus-sized.  Item margins and the basket total are
    item-table-sized and broadcast back; every ratio divides exact
    counts (fixed IEEE order, engine-reproducible).

      ``support    = n_ab / n_baskets``
      ``confidence = n_ab / n_a``           (P(b | a), pairs ordered a<b)
      ``lift       = (n_ab · n_baskets) / (n_a · n_b)``
    """
    b = _ckpt(
        df.select(F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it"))
        .distinct(),
        eager=False,
        label="pair_lift_baskets",
    )
    n_baskets = b.agg(
        F.countDistinct("__bk").alias("n_baskets")
    )
    item_n = b.groupBy("__it").agg(F.count("*").alias("__n_item"))
    pairs = (
        b.alias("a")
        .join(
            b.alias("bb"),
            (F.col("a.__bk") == F.col("bb.__bk"))
            & (F.col("a.__it") < F.col("bb.__it")),
        )
        .groupBy(
            F.col("a.__it").alias("item_a"), F.col("bb.__it").alias("item_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    na = F.broadcast(item_n.select(F.col("__it"), F.col("__n_item").alias("n_a")))
    nb = F.broadcast(item_n.select(F.col("__it"), F.col("__n_item").alias("n_b")))
    out = (
        pairs.join(na, pairs.item_a == na.__it)
        .drop("__it")
        .join(nb, pairs.item_b == nb.__it)
        .drop("__it")
        .crossJoin(F.broadcast(n_baskets))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        "item_a",
        "item_b",
        "n_ab",
        "n_a",
        "n_b",
        (d("n_ab") / d("n_baskets")).alias("support"),
        (d("n_ab") / d("n_a")).alias("confidence"),
        (d("n_ab") * d("n_baskets") / (d("n_a") * d("n_b"))).alias("lift"),
    )


def mahalanobis_scores(
    df: DataFrame,
    cols: Sequence[str],
    out_col: str = "maha2",
    reg: float = 1e-9,
    precision: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """Squared Mahalanobis distance of every row to the corpus mean
    under the corpus covariance — the multivariate outlier score that
    catches jointly-implausible rows a per-column z-score never sees
    (a 40-unit order at a 2-unit price is wild even though both
    marginals are ordinary).

    The two-pass sufficient-statistics shape (ship statistics, not
    data):

    1. ONE aggregate collects ``n``, the ``d`` sums and the d×d cross
       sums in exact DECIMAL (the same cells as :func:`corr_matrix` —
       a single driver-sized row regardless of corpus size);
    2. the d×d sample covariance inverts DRIVER-SIDE with numpy
       (d is tiny; ``reg·I`` ridge keeps near-singular covariances
       invertible — deliberate, documented bias, never a crash);
    3. the inverse's entries become LITERALS in a map-only quadratic
       form ``(x−μ)ᵀ Σ⁻¹ (x−μ)`` — whole-stage codegen, no UDF, no
       second shuffle.

    Columns must be integer-valued (cents/counts) so the moments are
    exact; the scores are then deterministic for a fixed input
    (the driver-side inverse is the one float step — numpy's, hence
    rows-only cross-engine; pinned by pytest against numpy directly).
    Requires ``n ≥ 2``.

    ``precision`` (VERDICT r9 item 2) pins the precision matrix to the
    given k×k literals INSTEAD of estimating-and-inverting the data
    covariance: the moment aggregate then collects only ``n`` and the
    ``d`` exact sums (for the data-driven means), and the map-only
    quadratic form — byte-identical codegen to the data-driven mode —
    runs with the supplied coefficients.  With dyadic-rational entries
    (exact in binary floats) every arithmetic step is deterministic
    IEEE in any engine, which is what makes the registered
    ``mahalanobis_outliers`` form hash-verifiable against a DuckDB
    replay; the numpy inverse that PRODUCES data-driven coefficients
    stays pinned by pytest (the distributed plan is identical in both
    modes, so the pinned form verifies everything that scales).
    """
    import numpy as np

    k = len(cols)
    if precision is not None:
        # validate the literals BEFORE the corpus scan — the shape check
        # is local arithmetic and must not cost a full moment pass
        inv = np.asarray([[float(v) for v in r_] for r_ in precision])
        if inv.shape != (k, k):
            raise ValueError(
                f"precision must be {k}x{k} for {k} columns; got {inv.shape}"
            )
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(_D)).alias(f"s_{c}"))
    if precision is None:
        for i, a in enumerate(cols):
            for b in cols[i:]:
                aggs.append(
                    F.sum(F.col(a).cast(_D) * F.col(b).cast(_D)).alias(
                        f"sx_{a}_{b}"
                    )
                )
    row = df.agg(*aggs).collect()[0]  # driver-sized by construction
    n = float(row["n"])
    if n < 2:
        raise ValueError(f"mahalanobis_scores needs n >= 2 rows; got {int(n)}")
    mu = np.array([float(row[f"s_{c}"]) / n for c in cols])
    if precision is None:
        cov = np.empty((k, k))
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                key = f"sx_{a}_{b}" if j >= i else f"sx_{b}_{a}"
                cov[i, j] = (float(row[key]) - n * mu[i] * mu[j]) / (n - 1.0)
        inv = np.linalg.inv(cov + reg * np.eye(k))

    centered = [F.col(c).cast("double") - F.lit(float(m)) for c, m in zip(cols, mu)]
    quad: Column = F.lit(0.0)
    for i in range(k):
        for j in range(k):
            quad = quad + F.lit(float(inv[i, j])) * centered[i] * centered[j]
    return df.withColumn(out_col, quad)


def categorical_mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Association between two categorical columns: entropies H(X),
    H(Y), H(X,Y), mutual information MI = H(X)+H(Y)−H(X,Y) and
    normalized MI (MI / min(H(X), H(Y))) — one row, values in nats.

    The standard feature-redundancy / leakage screen in training-data
    curation: NMI ≈ 1 flags a column pair that encodes the same signal
    (drop one), NMI ≈ 0 justifies treating them as independent strata.

    Plan shape: ONE corpus-wide shuffle to the contingency cells
    ``(x, y, count)`` (map-side combined, |X|·|Y| rows), margins via
    three window sums over that tiny cell frame, one final single-row
    aggregate.  Nothing but exact counts crosses the big shuffle;
    ``ln`` appears only in the last, cell-sized step, and scores are
    rounded to 6dp (libm ULP + float summation order are
    engine/partitioning-dependent).
    """
    from pyspark.sql import Window

    cells = df.groupBy(x_col, y_col).agg(F.count("*").alias("c"))
    s = cells.select(
        F.col("c").cast("double").alias("c"),
        F.sum("c").over(Window.partitionBy(x_col)).cast("double").alias("nx"),
        F.sum("c").over(Window.partitionBy(y_col)).cast("double").alias("ny"),
        F.sum("c").over(Window.partitionBy()).cast("double").alias("n"),
    )
    p = F.col("c") / F.col("n")
    # grouping the cell sum by x recovers Σ_x (nx/n)·ln(nx/n), etc.
    hx = -F.sum(p * F.log(F.col("nx") / F.col("n")))
    hy = -F.sum(p * F.log(F.col("ny") / F.col("n")))
    hxy = -F.sum(p * F.log(p))
    mi = hx + hy - hxy
    return s.agg(
        F.lit(x_col).alias("x_col"),
        F.lit(y_col).alias("y_col"),
        F.min("n").cast("bigint").alias("n"),
        F.round(hx, 6).alias("h_x"),
        F.round(hy, 6).alias("h_y"),
        F.round(hxy, 6).alias("h_xy"),
        F.round(mi, 6).alias("mi_nats"),
        F.when(
            F.least(hx, hy) > 0, F.round(mi / F.least(hx, hy), 6)
        ).alias("nmi"),
    )


def equi_depth_histogram(df: DataFrame, value_col: str, k: int = 10) -> DataFrame:
    """Equal-frequency histogram: k buckets bounded by the exact
    (k-1) corpus percentiles — the optimizer's-eye view of a column's
    distribution (equi-depth beats fixed-width when the data is skewed:
    every bucket carries ~n/k rows by construction).

    Two corpus passes, both cheap: one aggregation for all cutpoints at
    once (``percentile`` over an array of fractions — interpolation
    matches DuckDB ``quantile_cont`` bit-for-bit, see ``clip_outliers``),
    then the single-row cutpoint array broadcasts back onto the scan and
    bucket assignment is a map-only array count; one final hash agg.
    A value equal to a cutpoint goes to the upper bucket (count of cuts
    <= value) — mirrored exactly in the SQL oracle.  At 100 TB swap
    ``percentile`` for ``approx_percentile``; the shape is unchanged.
    """
    base = df.filter(F.col(value_col).isNotNull())
    fracs = [i / k for i in range(1, k)]
    cuts = base.agg(
        F.percentile(value_col, F.array(*[F.lit(p) for p in fracs])).alias("__cuts")
    )
    bucket = F.size(
        F.filter(F.col("__cuts"), lambda c: c <= F.col(value_col))
    ).cast("long")
    return (
        base.join(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def hll_partial_sketches(
    df: DataFrame, keys: Sequence[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HyperLogLog sketches (Apache DataSketches binary state)
    — the *mergeable* distinct-count primitive.  Materialize these at a
    fine grain (e.g. per day) and any coarser rollup — per week, per
    month, all time — is a union over the tiny sketch table, never a
    rescan of the corpus: the pre-aggregation pattern that makes
    distinct-count dashboards O(partials) instead of O(100 TB).
    One shuffle at the fine-grain key; sketch size is ~2^lg_k bytes
    regardless of input cardinality.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value_col), lgConfigK=lg_k).alias("hll_sketch")
    )


def hll_union_estimate(
    partials: DataFrame, keys: Sequence[str], sketch_col: str = "hll_sketch"
) -> DataFrame:
    """Roll partial HLL sketches up to a coarser key set and estimate:
    union is register-wise max, so the estimate is invariant to the
    PARTIAL GRAIN — per-day partials unioned per type give exactly the
    per-type-partials answer, order- and partitioning-insensitive
    (pinned by pytest).  It is NOT bit-equal to a union-free
    ``hll_sketch_estimate`` over one raw sketch in dense mode: the
    union operator drops the sketch's HIP accumulator, so the two
    estimators can differ within the error band (measured r11: 1488
    union-path vs 1494 direct vs 1500 exact at sf0.1) — which is why
    the hll_mergeable_rollup audit bounds the union estimate against
    the EXACT count, not against the direct sketch.  Input is the
    partials table — dashboard-sized — so this never touches the
    corpus.
    """
    return (
        partials.groupBy(*keys)
        .agg(F.hll_union_agg(F.col(sketch_col)).alias("__u"))
        .withColumn("approx_distinct", F.hll_sketch_estimate("__u"))
        .drop("__u")
    )


def hll_overlap_estimate(
    partials: DataFrame,
    label_col: str,
    label_a: str,
    label_b: str,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Audience-overlap estimate by inclusion–exclusion over mergeable
    HLL sketches: ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` — the
    distinct-user overlap question (bought AND clicked, saw campaign X
    AND campaign Y) answered from the SAME per-label partials a
    distinct-count dashboard already maintains, never a corpus rescan
    (set sketches don't intersect directly; union is register-wise max,
    so inclusion–exclusion is the standard route).

    Input is the per-label partials table from
    :func:`hll_partial_sketches` — dashboard-sized; stage it through a
    lazy ``localCheckpoint`` if it is corpus-derived with multiple
    consumers (SCALING.md scalar-reuse trap).  Returns one row:
    ``(label_a, label_b, est_a, est_b, est_union, est_overlap)``.

    Accuracy caveat (documented, pytest-pinned): each estimate carries
    HLL's ~1.04/√2^lg_k relative error, and the subtraction amplifies
    it when the overlap is small relative to the union — use lg_k
    sized to the UNION cardinality, and treat near-zero overlaps as
    "below sketch resolution", not as exact zeros.
    """
    pa = partials.filter(F.col(label_col) == label_a)
    pb = partials.filter(F.col(label_col) == label_b)
    pu = partials.filter(F.col(label_col).isin(label_a, label_b))

    def _est(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col(sketch_col))
            ).alias(alias)
        )

    est = (
        _est(pa, "est_a")
        .crossJoin(_est(pb, "est_b"))
        .crossJoin(_est(pu, "est_union"))
    )
    return est.select(
        F.lit(label_a).alias("label_a"),
        F.lit(label_b).alias("label_b"),
        "est_a",
        "est_b",
        "est_union",
        (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
            "est_overlap"
        ),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable heavy-hitter counts)
# ---------------------------------------------------------------------------

def countmin_bucket(item: Column, row: int, width: int = 1024) -> Column:
    """Row-``row``'s CM bucket for an item: md5-derived universal hash,
    same engine-portable recipe as ``sampling.hash_bucket`` (DuckDB:
    ``('0x' || substring(md5(r || ':' || w), 1, 8))::BIGINT % width``),
    so sketches built here are verifiable — and mergeable — outside
    Spark."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(row)), F.lit(":"), item.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return h % width


def countmin_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of an item column: ``(row, bucket, cnt)`` —
    at most ``depth x width`` cells REGARDLESS of corpus size.

    The mergeable heavy-hitter primitive: each occurrence increments
    one bucket per hash row; an item's estimate is the MIN over its
    rows' buckets — always >= the true count, with the overcount
    bounded by colliding mass (eps ~ e/width of total occurrences at
    confidence 1 - e^-depth).  Build partial sketches per shard/day and
    SUM cell-wise to merge — counts are linear, so the merged sketch
    equals the sketch of the union: dashboards over 100 TB read a
    4096-cell table, never the corpus.

    Plan: one map-only explode of ``depth`` (row, bucket) keys per
    occurrence, then a count shuffle bounded by ``depth x width`` cells
    (map-side partials compress it to that bound per task).

    ``weight_col`` (r13 optimization): build the sketch from an
    ALREADY-AGGREGATED ``(item, count)`` table instead of raw
    occurrences — cells sum the weights, which equals the occurrence
    count per cell exactly (cell counts are linear).  Hash the
    vocabulary, not the corpus: the md5 bucket derivation then runs
    once per DISTINCT item instead of once per occurrence, and the
    upstream count aggregate is map-side combinable.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2; got {depth}x{width}")
    item = F.col(item_col)
    cells = F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            countmin_bucket(item, r, width).alias("bucket"),
        )
        for r in range(depth)
    ])
    agg = (
        F.count(F.lit(1)) if weight_col is None
        else F.sum(F.col("__w")).cast("long")
    )
    cols = [F.explode(cells).alias("c")]
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("__w"))
    return (
        df.select(*cols)
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(agg.alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Estimate each probe item's count from a CM sketch: min over the
    ``depth`` rows of the probe's bucket counts (absent bucket = 0).

    The sketch is cell-bounded, so every join here broadcasts; probes
    are dashboard-sized by assumption.  ``depth``/``width`` must match
    the sketch's build parameters.
    """
    item = F.col(item_col)
    out = probes
    ests = []
    for r in range(depth):
        sk_r = sketch.filter(F.col("row") == r).select(
            F.col("bucket").alias(f"__b{r}"), F.col("cnt").alias(f"__c{r}")
        )
        out = out.join(
            F.broadcast(sk_r),
            countmin_bucket(item, r, width) == F.col(f"__b{r}"),
            "left",
        )
        ests.append(F.coalesce(F.col(f"__c{r}"), F.lit(0)))
    est = F.least(*ests) if depth > 1 else ests[0]
    return out.select(
        *[F.col(c) for c in probes.columns],
        est.cast("long").alias("cm_estimate"),
    )


def countmin_inner_product(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    depth: int = 4,
    out_col: str = "est_join_size",
) -> DataFrame:
    """Equi-join CARDINALITY estimate from two CM sketches — the
    Count-Min inner-product estimator (Cormode & Muthukrishnan 2005,
    §4.2): per hash row ``Σ_bucket cnt_a·cnt_b``, then the MIN over
    rows.  Always ≥ the true join size ``Σ_k f_a(k)·f_b(k)``, with the
    overcount ≤ ``(e/width)·N_a·N_b`` at confidence ``1 − e^{−depth}``.

    This is what a cost-based optimizer (or a pipeline pre-flight
    check) wants before committing to a fact-fact shuffle at 100 TB:
    both inputs collapse to depth×width cells at scan time (mergeable —
    cells are linear, per-shard sketches sum), and the estimate itself
    is a join of two sketch-sized tables — the corpora never meet.
    Products run in DECIMAL: two 10¹²-row sides can meet in one bucket
    without overflowing a long.

    Returns one row: ``(out_col,)`` as a long.  Both sketches must
    share the build ``depth``/``width``; ``depth`` is needed here too —
    a hash row whose buckets never overlap has inner product ZERO, and
    it must still participate in the min (a sketch-only join would
    silently min over the colliding rows and overestimate a disjoint
    pair).
    """
    j = sketch_a.select(
        "row", "bucket", F.col("cnt").alias("__ca")
    ).join(
        sketch_b.select("row", "bucket", F.col("cnt").alias("__cb")),
        ["row", "bucket"],
    )
    per_row = j.groupBy("row").agg(
        F.sum(
            F.col("__ca").cast("decimal(19,0)")
            * F.col("__cb").cast("decimal(19,0)")
        ).alias("__ip")
    )
    rows = sketch_a.sparkSession.range(depth).select(F.col("id").alias("row"))
    full = rows.join(F.broadcast(per_row), "row", "left").select(
        F.coalesce("__ip", F.lit(0).cast("decimal(19,0)")).alias("__ip")
    )
    return full.agg(F.min("__ip").cast("long").alias(out_col))


# ---------------------------------------------------------------------------
# Bloom filter (mergeable membership sketch / semi-join reduction)
# ---------------------------------------------------------------------------

#: 64 single-bit masks as SIGNED 64-bit longs (bit 63 wraps to -2^63);
#: a literal lookup array keeps the bit test inside whole-stage codegen
#: (pyspark's shiftleft/shiftright only accept int literals for the
#: shift amount, so a column-valued shift needs the table instead).
_POW2_64 = [(1 << i) - ((1 << 64) if i == 63 else 0) for i in range(64)]


def _bloom_positions(key: Column, n_hashes: int, m_bits: int,
                     hash_family: str) -> list[Column]:
    """The ``n_hashes`` bit positions of a key under one of two
    families: ``"portable"`` — the md5 recipe any SQL engine can
    replay (bit-pinned cross-engine by ``bloom_fpp_audit``); ``"fast"``
    — seeded xxhash64, pure JVM long arithmetic with no per-row string
    conversion or digest (r13, guide §4.1: built-ins over expression
    churn).  Fast is for LOSSLESS-pre-filter uses where only the
    no-false-negative guarantee matters (the exact join removes false
    positives, so results are family-invariant); keep portable wherever
    the bitmap itself must match another engine bit-for-bit."""
    if hash_family == "portable":
        return [countmin_bucket(key, j, m_bits) for j in range(n_hashes)]
    if hash_family == "fast":
        # xxhash64 SKIPS null inputs (hash of the seed alone), which
        # would give a NULL key three fixed, likely-set bit positions —
        # the explicit null guard restores the md5 family's semantics
        # (NULL positions -> NULL membership -> row filtered): a NULL
        # key matches nothing, per the prefilter contract (r13 review).
        return [
            F.when(
                key.isNotNull(),
                F.pmod(F.xxhash64(F.lit(j), key), F.lit(m_bits)),
            ).cast("bigint")
            for j in range(n_hashes)
        ]
    raise ValueError(f"hash_family must be 'portable' or 'fast'; got {hash_family!r}")


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 8192, n_hashes: int = 3,
    hash_family: str = "portable",
) -> DataFrame:
    """Distributed Bloom-filter build over a key column: sparse
    ``(word_idx, word)`` rows — at most ``m_bits/64`` of them
    REGARDLESS of input size.

    The membership sketch that turns a join into a map-only pre-filter:
    each key sets ``n_hashes`` bits (md5-derived universal hashes, the
    same engine-portable recipe as :func:`countmin_bucket`, so any SQL
    engine can rebuild the identical filter).  Bits OR monotonically,
    so per-shard filters merge with a bitwise OR — the sketch of a
    union equals the union of sketches, same linearity story as the
    CM sketch.  False positives at rate ~(1 - e^{-kn/m})^k; false
    negatives NEVER (pinned cross-engine by the ``bloom_fpp_audit``
    oracle query).

    Plan: one map-only explode of ``n_hashes`` bit positions per key,
    then a ``bit_or`` shuffle bounded by ``m_bits/64`` words (map-side
    partials compress each task's output to that bound first).
    """
    if m_bits % 64 or m_bits < 64:
        raise ValueError(f"m_bits must be a positive multiple of 64; got {m_bits}")
    if n_hashes < 1:
        raise ValueError(f"need n_hashes >= 1; got {n_hashes}")
    key = F.col(key_col)
    pow2 = F.array(*[F.lit(v).cast("long") for v in _POW2_64])
    positions = F.array(*_bloom_positions(key, n_hashes, m_bits, hash_family))
    return (
        df.filter(key.isNotNull())
        .select(F.explode(positions).alias("__pos"))
        .groupBy(F.floor(F.col("__pos") / 64).cast("int").alias("word_idx"))
        .agg(
            F.bit_or(
                F.element_at(pow2, (F.col("__pos") % 64).cast("int") + 1)
            ).alias("word")
        )
    )


def bloom_bitmap(words: DataFrame, m_bits: int) -> DataFrame:
    """Densify a sparse :func:`bloom_build` word table into ONE row
    holding the full ``array<long>`` bitmap (``m_bits/64`` words,
    absent words zero-filled) — the broadcastable form a fact scan
    consumes.  Stays distributed end to end: the sparse words
    collapse into a map in a single-row aggregate (bounded by
    ``m_bits/64`` entries by construction), never through the driver.
    """
    n_words = m_bits // 64
    return words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "word"))
        ).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at("__m", i), F.lit(0)).cast("long"),
        ).alias("bloom_bitmap")
    )


def bloom_might_contain(
    item: Column, bitmap: Column, m_bits: int, n_hashes: int = 3,
    hash_family: str = "portable",
) -> Column:
    """Membership test against a :func:`bloom_bitmap` column: true iff
    every one of the item's ``n_hashes`` bits is set.  Pure JVM
    bit-arithmetic over the (broadcast) bitmap array — no UDF, stays
    inside whole-stage codegen; ``m_bits``/``n_hashes``/``hash_family``
    must match the build parameters.
    """
    pow2 = F.array(*[F.lit(v).cast("long") for v in _POW2_64])
    cond = None
    for pos in _bloom_positions(item, n_hashes, m_bits, hash_family):
        word = F.element_at(bitmap, F.floor(pos / 64).cast("int") + 1)
        mask = F.element_at(pow2, (pos % 64).cast("int") + 1)
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else (cond & hit)
    return cond


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — ONE row ``(n, n_a, n_b, dof, chi2_6, cramers_v6)``.

    The hypothesis-testing complement to
    :func:`categorical_mutual_information` (MI measures *how much*
    dependence; chi² asks whether the observed contingency could be
    chance).  Cramér's V normalizes chi² to [0, 1] so effect size is
    comparable across table shapes.

    Scale shape: ONE map-side-combinable count shuffle builds the
    contingency table; margins and expectations are windows over that
    CELL frame (≤ |A|·|B| rows — category cardinality, never the
    corpus).  Cross-engine exactness: cell counts and margins are exact
    longs; each cell's (o−e)²/e term is one fixed IEEE expression
    rounded to 6dp, and the total sums the ROUNDED terms in
    DECIMAL(28,6) — partial order can't change it (the Benford-audit
    determinism pattern).
    """
    from pyspark.sql import Window as Wn

    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    w_a = Wn.partitionBy("__a")
    w_b = Wn.partitionBy("__b")
    w_all = Wn.partitionBy()
    m = cells.select(
        "__o",
        F.sum("__o").over(w_a).alias("__ra"),
        F.sum("__o").over(w_b).alias("__cb"),
        F.sum("__o").over(w_all).alias("__n"),
        F.size(F.collect_set("__a").over(w_all)).alias("__ka"),
        F.size(F.collect_set("__b").over(w_all)).alias("__kb"),
    )
    e = (
        F.col("__ra").cast("double")
        * F.col("__cb").cast("double")
        / F.col("__n").cast("double")
    )
    o = F.col("__o").cast("double")
    term = F.round((o - e) * (o - e) / e, 6)
    agg = m.agg(
        F.max("__n").alias("n"),
        F.max("__ka").cast("long").alias("n_a"),
        F.max("__kb").cast("long").alias("n_b"),
        F.sum(term.cast("decimal(28,6)")).alias("__chi2"),
    )
    chi2 = F.col("__chi2").cast("double")
    kmin = F.least(F.col("n_a") - 1, F.col("n_b") - 1)
    return agg.select(
        "n",
        "n_a",
        "n_b",
        ((F.col("n_a") - 1) * (F.col("n_b") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2_6"),
        F.when(
            (F.col("n") > 0) & (kmin > 0),
            F.round(
                F.sqrt(chi2 / (F.col("n").cast("double") * kmin.cast("double"))),
                6,
            ),
        ).alias("cramers_v6"),
    )


def autocorrelation(
    series: DataFrame,
    idx_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function r₁..r_max_lag of an
    integer-indexed series — ``(lag, n_pairs, acf6)`` per lag.

    r_k = Σₜ(xₜ−x̄)(xₜ₊ₖ−x̄) / Σₜ(xₜ−x̄)² with the FULL-series mean and
    variance (the standard ACF normalization, so r_k is comparable
    across lags and |r_k| ≤ 1).  ``idx_col`` must be an integer time
    index (e.g. epoch day); a lag is an index difference, so gaps in
    the series simply contribute no pair.

    Designed for an ALREADY-AGGREGATED series (daily revenue, hourly
    counts): the frame is dim-bounded — days, not the corpus — so the
    lag self-join (series × max_lag rows against itself) is tiny;
    there is deliberately no corpus-sized path here.  Cross-engine
    exactness: values go through DECIMAL(18,2); all pair/global sums
    (Σxₜxₜ₊ₖ, head/tail sums, Σx, Σx²) are exact decimals; the mean
    only enters one fixed IEEE expression per lag via the expansion
    Σ(xₜ−m)(xₜ₊ₖ−m) = Σxₜxₜ₊ₖ − m·(Σhead+Σtail) + cnt·m², rounded 6dp
    once.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1; got {max_lag}")
    base = series.select(
        F.col(idx_col).cast("long").alias("__i"),
        F.col(value_col).cast("decimal(18,2)").alias("__x"),
    ).filter(F.col("__x").isNotNull())
    glob = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__ss"),
    )
    lagged = base.select(
        "__i",
        "__x",
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
    )
    tail = base.select(F.col("__i").alias("__j"), F.col("__x").alias("__y"))
    pairs = lagged.join(tail, lagged.__i + lagged.lag == tail.__j)
    per_lag = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum("__x").alias("__sh"),
        F.sum("__y").alias("__st"),
    )
    j = per_lag.crossJoin(F.broadcast(glob))
    m = F.col("__s").cast("double") / F.col("__n").cast("double")
    num = (
        F.col("__sxy").cast("double")
        - m * (F.col("__sh").cast("double") + F.col("__st").cast("double"))
        + F.col("n_pairs").cast("double") * m * m
    )
    den = (
        F.col("__ss").cast("double")
        - F.col("__n").cast("double") * m * m
    )
    return j.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.when((F.col("n_pairs") > 0) & (den != 0), F.round(num / den, 6))
        .alias("acf6"),
    ).orderBy("lag")


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim_frac: float = 0.1,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact per-group trimmed mean — drop the lowest and highest
    ``floor(trim_frac·n)`` values, average the rest — WITHOUT any
    per-group global sort.

    The robust-location upgrade to plain AVG for heavy-tailed measures
    (a clip-free complement to winsorized ``clip_outliers``).  Returns
    ``(group, n, k_trim, trimmed_mean6)``.

    The per-group order statistics come from count algebra over the
    (group, value) histogram — the ``distributed_percent_rank``
    insight, extended with the two-level range-bucket prefix scan so
    even the within-group running counts never single-task (a
    ``partitionBy(group)`` window is one task per group; with 3 return
    flags that caps parallelism at 3 regardless of cluster size):
    value weight = clamp(min(cum, n−k) − max(cum−cnt, k), ≥0), i.e.
    how many of a value's occurrences fall inside the kept rank band
    (k, n−k] — ties handled exactly, any tie order gives the same sum.
    The weighted sum is exact DECIMAL; one division at the end.
    """
    if not 0.0 <= trim_frac < 0.5:
        raise ValueError(f"trim_frac must be in [0, 0.5); got {trim_frac}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1; got {n_buckets}")
    from pyspark.sql import Window as Wn

    from .util import spread

    # spread (r14): same small-input fix as _two_sample_running_counts —
    # the histogram's map-side partial aggregate otherwise runs on the
    # scan's few splits (3 at sf0.1); measured 3.3 → 2.2 s warm here.
    base = spread(
        df.filter(F.col(value_col).isNotNull()).select(
            F.col(group_col).alias("__g"),
            F.col(value_col).cast("decimal(18,2)").alias("__v"),
        ),
        key="__v",
    )
    hist = base.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__cnt"))
    h = _equi_depth_buckets(hist, n_buckets)
    btot = h.groupBy("__g", "__b").agg(F.sum("__cnt").alias("__bc"))
    w_excl = (
        Wn.partitionBy("__g").orderBy("__b").rowsBetween(Wn.unboundedPreceding, -1)
    )
    boff = btot.select(
        "__g",
        "__b",
        F.coalesce(F.sum("__bc").over(w_excl), F.lit(0)).alias("__off"),
    )
    gtot = btot.groupBy("__g").agg(F.sum("__bc").alias("__n"))
    w_in = (
        Wn.partitionBy("__g", "__b")
        .orderBy("__v")
        .rowsBetween(Wn.unboundedPreceding, 0)
    )
    cum = (
        h.join(F.broadcast(boff), ["__g", "__b"])
        .join(F.broadcast(gtot), "__g")
        .select(
            "__g",
            "__v",
            "__cnt",
            "__n",
            (F.col("__off") + F.sum("__cnt").over(w_in)).alias("__cum"),
        )
    )
    k = F.floor(F.lit(float(trim_frac)) * F.col("__n")).cast("long")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - k)
        - F.greatest(F.col("__cum") - F.col("__cnt"), k),
    )
    out = cum.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__n").alias("n"),
        F.max(k).alias("k_trim"),
        F.sum(kept.cast("decimal(18,0)") * F.col("__v")).alias("__sv"),
        F.sum(kept).alias("__nk"),
    )
    return out.select(
        group_col,
        "n",
        "k_trim",
        F.when(
            F.col("__nk") > 0,
            F.round(
                F.col("__sv").cast("double") / F.col("__nk").cast("double"), 6
            ),
        ).alias("trimmed_mean6"),
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch per group (Bar-Yossef et
    al. 2002) — ``(group, n_kept, kmv_estimate6)``.

    The order-statistics dual of HLL (:func:`hll_partial_sketches`):
    hash every key to a uniform (0,1); if the k-th smallest hash is
    h₍ₖ₎, then ~k/h₍ₖ₎ keys span (0,1), giving the unbiased estimator
    D̂ = (k−1)/h₍ₖ₎.  Unlike HLL it supports set *intersection* via
    sketch unions and is exact below k (n_kept < k ⇒ D̂ = n_kept).

    Hash: the engine-portable md5-prefix uniform shared by every
    sampler (auditable in ANSI SQL).  Plan: dedup shuffle on
    (group, key), then ``row_number ≤ k`` — Spark rewrites it to
    WindowGroupLimit, so each partition pre-prunes to its local k
    before the per-group merge; the sketch rows that survive are
    k·|groups|, never the corpus.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2; got {k}")
    from pyspark.sql import Window as Wn

    u = (
        F.conv(
            F.substring(F.md5(F.col("__k").cast("string")), 1, 8), 16, 10
        ).cast("bigint").cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    pts = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(group_col).alias("__g"), F.col(key_col).alias("__k"))
        .distinct()
        .withColumn("__u", u)
    )
    w = Wn.partitionBy("__g").orderBy("__u", "__k")
    kept = pts.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return kept.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(
            F.when(
                F.count(F.lit(1)) == k,
                F.lit(float(k - 1)) / F.max("__u"),
            ).otherwise(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("kmv_estimate6"),
    )


#: Abramowitz & Stegun 7.1.26 erf coefficients — FIXED literals shared
#: with SQL oracles so Φ(z) is bit-identical cross-engine (max abs
#: error 1.5e-7, far inside the 6dp rounding of reported p-values).
_AS_ERF = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_AS_P = 0.3275911


def normal_cdf(z: Column) -> Column:
    """Φ(z) via the A&S 7.1.26 erf polynomial — exp/abs/fma only, so
    the same literal formula evaluates bit-identically in any SQL
    engine (no erf built-in needed)."""
    x = F.abs(z) / F.lit(2.0**0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        F.lit(_AS_ERF[0]) * t
        + F.lit(_AS_ERF[1]) * t * t
        + F.lit(_AS_ERF[2]) * t * t * t
        + F.lit(_AS_ERF[3]) * t * t * t * t
        + F.lit(_AS_ERF[4]) * t * t * t * t * t
    )
    erf = F.lit(1.0) - poly * F.exp(-x * x)
    phi = F.lit(0.5) * (F.lit(1.0) + erf)
    return F.when(z >= 0, phi).otherwise(F.lit(1.0) - phi)


def benjamini_hochberg(
    tests: DataFrame,
    key_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a hypothesis table —
    adds ``(rank, p_bh6, reject)`` to every test row.

    THE multiple-testing control for metric batteries (testing 500
    segments at α=0.05 "discovers" ~25 false positives; BH bounds the
    expected false-discovery *rate* at α).  p_bh is the standard
    step-up adjusted p-value: p₍ᵢ₎·m/i, then a running minimum from
    the largest rank down (so adjusted values are monotone).

    The frame is ONE ROW PER HYPOTHESIS — segments, not the corpus —
    so the two unpartitioned windows (rank, reverse running min) are
    dim-bounded by construction; compute the p-values themselves with
    the distributed moment machinery first.  ``key_col`` breaks p
    ties so ranks are total and cross-engine deterministic.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1); got {alpha}")
    from pyspark.sql import Window as Wn

    w_rank = Wn.orderBy(F.col(p_col), F.col(key_col))
    w_rev = Wn.orderBy(F.desc(p_col), F.desc(key_col)).rowsBetween(
        Wn.unboundedPreceding, 0
    )
    w_all = Wn.partitionBy()
    ranked = tests.select(
        "*",
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
    )
    adj = F.least(
        F.lit(1.0),
        F.min(
            F.col(p_col) * F.col("__m").cast("double")
            / F.col("rank").cast("double")
        ).over(w_rev),
    )
    return ranked.select(
        *tests.columns,
        "rank",
        F.round(adj, 6).alias("p_bh6"),
    ).withColumn("reject", F.col("p_bh6") <= alpha)
