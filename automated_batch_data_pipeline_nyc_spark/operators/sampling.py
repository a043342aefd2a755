"""Deterministic sampling / splitting operators for training-data
pipelines.

Random sampling (``df.sample``, ``sampleBy``) is seed- and
partitioning-dependent: re-running the pipeline, or running it on a
cluster with a different split plan, selects different rows.  Training
corpora need the opposite — a row's membership in train/test/sample
must be a pure function of the row itself, so incremental reruns,
backfills, and cross-engine audits agree.  Everything here buckets on
an md5 of the row key:

  ``bucket(key) = int(md5(key)[0:8 hex]) % denominator``

which is uniform, stable across engines (hex parse is exact in both
Spark and ANSI SQL), and map-only — no shuffle, no state, scales to
any corpus size.  A 32-bit prefix keeps the value inside a BIGINT in
every dialect.

Reference has no sampling surface (its pipeline is
take-everything, dags/nyc_taxi_pipeline_dag.py); these are the
LLM-pipeline additions the task brief calls for.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.capture import checkpoint as _ckpt
from .tokenize import space_tokens

__all__ = [
    "hash_bucket",
    "hash_sample",
    "train_test_split",
    "kfold_assign",
    "mixture_sample",
    "shuffle_shards",
    "sample_n_per_group",
    "weighted_sample_per_group",
    "downsample_to_token_budget",
    "dsir_log_weights",
    "temporal_split_audit",
    "temperature_resample_rates",
    "neyman_allocation",
    "stratified_sample_neyman",
    "POISSON1_CDF",
    "poisson_cdf",
    "poisson_bootstrap_means",
    "poisson_bootstrap_ci",
]


def hash_bucket(key: Column | str, buckets: int = 10_000) -> Column:
    """Stable bucket in [0, buckets) from the md5 of ``key``.

    Map-only and engine-portable: DuckDB's
    ``('0x' || substring(md5(k),1,8))::BIGINT % buckets`` produces the
    identical integer, so sampling decisions are auditable outside
    Spark.
    """
    k = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(k.cast("string")), 1, 8), 16, 10).cast("bigint")
    return h % buckets


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, buckets: int = 10_000
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hash bucket — deterministic
    across reruns, engines, and cluster layouts (unlike ``df.sample``).
    The filter is a scan-level predicate: no shuffle at any scale.
    """
    return df.filter(hash_bucket(key_col, buckets) < int(fraction * buckets))


def train_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    buckets: int = 10_000,
    out_col: str = "split",
) -> DataFrame:
    """Label every row 'train' or 'test' by key hash.

    Because membership is a function of the key alone, a document keeps
    its split across pipeline versions and incremental loads — the
    property that prevents train/test leakage when the corpus grows.
    """
    b = hash_bucket(key_col, buckets)
    return df.withColumn(
        out_col,
        F.when(b < int(test_fraction * buckets), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def kfold_assign(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    buckets: int = 10_000,
    out_col: str = "fold",
) -> DataFrame:
    """Assign every row a stable fold id in [0, k) by key hash — the
    cross-validation / sharded-eval primitive.

    Same engine-portable md5 recipe as :func:`train_test_split`
    (bucket % k), so folds are reproducible outside Spark, keys keep
    their fold across corpus versions (no eval leakage on incremental
    loads), and the assignment is a map-only scan predicate at any
    scale.  ``buckets`` must be a multiple of ``k`` for exactly equal
    bucket shares; the default 10000 gives ±1 bucket skew otherwise.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        out_col, (hash_bucket(key_col, buckets) % k).cast("int")
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    buckets: int = 10_000,
) -> DataFrame:
    """Per-source sampling rates — the corpus-mixing primitive (e.g.
    keep 100% of books, 30% of web, 5% of logs).

    The rate lookup compiles to a CASE expression and the decision to a
    scan predicate: map-only, pushdown-friendly, no shuffle.  Sources
    not in ``fractions`` fall back to ``default_fraction``.
    """
    b = hash_bucket(key_col, buckets)
    threshold: Column = F.lit(int(default_fraction * buckets))
    for src, frac in sorted(fractions.items()):
        threshold = F.when(
            F.col(source_col) == src, F.lit(int(frac * buckets))
        ).otherwise(threshold)
    return df.filter(b < threshold)


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int = 1024,
    seed: int = 0,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering, as
    (shard, position-within-shard) — reproducible across reruns,
    engines, and cluster layouts.

    A training dataloader needs the corpus in a fixed pseudo-random
    order, but a single global ``row_number`` over the hash would put
    the whole corpus through ONE window task.  Instead the keyed hash
    is split into a shard id (modulo) and a within-shard rank
    (``row_number`` partitioned by shard, ordered by the hash with the
    key as tie-break): with ``n_shards`` at or above cluster
    parallelism, every shard sorts independently and the concatenation
    ``shard asc, pos asc`` IS the global shuffled order.  Changing
    ``seed`` re-deals the entire permutation.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{seed}"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    staged = df.withColumn("__h", h).withColumn(
        shard_col, (F.col("__h") % n_shards).cast("bigint")
    )
    w = Window.partitionBy(shard_col).orderBy(F.col("__h"), F.col(key_col))
    return staged.withColumn(pos_col, F.row_number().over(w).cast("bigint")).drop("__h")


def sample_n_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic "reservoir": exactly min(n, |group|) rows per group,
    chosen by the key's md5 order — the stratified eyeball/eval sample
    that stays identical across reruns and engines (a true reservoir
    sample is RNG- and scan-order-dependent).

    One shuffle on the group key; the per-group sort is bounded by
    group size and Spark rewrites ``row_number <= n`` into a
    WindowGroupLimit (per-partition top-n push-down), so no group is
    ever fully sorted.  Ties on the hash break by the key itself, so
    the selection is total.
    """
    from pyspark.sql import Window

    h = hash_bucket(key_col, buckets)
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    n: int,
    seed: int = 42,
) -> DataFrame:
    """Weighted sample WITHOUT replacement: min(n, |group|) rows per
    group with inclusion probability proportional to ``weight_col`` —
    the quality-weighted mixture draw of LLM-data curation ("sample 1M
    docs per domain, favoring high quality-score"), deterministic
    across reruns, engines, and cluster layouts.

    Efraimidis–Spirakis (2006): draw u ~ U(0,1) per row and take the
    top-n by ``u^(1/w)`` — exactly a weighted draw without replacement.
    Here u comes from the md5 of (seed, key) — ``(h + 0.5) / 2^32``
    with h the first 8 hex digits, so u ∈ (0,1) strictly and the whole
    draw replays anywhere md5 exists — and the rank key is the
    monotone-equivalent ``ln(u)/w`` (descending; no pow underflow for
    large weights).  Rows with NULL or non-positive weight are
    excluded, as a weight of zero means "never draw".

    Same plan shape as :func:`sample_n_per_group`: one shuffle on the
    group key, WindowGroupLimit caps every group at n before any full
    sort.  Keys collide only if two rows' ln(u)/w agree to the last
    bit; the key-column tiebreak keeps the selection total anyway.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit(str(seed)), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    es_key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(F.desc("__es"), F.col(key_col))
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es", es_key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(*df.columns, F.col("__rn").alias("draw_rank"))
    )


#: Cumulative Poisson(λ=1) probabilities for k = 0..9 (weights cap at
#: 10; P(K > 9) ≈ 1.1e-7).  FIXED literals shared by the Spark
#: when-chain and the SQL oracle's CASE so the inverse-CDF draw is
#: identical on every engine — regenerate only with
#: sum(exp(-1)/k! for k <= K).
POISSON1_CDF: tuple[float, ...] = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
    0.9999998885745216,
)


def poisson_cdf(lam: float, tail_eps: float = 1e-7) -> tuple[float, ...]:
    """Cumulative Poisson(λ) probabilities for k = 0.. until the tail
    mass drops below ``tail_eps`` (draws cap at the table length).

    Plain-float recurrence p₀ = e^{−λ}, p_k = p_{k−1}·λ/k, accumulated —
    repr() of these doubles round-trips, so a SQL oracle mirroring the
    generated literals reproduces the draw bit-for-bit on any engine.
    For λ=1 this regenerates :data:`POISSON1_CDF` exactly (pinned by
    pytest); λ=1 callers use the frozen constant so committed oracle
    SQL can never drift.
    """
    import math

    if not lam > 0:
        raise ValueError(f"lam must be > 0; got {lam}")
    if not 0 < tail_eps < 1:
        raise ValueError(f"tail_eps must be in (0, 1); got {tail_eps}")
    p = math.exp(-lam)
    cdf = [p]
    k = 0
    while 1.0 - cdf[-1] > tail_eps:
        k += 1
        p = p * lam / k
        cdf.append(cdf[-1] + p)
    return tuple(cdf)


def _poisson_weight(u: Column, cdf: tuple[float, ...]) -> Column:
    """Inverse-CDF Poisson draw from u ∈ (0,1): smallest k with
    u < CDF(k), capped at len(CDF)."""
    expr = None
    for k, t in enumerate(cdf):
        cond = u < F.lit(t)
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(len(cdf))


def poisson_bootstrap_means(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_replicas: int = 32,
    seed: int = 42,
    lam: float = 1.0,
) -> DataFrame:
    """Poisson-bootstrap replica means — THE resampling trick that makes
    the bootstrap work on data too large to index: instead of drawing n
    rows with replacement (which needs a global index and n_replicas
    full passes), give every row an independent Poisson(1) multiplicity
    per replica.  Replica sizes then vary ~n ± √n, which converges to
    the classic bootstrap as n grows — and the whole thing is ONE scan:
    explode row × replica, partial-aggregate per replica.

    Returns ``(replica, n_eff, mean6)`` — the Poisson-weighted mean of
    ``value_col`` per replica, rounded to 6dp.

    Determinism: the multiplicity is the inverse-CDF draw on
    u = (md5(seed, key, replica)[0:8 hex] + 0.5)/2^32 with FIXED
    threshold literals (:data:`POISSON1_CDF` for the default λ=1;
    :func:`poisson_cdf`-generated otherwise — mirror those literals
    into any cross-engine oracle), and the weighted sum runs in exact
    DECIMAL — so every replica mean is bit-reproducible on any engine,
    partitioning, or rerun.  ``lam`` scales the expected replica size
    to λ·n (classic bootstrap is λ=1).  Scale: the explode is map-side
    only; the shuffle carries n_partitions × n_replicas partial rows
    (never the corpus), landing on ``n_replicas`` groups.

    Values outside DECIMAL(12,2) (|x| ≥ 10^10) are EXCLUDED, exactly
    like NULLs: the filter runs on the *cast* value, so an overflow can
    never count in ``n_eff`` while contributing nothing to the sum
    (which would silently bias means low — ADVICE r5).
    """
    from .util import spread

    if n_replicas < 1:
        raise ValueError(f"n_replicas must be >= 1; got {n_replicas}")
    cdf = POISSON1_CDF if lam == 1.0 else poisson_cdf(lam)
    b = F.explode(F.sequence(F.lit(1), F.lit(n_replicas))).alias("replica")
    # spread BEFORE the replica explode (r13): a single-row-group scan
    # plans as one task, and the n_replicas × rows md5-uniform chain —
    # the dominant cost of this operator, ~4 s single-core at sf0.1 —
    # would serialize on one core.  Keyed on the row key: deterministic
    # placement, no sort-before-repartition.
    staged = (
        spread(
            df.filter(F.col(value_col).isNotNull())
            .select(
                F.col(key_col).cast("string").alias("__k"),
                # try_cast: overflow → NULL under ANSI too (plain cast
                # would throw with ansi on / silently NULL with it off)
                F.col(value_col).try_cast("decimal(12,2)").alias("__x"),
            )
            .filter(F.col("__x").isNotNull()),  # DECIMAL overflow → excluded
            key="__k",
        )
        .select("__k", "__x", b)
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.lit(str(seed)),
                    F.col("__k"),
                    F.col("replica").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    weighted = staged.withColumn("__w", _poisson_weight(u, cdf))
    return (
        weighted.groupBy("replica")
        .agg(
            F.sum("__w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("__w") * F.col("__x")).cast("double")
                / F.sum("__w").cast("double"),
                6,
            ).alias("mean6"),
        )
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_replicas: int = 32,
    alpha: float = 0.05,
    seed: int = 42,
    lam: float = 1.0,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean of
    ``value_col`` from :func:`poisson_bootstrap_means` replicas: ONE
    row ``(n_replicas, boot_mean, ci_lo, ci_hi)`` where the bounds are
    the α/2 and 1−α/2 exact percentiles of the replica means.  The
    final fold runs over ``n_replicas`` rows — driver-trivial at any
    corpus size."""
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1); got {alpha}")
    reps = poisson_bootstrap_means(
        df, key_col, value_col, n_replicas, seed, lam
    )
    return reps.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.avg("mean6"), 6).alias("boot_mean"),
        F.round(F.percentile("mean6", F.lit(alpha / 2.0)), 6).alias("ci_lo"),
        F.round(F.percentile("mean6", F.lit(1.0 - alpha / 2.0)), 6).alias("ci_hi"),
    )


def downsample_to_token_budget(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weight_col: str,
    budgets: Mapping[str, int],
    buckets: int = 10_000,
) -> DataFrame:
    """Downsample each source to ~a token (weight) budget — the
    corpus-mixing primitive stated in tokens ("200B web, 30B code")
    rather than row fractions.

    Per source, keep fraction = min(1, budget / total_weight), applied
    as a deterministic hash-bucket filter on the row key (the weight
    totals decide the *rate*; membership stays a pure function of the
    key, so reruns and incremental backfills agree).  Sources without a
    budget are kept whole.

    Plan shape: one tiny aggregate (one row per source) broadcast back
    onto the scan, then a map-only filter — the corpus itself is never
    shuffled, so this scales with the scan at any corpus size.
    """
    totals = df.groupBy(source_col).agg(
        F.sum(F.col(weight_col).cast("double")).alias("__total")
    )
    budget_expr: Column = F.lit(None).cast("double")
    for src, b in sorted(budgets.items()):
        budget_expr = F.when(F.col(source_col) == src, F.lit(float(b))).otherwise(
            budget_expr
        )
    rates = totals.select(
        source_col,
        F.when(
            budget_expr.isNull() | (F.col("__total") <= budget_expr), F.lit(buckets)
        )
        .otherwise(F.floor(budget_expr / F.col("__total") * buckets))
        .cast("bigint")
        .alias("__keep_below"),
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(hash_bucket(key_col, buckets) < F.col("__keep_below"))
        .drop("__keep_below")
    )


def dsir_log_weights(
    df: DataFrame,
    text_col: str,
    target_col: str,
    id_col: str,
    n_buckets: int = 64,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    Scores every document by how much more likely its hashed n-gram
    profile is under a small trusted TARGET corpus (``target_col``, a
    boolean column marking target members inside ``df``) than under the
    raw pool — the selection signal used to pick pre-training data that
    "looks like" Wikipedia/books without training a classifier:

      ``log_weight(d) = Σ_b c_b(d) · (log p_target(b) − log p_raw(b))``

    with c_b(d) the document's count of unigrams+bigrams hashing to
    bucket b, and both distributions Laplace-smoothed
    ``(count + α) / (total + α·m)``.

    Plan shape (the 100 TB path): tokens and bigrams stay inside one
    array expression per row; one ``explode_outer`` (empty docs keep a
    NULL-gram row, so no restore-join later) feeds a map-side-combined
    (id, bucket) count — the only corpus-sized shuffle, its width
    bounded by ``n_buckets`` per doc after combine.  That per-doc
    bucket table is staged through a lazy ``localCheckpoint``: it has
    two consumers (the bucket-distribution aggregate and the final
    per-doc scoring), and without the barrier Catalyst re-plans — and
    re-executes — the corpus explode once per consumer (measured: 4
    scans; exchange reuse does not collapse them here).  The
    ``n_buckets``-row distribution folds its totals with an unbounded
    window over itself (bounded input by construction), the log-ratios
    broadcast back, and one doc-keyed aggregate finishes.  Everything
    is JVM built-ins; the hash is the engine-portable md5 bucket
    (:func:`hash_bucket`), so the whole weighting replays exactly in
    ANSI SQL.

    Returns one row per input doc: ``(id_col, n_grams, log_weight)``
    with ``log_weight`` rounded to 6 dp (the documented float-sum
    tolerance; term order across partitions is otherwise
    nondeterministic at the 1e-15 level).  Docs with no tokens keep a
    row with ``n_grams = 0`` and ``log_weight = 0.0``.
    """
    from pyspark.sql import Window

    toks = F.filter(space_tokens(F.lower(F.col(text_col))), lambda x: x != "")
    staged = df.select(
        F.col(id_col),
        F.col(target_col).cast("boolean").alias("__tgt"),
        toks.alias("__t"),
    )
    bigrams = F.when(
        F.size("__t") >= 2,
        F.zip_with(
            F.slice("__t", 1, F.size("__t") - 1),
            F.slice("__t", 2, F.size("__t") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = staged.select(
        id_col,
        "__tgt",
        F.explode_outer(F.concat(F.col("__t"), bigrams)).alias("__g"),
    )
    # (id, bucket) counts — the one corpus-sized shuffle.  count("__g")
    # makes the empty-doc NULL-gram row carry c = 0.
    doc_bucket = _ckpt(
        grams.withColumn(
            "__b",
            F.when(
                F.col("__g").isNotNull(), hash_bucket(F.col("__g"), n_buckets)
            ),
        )
        .groupBy(id_col, "__tgt", "__b")
        .agg(F.count("__g").alias("__c")),
        eager=False,  # two consumers — see docstring
        label="dsir_doc_buckets",
    )
    dist = (
        doc_bucket.filter(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(
            F.sum("__c").alias("__raw"),
            F.sum(
                F.when(F.col("__tgt"), F.col("__c")).otherwise(F.lit(0))
            ).alias("__tgt_c"),
        )
    )
    m = float(n_buckets)
    wall = Window.partitionBy()  # n_buckets rows — bounded
    totd = dist.select(
        "__b",
        "__raw",
        "__tgt_c",
        F.sum("__raw").over(wall).alias("__raw_tot"),
        F.sum("__tgt_c").over(wall).alias("__tgt_tot"),
    )
    lr = totd.select(
        "__b",
        (
            F.log(
                (F.col("__tgt_c").cast("double") + F.lit(alpha))
                / (F.col("__tgt_tot").cast("double") + F.lit(alpha * m))
            )
            - F.log(
                (F.col("__raw").cast("double") + F.lit(alpha))
                / (F.col("__raw_tot").cast("double") + F.lit(alpha * m))
            )
        ).alias("__lr"),
    )
    return (
        doc_bucket.join(F.broadcast(lr), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_grams"),
            F.round(
                F.sum(
                    F.col("__c").cast("double") * F.coalesce("__lr", F.lit(0.0))
                ),
                6,
            ).alias("log_weight"),
        )
        .select(
            id_col,
            "n_grams",
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


def temperature_resample_rates(
    df: DataFrame,
    source_col: str,
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-based source rebalancing rates (the multilingual
    ``p_i^α`` scheme of XLM / mBERT, Conneau & Lample 2019): resampling
    a mixture toward ``q_i ∝ p_i^α`` flattens the source distribution
    (α < 1 up-weights rare sources, α = 1 keeps it, α = 0 makes it
    uniform) without ever starving a head source.

    Returns one row per source: ``(source, n_rows, p_src, q_src,
    keep_rate)`` where ``keep_rate = min(1, (q_i/p_i) · min_j(p_j/q_j))``
    — the LARGEST per-source keep fractions that realize the target
    mixture purely by downsampling (the richest source under the target
    keeps 100%; nothing is upsampled, so membership can stay a pure
    hash function of the key).

    Plan: ONE count aggregate over the corpus (output = #sources rows),
    then every total and the min-ratio scale factor come from unbounded
    window aggregates OVER THAT TINY TABLE — deriving them as separate
    ``.agg`` branches would make Catalyst re-plan (and re-scan) the
    corpus subtree once per reference.  The single-partition window is
    safe by construction: its input is one row per source, never the
    corpus.  Pair with :func:`hash_sample` per source (or feed
    ``keep_rate`` into :func:`mixture_sample`) to materialize the draw.
    """
    from pyspark.sql import Window

    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.partitionBy()  # #sources rows — bounded, see docstring
    powed = counts.select(
        F.col(source_col).alias("source"),
        "n_rows",
        F.pow(F.col("n_rows").cast("double"), F.lit(alpha)).alias("__w"),
    )
    with_p = powed.select(
        "source",
        "n_rows",
        (
            F.col("n_rows").cast("double")
            / F.sum("n_rows").over(w).cast("double")
        ).alias("p_src"),
        (F.col("__w") / F.sum("__w").over(w)).alias("q_src"),
    )
    # scale factor: the binding source keeps exactly 1.0
    with_s = with_p.select(
        "source",
        "n_rows",
        "p_src",
        "q_src",
        F.min(F.col("p_src") / F.col("q_src")).over(w).alias("__s"),
    )
    return with_s.select(
        "source",
        "n_rows",
        F.round("p_src", 6).alias("p_src"),
        F.round("q_src", 6).alias("q_src"),
        F.round(
            F.least(F.lit(1.0), F.col("q_src") / F.col("p_src") * F.col("__s")),
            6,
        ).alias("keep_rate"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Optimal stratified-sample allocation (Neyman 1934):
    ``n_h ∝ N_h·S_h`` — strata that are bigger OR more variable get
    proportionally more of the ``total_n`` sample budget, minimizing
    the variance of the stratified mean estimator at fixed cost.  The
    survey-sampling upgrade to proportional allocation for audit /
    eval-set draws over skewed corpora (a near-constant stratum needs
    almost no samples, however large).

    Returns the dim-sized allocation table ``(stratum, n_rows,
    stddev6, share6, alloc_n)``; apply it with
    :func:`stratified_sample_neyman`.

    Determinism (the cross-engine contract): per-stratum second
    moments are EXACT decimal sums (order-independent), S_h is one
    fixed IEEE expression over them; the weight ``N_h·S_h`` is rounded
    to 4dp and CAST BACK TO DECIMAL so the across-strata total is an
    exact order-independent sum (a double total would depend on
    stratum visit order); shares divide two identical decimals once.
    ``alloc_n = floor(total_n·share + 0.5)`` — allocations can sum to
    total_n ± (strata−1) from rounding; single-row / zero-spread
    strata get weight 0 (add a floor downstream if every stratum must
    be represented).  Plan: ONE map-side-combinable moment shuffle,
    then window+math over the stratum dim only.
    """
    from pyspark.sql import Window as Wn

    x = F.col(value_col).cast("decimal(18,2)")
    m = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
    )
    n = F.col("n_rows").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    sd = F.when(
        F.col("n_rows") > 1,
        F.sqrt((n * sxx - sx * sx) / (n * (n - F.lit(1.0)))),
    ).otherwise(F.lit(0.0))
    w = m.select(
        "stratum",
        "n_rows",
        sd.alias("__sd"),
        F.round(n * sd, 4).cast("decimal(28,4)").alias("__wgt"),
    )
    # strata are dim-sized: safe unpartitioned window, exact DECIMAL sum
    tot = F.sum("__wgt").over(Wn.partitionBy())
    share = F.col("__wgt").cast("double") / tot.cast("double")
    return w.select(
        "stratum",
        "n_rows",
        F.round("__sd", 6).alias("stddev6"),
        F.round(share, 6).alias("share6"),
        F.floor(F.lit(float(total_n)) * share + F.lit(0.5))
        .cast("bigint")
        .alias("alloc_n"),
    )


def stratified_sample_neyman(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    value_col: str,
    total_n: int,
    buckets: int = 10_000,
) -> DataFrame:
    """Draw the Neyman-allocated stratified sample: per-stratum keep
    rate ``alloc_n / N_h``, applied with the engine-portable md5
    bucket (so membership is deterministic across reruns, engines and
    cluster layouts, like every sampler here).  The tiny allocation
    table broadcasts onto the scan; the filter stays a map-only
    predicate.  Hash granularity makes per-stratum counts approximate
    (~alloc_n, exact only in expectation) — the standard trade for a
    keyed, rerunnable sample.
    """
    alloc = neyman_allocation(df, stratum_col, value_col, total_n)
    # __-prefixed internal name: .drop("stratum") would also drop the
    # CALLER'S column whenever stratum_col is literally named "stratum"
    # (drop-by-name takes every match — ADVICE r5)
    thresh = alloc.select(
        F.col("stratum").alias("__stratum"),
        F.floor(
            F.lit(float(buckets))
            * F.col("alloc_n").cast("double")
            / F.col("n_rows").cast("double")
            + F.lit(0.5)
        ).cast("bigint").alias("__thresh"),
    )
    b = hash_bucket(key_col, buckets)
    return (
        df.join(
            F.broadcast(thresh),
            df[stratum_col] == thresh["__stratum"],
        )
        .filter(b < F.col("__thresh"))
        .drop("__stratum", "__thresh")
    )


def temporal_split_audit(
    df: DataFrame, ts_col: str, entity_col: str, pivot: str
) -> DataFrame:
    """Time-based train/test split summary with an entity-leakage
    audit — the standard evaluation split for event/behavioral data
    (train on the past, test on the future), which the hash- and
    content-keyed splits (``train_test_split``,
    ``split_leakproof_by_content``) deliberately do NOT provide.

    Rows with ``ts_col`` strictly before ``pivot`` (an ISO wall-clock
    string, compared against the column's own timestamp type so a
    non-UTC session cannot shift the boundary) are train; the rest are
    test.  Returns ONE summary row:

    * ``n_train_rows`` / ``n_test_rows`` — split sizes;
    * ``n_train_users`` / ``n_test_users`` — distinct entities per side;
    * ``n_leaky_users`` — entities with rows on BOTH sides: legitimate
      for forecasting-style eval, fatal for user-cold-start eval (then
      subtract these users from test);
    * ``n_test_rows_seen_user`` — test rows whose entity appeared in
      train: the share of "future" the model has entity-level memory
      of.

    Plan: ONE entity-keyed count shuffle (per-entity conditional
    counts, map-side combinable), then a 1-row rollup over the
    entity-cardinality frame — the corpus is read once and never
    shuffled at row granularity.  NULL ts/entity rows are excluded
    (they belong to neither split), stated here so the oracle matches.
    """
    # Validate the pivot on the driver: a literal that Spark's cast to
    # the ts column's own type turns into NULL would make is_train NULL
    # for every row and silently return an all-zero summary instead of
    # failing loudly (same convention as the V=0 guard in
    # text.bigram_lm_scores).  Evaluating the actual cast (one 1-row
    # local job) accepts exactly what the comparison below accepts —
    # unlike a Python-side ISO parse, which both over-rejects
    # ('2024-1-1' casts fine in Spark) and under-rejects (a datetime
    # pivot against a bigint ts column still casts to NULL).
    ts_type = dict(df.dtypes)[ts_col]
    pivot_lit = F.lit(pivot).cast(ts_type)
    # try_cast: ANSI sessions THROW on a bad cast (their own loudness);
    # the probe needs the NULL so it can raise the same clear error in
    # both ANSI and legacy modes.
    probe = (
        df.sparkSession.range(1)
        .select(F.lit(pivot).try_cast(ts_type).alias("p"))
        .first()
    )
    if probe["p"] is None:
        raise ValueError(
            f"temporal_split_audit: pivot {pivot!r} casts to NULL as the "
            f"ts column's type {ts_type!r} — every row would fall on "
            "neither side of the split"
        )
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(entity_col).isNotNull()
    )
    is_train = F.col(ts_col) < pivot_lit
    per_entity = base.groupBy(entity_col).agg(
        F.count(F.when(is_train, 1)).alias("__n_tr"),
        F.count(F.when(~is_train, 1)).alias("__n_te"),
    )
    return per_entity.agg(
        F.sum("__n_tr").alias("n_train_rows"),
        F.sum("__n_te").alias("n_test_rows"),
        F.count(F.when(F.col("__n_tr") > 0, 1)).alias("n_train_users"),
        F.count(F.when(F.col("__n_te") > 0, 1)).alias("n_test_users"),
        F.count(
            F.when((F.col("__n_tr") > 0) & (F.col("__n_te") > 0), 1)
        ).alias("n_leaky_users"),
        F.sum(
            F.when(F.col("__n_tr") > 0, F.col("__n_te")).otherwise(F.lit(0))
        ).alias("n_test_rows_seen_user"),
    )
