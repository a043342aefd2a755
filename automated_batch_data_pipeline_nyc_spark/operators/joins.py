"""Join surface (SURVEY.md §2.6).

The reference never executes a join — its zone-lookup dimension is
co-loaded but the enrichment is latent.  The engine makes the full
surface first-class, with the physical strategy chosen for scale:

- ``broadcast_enrich``: the 265-row zone-lookup case.  Broadcasting the
  dim eliminates the fact-side shuffle entirely — at 100 TB this is the
  difference between a map-only stage and a full exchange of the fact
  table.
- ``equi_join``: sort-merge by default for two large inputs; AQE
  converts to broadcast at runtime if one side turns out small, and
  splits skewed partitions.
- semi/anti joins feed the quality gates ("rows lacking a zone").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import epoch_micros

__all__ = [
    "equi_join",
    "broadcast_enrich",
    "semi_join",
    "anti_join",
    "range_join",
    "asof_join",
    "interval_overlap_join",
    "null_safe_join",
    "edit_distance_pairs",
    "bloom_prefilter",
]


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    return left.join(right, on=on, how=how)


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "left",
) -> DataFrame:
    """Small-dimension enrichment with an explicit broadcast hint —
    the taxi-zone join the reference implies (README.md:3)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """EXISTS — rows of *left* with a match."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    """NOT EXISTS — quality-gate shape: facts lacking a dimension row."""
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """AS-OF join: for every left row, the nearest right row within the
    same ``by`` key — ``direction='backward'`` (default) takes the
    greatest ``right_ts <= left_ts`` (last state as of the event: price
    lookups, slowly-changing attributes), ``'forward'`` the smallest
    ``right_ts >= left_ts`` (next event after: click -> next purchase
    attribution, time-to-response), ``'nearest'`` whichever of the two
    is closer in time (sensor alignment, quote-to-trade matching; a
    distance tie between the backward and forward candidate resolves
    BACKWARD, and an equal-timestamp right row is a distance-0
    backward match).  Boundary ties match in both directions; NULL
    values when no qualifying right row exists.  ``'nearest'`` adds an
    ``asof_matched_side`` column ('b'/'f', NULL when no match) and
    requires a timestamp/date/numeric ``ts`` (distances compare on an
    epoch-micros key), still in the same ONE shuffle: both carries run
    over the same (ts, side) sort, so Spark plans a single Window node
    pair on one Exchange.

    Spark has no native ASOF, and the naive theta join
    (``l.ts >= r.ts`` then windowed max) explodes quadratically per
    key.  This is the scalable *union trick*: tag both sides, union,
    and carry the nearest non-null right value across with
    ``last(ignorenulls)`` over an unbounded-preceding frame (backward)
    or ``first(ignorenulls)`` over an unbounded-following frame
    (forward) — ONE shuffle on the key, linear in rows, same
    partitioning as any window.  The side tag orders left AFTER right
    at equal timestamps (backward) or BEFORE it (forward) so boundary
    ties land inside the frame.  The right side must be unique per
    (by, right_ts) — pre-aggregate it if not, or the carried value is
    partition-order-dependent.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be 'backward', 'forward' or 'nearest', got {direction!r}"
        )
    from pyspark.sql import Window

    if direction == "nearest":
        return _asof_nearest(left, right, by, left_ts, right_ts, value_cols)

    backward = direction == "backward"
    lcols = left.columns
    tagged_l = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        # backward: left sorts AFTER right at equal ts (tie inside the
        # preceding frame); forward: BEFORE it (tie inside following)
        F.lit(1 if backward else 0).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    tagged_r = right.select(
        *[F.col(c) for c in by],  # key columns survive on right rows
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in by
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0 if backward else 1).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = tagged_l.select(sorted(tagged_l.columns)).unionByName(
        tagged_r.select(sorted(tagged_r.columns))
    )
    base = Window.partitionBy(*by).orderBy(F.asc("__ts"), F.asc("__side"))
    if backward:
        w = base.rowsBetween(Window.unboundedPreceding, 0)
        carry = lambda c: F.last(f"__r_{c}", ignorenulls=True).over(w)  # noqa: E731
    else:
        w = base.rowsBetween(0, Window.unboundedFollowing)
        carry = lambda c: F.first(f"__r_{c}", ignorenulls=True).over(w)  # noqa: E731
    carried = unioned.select(
        "*",
        *[carry(c).alias(f"__m_{c}") for c in value_cols],
    )
    out = carried.filter(F.col("__side") == (1 if backward else 0)).select(
        *[F.col(c) for c in lcols],
        *[F.col(f"__m_{c}").alias(f"asof_{c}") for c in value_cols],
    )
    return out


def _epoch_key(col: Column, dtype) -> Column:
    """Orderable epoch-micros key for as-of distance comparison.

    NTZ goes through wall-clock ``timestampdiff`` arithmetic, not an
    LTZ cast — the session-timezone-proof recipe of
    ``operators/util.epoch_micros`` (unix_micros only accepts LTZ).
    """
    from pyspark.sql import types as T

    if isinstance(dtype, T.TimestampNTZType):
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), col
        )
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dtype, T.DateType):
        return F.datediff(col, F.lit("1970-01-01")).cast("long") * F.lit(86_400_000_000)
    return col.cast("long")


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """nearest-direction body of :func:`asof_join` (see its docstring).

    One (ts, side) sort with right BEFORE left at equal timestamps:
    the backward carry (last preceding right row) then sees equal-ts
    rights at distance 0, and since a distance tie resolves backward,
    the forward carry can be strictly-after without losing any match.
    Both carries share the sort, so the plan is one Exchange + one
    Sort feeding two Window frames — same single-shuffle contract as
    the directional forms.
    """
    from pyspark.sql import Window

    lcols = left.columns
    tagged_l = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left AFTER right at equal ts
        F.lit(None).cast("long").alias("__rkey"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in value_cols
        ],
    )
    tagged_r = right.select(
        *[F.col(c) for c in by],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in by
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        _epoch_key(F.col(right_ts), right.schema[right_ts].dataType).alias("__rkey"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = tagged_l.select(sorted(tagged_l.columns)).unionByName(
        tagged_r.select(sorted(tagged_r.columns))
    )
    base = Window.partitionBy(*by).orderBy(F.asc("__ts"), F.asc("__side"))
    wb = base.rowsBetween(Window.unboundedPreceding, 0)
    wf = base.rowsBetween(0, Window.unboundedFollowing)
    carried = unioned.select(
        "*",
        F.last("__rkey", ignorenulls=True).over(wb).alias("__bkey"),
        F.first("__rkey", ignorenulls=True).over(wf).alias("__fkey"),
        *[F.last(f"__r_{c}", ignorenulls=True).over(wb).alias(f"__b_{c}") for c in value_cols],
        *[F.first(f"__r_{c}", ignorenulls=True).over(wf).alias(f"__f_{c}") for c in value_cols],
    )
    lkey = _epoch_key(F.col("__ts"), left.schema[left_ts].dataType)
    # backward wins a distance tie; a missing side loses outright
    use_b = F.col("__bkey").isNotNull() & (
        F.col("__fkey").isNull()
        | ((lkey - F.col("__bkey")) <= (F.col("__fkey") - lkey))
    )
    side = F.when(use_b, F.lit("b")).when(
        F.col("__fkey").isNotNull(), F.lit("f")
    )
    return carried.filter(F.col("__side") == 1).select(
        *[F.col(c) for c in lcols],
        *[
            F.when(use_b, F.col(f"__b_{c}"))
            .otherwise(F.col(f"__f_{c}"))
            .alias(f"asof_{c}")
            for c in value_cols
        ],
        side.alias("asof_matched_side"),
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
) -> DataFrame:
    """Theta/interval join (time-bucket-style matching).  Non-equi
    conditions execute as BNLJ; keep the bucket side broadcast-small so
    the big side never shuffles (SURVEY.md §2.6)."""
    return left.join(F.broadcast(right), on=condition)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_seconds: int = 3600,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Interval-overlap join for TWO LARGE sides — the operator Spark
    lacks (a raw non-equi condition plans as a broadcast nested loop,
    which requires one side to fit in memory).

    Both sides explode their [start, end] interval into the fixed-width
    time buckets it touches, the join becomes an **equi-join on
    (keys…, bucket)** — shuffle-partitionable, AQE-skew-splittable —
    and the exact inclusive overlap predicate
    ``l.start <= r.end AND r.start <= l.end`` re-filters within the
    bucket.  A pair whose intervals share several buckets would emit
    duplicates, so each pair is emitted ONLY in the latest of the two
    start buckets (``greatest(l_bucket0, r_bucket0)``) — always a
    common bucket when intervals overlap — which removes the need for
    a distinct-shuffle afterwards.

    All bucket and predicate arithmetic runs on integer epoch-
    microseconds (exact, matching DuckDB's ``epoch_us``, and valid for
    both TIMESTAMP and TIMESTAMP_NTZ range columns in any session
    timezone).  Pick ``bucket_seconds`` at or above the
    typical interval length: the blow-up factor is
    ``1 + interval/bucket`` per row, and per-bucket population bounds
    the join's worst partition.
    """
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(f"interval_overlap_join: ambiguous columns {sorted(overlap)}")
    w = int(bucket_seconds) * 1_000_000

    def _staged(df: DataFrame, rng: tuple[str, str], s: str, e: str) -> DataFrame:
        staged = df.withColumn(s, epoch_micros(df, rng[0])).withColumn(
            e, epoch_micros(df, rng[1])
        )
        return staged.withColumn(
            "__bucket",
            F.explode(F.sequence(F.expr(f"{s} div {w}"), F.expr(f"{e} div {w}"))),
        )

    L = _staged(left, left_range, "__ls", "__le")
    R = _staged(right, right_range, "__rs", "__re")
    j = L.join(R, on=[*keys, "__bucket"])
    j = j.filter((F.col("__ls") <= F.col("__re")) & (F.col("__rs") <= F.col("__le")))
    j = j.filter(
        F.col("__bucket") == F.greatest(F.expr(f"__ls div {w}"), F.expr(f"__rs div {w}"))
    )
    return j.drop("__ls", "__le", "__rs", "__re", "__bucket")


def null_safe_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join under null-safe equality (SQL ``IS NOT DISTINCT FROM``,
    Spark ``<=>``): NULL keys match NULL keys instead of silently
    dropping, so an enrichment against a keyed aggregate keeps its
    NULL-key group — the "unattributed" bucket every funnel/attribution
    report needs.

    Still a hash-partitionable equi-join (``<=>`` is a deterministic
    equality, so it shuffles on the key like ``=``).  Caveat at scale:
    null-safe equality makes NULL a *join key value* — if both sides
    hold many NULL rows the NULL partition is a hot key doing an m×n
    blow-up, exactly like any skewed key (AQE skew-split or pre-salt
    applies).  The aggregate-enrichment shape used here keeps one side
    at a single NULL row, so the blow-up never materializes.
    """
    cond = None
    for k in on:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    out = left.join(right, on=cond, how=how)
    # Mirror `on=names` key handling: one output key column per name.
    # For outer joins the kept key must be coalesce(left, right) — a
    # right-only row has NULL on the left side, and dropping the right
    # key would lose its key value.  Caveat: under null-safe equality a
    # genuine NULL key that matched NULL is indistinguishable from
    # "unmatched" in the coalesced column; callers needing that
    # distinction should join without dropping and inspect both sides.
    outer = how.replace("_", "").lower() in {
        "full", "fullouter", "outer", "right", "rightouter"
    }
    for k in on:
        if outer:
            out = out.withColumn(f"__nsj_{k}", F.coalesce(left[k], right[k]))
            out = out.drop(left[k]).drop(right[k])
            out = out.withColumnRenamed(f"__nsj_{k}", k)
        else:
            out = out.drop(right[k])
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 5,
    prefix_len: int = 4,
    compare_len: int = 32,
) -> DataFrame:
    """Edit-distance near-duplicate pairs over short strings (titles,
    headings, product names): pairs whose first-``compare_len``
    characters are within ``max_distance`` Levenshtein edits.

    Blocking: candidates must share their lowercased
    first-``prefix_len`` characters, so the self-join is an equi-join
    on the prefix block — shuffle-partitionable, worst partition
    bounded by the hottest block, never a corpus cartesian.  Like any
    blocked near-dup pass (LSH bands, SimHash chunks) this trades
    recall for scale: pairs that diverge inside the first
    ``prefix_len`` characters are not candidates (a lossless
    alternative is the PPJoin prefix filter in ``operators/dedup``).
    Levenshtein runs JVM-side only on in-block candidates; each pair
    emits once (``id_a < id_b``).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.substring(F.col(text_col), 1, compare_len)).alias("s"),
    ).withColumn("block", F.substring("s", 1, prefix_len))
    a = base.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"), "block"
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "block"
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("edit_dist") <= max_distance)
        .select("id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))
    )


def bloom_prefilter(
    fact: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    m_bits: int = 8192,
    n_hashes: int = 3,
    hash_family: str = "fast",
) -> DataFrame:
    """Bloom semi-join reduction: prune *fact* rows whose key cannot
    exist in *dim_keys* BEFORE any shuffle — the runtime-filter
    pattern (Spark's own InjectRuntimeFilter, Delta/Iceberg bloom
    skipping) as an explicit, engine-portable operator.

    The dim side collapses to an ``m_bits``-bit filter (one pass,
    ``bit_or`` shuffle bounded by ``m_bits/64`` words —
    :func:`~..operators.stats.bloom_build`), the single-row bitmap
    broadcast-joins onto the fact scan, and the membership test is
    pure JVM bit arithmetic inside whole-stage codegen.  At 100 TB
    this is the difference between shuffling the whole fact table
    into a join and shuffling only the ~matching fraction: false
    positives still shuffle (rate ~(1-e^{-kn/m})^k, size ``m_bits``
    accordingly), false negatives never happen — so a downstream
    exact join over the prefiltered fact is IDENTICAL to one over
    the raw fact (hash-verified by ``bloom_prefilter_join``).

    The filter never sees fact data, so unlike a broadcast semi-join
    the dim side may be arbitrarily large: the sketch stays
    ``m_bits`` bits no matter how many keys feed it.

    The bitmap is materialized on the driver (bounded at ``m_bits/64``
    longs BY CONSTRUCTION, like Spark's own InjectRuntimeFilter, which
    aggregates its bloom to the driver before injecting it into the
    scan) and inlined as a LITERAL predicate.  This placement is the
    point: a bitmap attached via a broadcast join becomes a join
    condition Catalyst keeps ABOVE the downstream equi-join — the fact
    table would shuffle first and be pruned after (measured: the
    SortMergeJoin lands under the bloom's BroadcastNestedLoopJoin) —
    whereas a literal predicate sits directly on the scan, below every
    exchange.  Plan-size cost is ``n_hashes * m_bits/64`` literals;
    size ``m_bits`` for pruning power, not perfection — leftovers are
    false positives the exact join removes anyway.

    ``hash_family`` defaults to ``"fast"`` (seeded xxhash64 — r13:
    the md5 family's per-row string-cast + digest + conv chain was the
    dominant scan cost at both ends of ``bloom_prefilter_join``, and
    Catalyst additionally mirrors the predicate onto the dim side via
    constraint propagation, tripling the md5 count).  The downstream
    exact join makes results family-invariant; pass ``"portable"``
    when the bitmap itself must be replayable in another engine.

    .. note:: **Behavior change in r13** (flagged by ADVICE r13): the
       default flipped from ``"portable"`` (md5) to ``"fast"``.  The
       PREFILTERED row set differs between families — same true
       matches, different false-positive leftovers — so a caller that
       compares this function's raw output across engines or against
       pre-r13 recorded baselines must re-pin
       ``hash_family="portable"`` explicitly.  Anything that applies
       the downstream exact join (the intended use, and every suite
       caller) is unaffected; ``bloom_fpp_audit`` pins the portable
       family where the bitmap itself is the verified artifact.
    """
    from .stats import bloom_bitmap, bloom_build, bloom_might_contain

    words = bloom_build(
        dim_keys, dim_key, m_bits=m_bits, n_hashes=n_hashes,
        hash_family=hash_family,
    )
    [(dense,)] = bloom_bitmap(words, m_bits).collect()
    bitmap = F.array(*[F.lit(int(w)).cast("long") for w in dense])
    return fact.filter(
        bloom_might_contain(
            F.col(fact_key), bitmap, m_bits, n_hashes, hash_family=hash_family
        )
    )
