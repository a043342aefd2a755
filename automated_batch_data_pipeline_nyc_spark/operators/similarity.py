"""Similarity search over embedding columns (``array<float>``).

North-star operator family (SURVEY.md §2.9): brute-force cosine top-k
as the exact baseline, plus two scale paths — random-hyperplane LSH
bucketing and an IVF (inverted-file) index built on Spark ML KMeans.

Scale design:
- ``cosine`` is pure array arithmetic (``zip_with`` + ``aggregate``)
  in double precision — codegen'd, map-only, deterministic (fixed
  left-to-right summation), which is what lets a DuckDB oracle verify
  the exact paths bit-for-bit.
- Brute-force query top-k is a map + TakeOrderedAndProject: no global
  sort, no shuffle of the corpus.  Fine at any scale for a single
  query; for batch knn-joins use the LSH or IVF paths so the pair
  space is bucket-local instead of O(n x m).
- IVF: KMeans centroids (a few KB) broadcast to executors; assignment
  is map-only; a probe search touches nprobe/k of the corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.capture import checkpoint as _ckpt, record_plan
from .util import spread

__all__ = [
    "dot",
    "l2_norm",
    "l2_normalize",
    "quantize_int8",
    "cosine",
    "cosine_to_query",
    "brute_force_topk",
    "cosine_self_join_pairs",
    "cosine_lsh_pairs",
    "embedding_centroids_exploded",
    "embedding_centroids_pandas",
    "hyperplane_lsh_bucket",
    "lsh_topk",
    "build_ivf_index",
    "ivf_search",
    "ivf_build_portable",
    "ivf_search_portable",
    "gram_matrix",
    "pca_project",
    "knn_join",
    "semdedup",
]


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _dot_raw(a: Column, b: Column) -> Column:
    """Dot product over arrays that are ALREADY double-typed."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-to-right double dot product."""
    return _dot_raw(_as_double(a), _as_double(b))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(df: DataFrame, vec_col: str, out_col: str = "unit_vec") -> DataFrame:
    """Unit-normalize a vector column (map-only).  After normalization,
    cosine reduces to a plain dot product — the precompute that halves
    ANN query cost at serving time.

    DataFrame-level on purpose: the norm MUST be staged as a column
    before the per-element division, or Catalyst inlines the whole
    norm aggregate into every element's expression — O(d^2) per vector
    (the expression-inlining trap, see with_simhash).
    """
    staged = df.withColumn("__l2n", l2_norm(F.col(vec_col)))
    out = staged.withColumn(
        out_col,
        F.transform(_as_double(F.col(vec_col)), lambda x: x / F.col("__l2n")),
    )
    return out.drop("__l2n")


def quantize_int8(a: Column, scale: int = 127) -> Column:
    """Symmetric int8 quantization: ``clamp(floor(x*scale + 0.5))`` per
    component — the 4x storage/bandwidth shrink (float32 -> int8) that
    makes billion-vector ANN indexes fit the page cache.

    ``floor(x+0.5)`` instead of ``round`` because round-half rules
    differ across engines while floor is IEEE-deterministic — the
    quantized codes are bit-identical anywhere.  Expects unit-normalized
    input (components in [-1, 1]); the clamp guards the general case.
    """
    return F.transform(
        _as_double(a),
        lambda x: F.least(
            F.greatest(F.floor(x * scale + F.lit(0.5)), F.lit(-float(scale))),
            F.lit(float(scale)),
        ).cast("int"),
    )


def cosine_to_query(df: DataFrame, vec_col: str, query: list[float], out_col: str = "cosine_sim") -> DataFrame:
    """Score every row against a constant query vector — map-only."""
    q = F.array(*[F.lit(float(x)) for x in query])
    return df.withColumn(out_col, cosine(F.col(vec_col), q))


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: scan + TakeOrderedAndProject.  Ties break
    on id for determinism."""
    scored = cosine_to_query(df, vec_col, query)
    return (
        scored.select(id_col, "cosine_sim")
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_self_join_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a,b), a<b, cosine >= t.

    With ``block_col`` (e.g. an LSH bucket from
    ``hyperplane_lsh_bucket``) the join is bucket-local; without it
    this is the exact O(n^2) baseline for oracle verification only —
    do not run unblocked at scale.
    """
    v = df.select(F.col(id_col), F.col(vec_col), *( [F.col(block_col)] if block_col else [] ))
    a, b = v.alias("a"), v.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    planes_per_band: int = 6,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via banded sign-random-projection LSH —
    the production-scale replacement for the unblocked
    ``cosine_self_join_pairs``.

    Candidate generation: each vector gets ``bands`` bucket ids (the
    sign bits of ``planes_per_band`` fixed hyperplanes per band); a pair
    is a candidate iff it collides in >= 1 band.  The self-join runs on
    (band, bucket) keys carrying only (id, band, bucket) — the corpus
    vectors never enter the shuffle.  Verification joins the (small)
    candidate set back to the vectors and keeps exact cosine >= t.

    Recall per band is (1 - theta/pi)^planes_per_band; more bands raise
    recall, more planes shrink buckets.  At 100 TB use
    planes_per_band=16 (65k+ buckets) and bands=8-16; the defaults here
    are sized for the sf fixtures.  All hyperplanes are deterministic
    (seeded PCG64) so an oracle can replicate the exact blocking.
    """
    planes = _hyperplanes(dim, planes_per_band * bands, seed)
    # stage the double-cast vector ONCE; the planes_per_band x bands
    # sign-bit dots then reference a column instead of re-casting the
    # array per plane (Catalyst inlines expressions per use site).
    # spread() so a single-row-group input can't serialize the bucket
    # computation on one task (no-op when the scan already splits).
    staged = spread(
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__vd")),
        key=id_col,
    )
    band_buckets = []
    for b in range(bands):
        bucket = F.lit(0).cast("bigint")
        for i in range(planes_per_band):
            p = F.array(*[F.lit(float(x)) for x in planes[b * planes_per_band + i]])
            bit = F.when(
                _dot_raw(F.col("__vd"), p) >= 0,
                F.shiftleft(F.lit(1).cast("bigint"), i),
            ).otherwise(F.lit(0).cast("bigint"))
            bucket = bucket.bitwiseOR(bit)
        band_buckets.append(bucket)
    keys = staged.select(
        F.col(id_col), F.posexplode(F.array(*band_buckets)).alias("band", "bucket")
    )
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # Verify with per-ROW staged double vectors and norms (r13): the
    # inline ``cosine(__va, __vb)`` form re-cast both arrays and re-ran
    # both norm folds once per candidate PAIR — 4 array transforms + 3
    # interpreted folds per pair, measured as the dominant cost of this
    # operator.  Staged, each doc pays one cast + one norm fold, and a
    # pair costs one zip_with dot + one multiply + one divide.  The
    # expression tree (fold of cast elements, dot/(na*nb)) consumes
    # identical doubles in the identical order, so cosine_sim is
    # bit-identical to the inline form.
    v = df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__vd")
    ).withColumn(
        "__n",
        F.sqrt(F.aggregate(F.col("__vd"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    return (
        cand.join(
            v.select(
                F.col(id_col).alias("id_a"),
                F.col("__vd").alias("__va"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col(id_col).alias("id_b"),
                F.col("__vd").alias("__vb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (_dot_raw(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (numpy PCG64, fixed
    seed) — generated driver-side once, inlined as literals (a few KB),
    effectively broadcast with the plan."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_lsh_bucket(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Sign-random-projection LSH: bucket id = sign bits against
    ``n_planes`` fixed hyperplanes.  Cosine-similar vectors collide
    with probability 1 - theta/pi per plane.  Map-only."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(F.col(vec_col), p) >= 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(F.lit(0).cast("bigint"))
        bucket = bucket.bitwiseOR(bit)
    return df.withColumn(out_col, bucket)


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only the query's LSH bucket.  The
    scan is pruned to ~n/2^planes of the corpus; recall depends on
    bucket granularity (tune n_planes; multi-probe = drop planes)."""
    dim = len(query)
    bucketed = hyperplane_lsh_bucket(df, vec_col, dim, n_planes, seed)
    planes = _hyperplanes(dim, n_planes, seed)
    qbucket = 0
    for i, plane in enumerate(planes):
        if sum(p * q for p, q in zip(plane, query)) >= 0:
            qbucket |= 1 << i
    return brute_force_topk(
        bucketed.filter(F.col("lsh_bucket") == qbucket), vec_col, query, k, id_col
    )


def embedding_centroids_exploded(
    df: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Per-label centroid as (label, dim, centroid) rows — JVM-side:
    posexplode the vector, average per (label, dim).  One shuffle keyed
    by (label, dim); partial aggregation makes the map side emit one
    partial sum per key per partition, so the exchange carries
    O(labels x dims) rows, not O(rows x dims).
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    return ex.groupBy("label", "dim").agg(F.avg("v").alias("centroid"))


def embedding_centroids_pandas(
    df: DataFrame, label_col: str, vec_col: str, n_tasks: int | None = None
) -> DataFrame:
    """Per-label centroid via Arrow-batched ``applyInPandas`` + numpy —
    the §2.9 vectorized-UDAF shape (grouped map, whole group in one
    pandas frame).  Returns (label, centroid array).  Prefer the
    exploded JVM form when the result feeds SQL; use this shape when
    the per-group computation genuinely needs numpy/scipy (PCA,
    whitening, medoids).

    ``n_tasks`` pre-repartitions by the label hash into that many
    partitions: ``HashPartitioning(label, n)`` already satisfies the
    grouped-map's clustering requirement, so Catalyst plans ONE
    exchange instead of two AND only ``n`` Python workers spin up
    (each worker is a process fork + pandas import — the dominant cost
    when groups are few; measured sf0.1: 2.3s → 0.8s with n_tasks=8).
    Leave None when label cardinality is high enough to fill the
    default shuffle width.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType(), True),
            T.StructField("centroid", T.ArrayType(T.DoubleType()), True),
        ]
    )

    # closure-pure kernel (numpy + pandas only)
    def kernel(pdf):
        import numpy as np
        import pandas as _pd

        # float32 embeddings: accumulate in float64 like the JVM path
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        return _pd.DataFrame(
            {"label": [int(pdf[label_col].iloc[0])], "centroid": [mat.mean(axis=0).tolist()]}
        )

    slim = df.select(label_col, vec_col)
    if n_tasks:
        slim = slim.repartition(n_tasks, label_col)
    return slim.groupBy(label_col).applyInPandas(kernel, schema)


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    n_lists: int = 16,
    seed: int = 42,
    assign_col: str = "ivf_list",
    fit_fraction: float | None = None,
    max_iter: int = 8,
):
    """IVF coarse quantizer: KMeans (Spark ML, fixed seed) over the
    embeddings; returns (assigned_df, centroids) where ``centroids`` is
    a small driver-side list [[...], ...] indexed by list id.

    Vectors are L2-normalized before fit AND assignment (``ivf_search``
    ranks by cosine), i.e. spherical k-means: Euclidean Voronoi cells
    on the unit sphere are exactly cosine cells, so the partition
    agrees with the search metric.
    Clustering RAW vectors under Euclidean distance while probing by
    cosine splits direction-aligned vectors of different magnitudes
    across lists — measured mean recall@10 (nprobe=4/8 lists, sf0.001
    fixture) was 0.68 raw vs >=0.9 normalized (pinned by
    tests/test_llm_ops.py::test_ivf_search_recall_vs_brute_force).

    At 100 TB: fit on a sample (KMeans cost is per-row x iters — set
    ``fit_fraction``; a seeded sample of a few million vectors places
    coarse centroids as well as the full corpus), then a single
    map-only pass assigns every vector; write the result partitioned
    by ``ivf_list`` so probes prune at the file level.  ``max_iter``
    defaults to 8: coarse quantization only needs rough Voronoi cells
    — recall comes from ``nprobe``, not centroid polish (measured
    sf0.1: full 20-iter fit 3.7s vs 0.2-sample 8-iter 1.4s, same
    search recall shape).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = _as_double(F.col(vec_col))
    # stage the norm as a column FIRST: Catalyst inlines expression
    # trees per use site, so `x / norm` inside the transform lambda
    # would re-evaluate the O(d) aggregate per ELEMENT (O(d²)/row)
    df = df.withColumn(
        "__norm", F.sqrt(F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x))
    )
    v = F.when(
        F.col("__norm") > 0,
        F.transform(v, lambda x: x / F.col("__norm")),
    ).otherwise(v)
    feat = df.withColumn("__features", array_to_vector(v)).drop("__norm")
    fit_on = feat.sample(fit_fraction, seed=seed) if fit_fraction else feat
    model = KMeans(
        k=n_lists,
        seed=seed,
        maxIter=max_iter,
        featuresCol="__features",
        predictionCol=assign_col,
    ).fit(fit_on)
    assigned = model.transform(feat).drop("__features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    assign_col: str = "ivf_list",
) -> DataFrame:
    """Probe the ``nprobe`` nearest inverted lists, brute-force within.
    Touches ~nprobe/n_lists of the corpus; with list-partitioned
    storage the untouched lists are never read (partition pruning)."""

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(y * y for y in b) ** 0.5
        return num / (da * db) if da and db else 0.0

    probes = sorted(range(len(centroids)), key=lambda i: -_cos(centroids[i], query))[:nprobe]
    pruned = assigned.filter(F.col(assign_col).isin(probes))
    return brute_force_topk(pruned, vec_col, query, k, id_col)


def _assign_to_literal_centroids(
    staged: DataFrame, centroids: list[list[float]], out_col: str
) -> DataFrame:
    """Map-only nearest-centroid assignment against DRIVER-SIDE literal
    centroids: squared L2 expanded as ``|x|^2 - 2 x.c + |c|^2`` (the
    fold order hash-proven by the kmeans_step_verified suite query),
    argmin via ``array_min`` over (dist, cid) structs — no join, no
    shuffle, whole-stage codegen.  Expects ``__x`` (double array) and
    ``__xx`` (staged |x|^2) columns."""
    cells = []
    for j, c in enumerate(centroids):
        carr = F.array(*[F.lit(float(v)) for v in c])
        cc = F.aggregate(carr, F.lit(0.0), lambda acc, x: acc + x * x)
        dist = F.col("__xx") - F.lit(2) * _dot_raw(F.col("__x"), carr) + cc
        cells.append(F.struct(dist.alias("d"), F.lit(j).alias("cid")))
    return staged.withColumn(
        out_col, F.array_min(F.array(*cells)).getField("cid")
    )


def ivf_build_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    n_lists: int = 8,
    iters: int = 2,
    round_dp: int = 6,
    assign_col: str = "ivf_list",
):
    """Deterministic, cross-engine-replayable IVF quantizer — the
    hash-verifiable twin of :func:`build_ivf_index` (whose Spark ML
    KMeans fit is sample/partitioning-dependent: measured recall@10
    spread 0.5–1.0 across local[8]/local[32], which is why that path
    is pytest-pinned rather than oracle-hashed).

    Lloyd iterations made portable, stage by stage:

    - seeds = the ``n_lists`` lowest-``id_col`` corpus vectors (an
      ANSI-SQL engine selects the identical rows);
    - assignment = the exact squared-L2 expansion + cid-tiebreak argmin
      that ``kmeans_step_verified`` hash-proves, as a map-only
      literal-centroid expression (no shuffle — centroids ride the
      closure, the 100 TB shape for a coarse quantizer);
    - centroid update = per-(cell, dim) mean ROUNDED to ``round_dp``
      (the embedding_centroids recipe: rounding absorbs the IEEE
      partial-agg summation-order spread), collected to the driver —
      ``n_lists × d`` doubles, driver-bounded by construction; an
      emptied cell keeps its previous centroid (COALESCE both engines);
    - after ``iters`` updates, one final assignment against the last
      centroids labels every vector.

    Returns ``(assigned_df, centroids)`` like :func:`build_ivf_index`,
    so :func:`ivf_search` / :func:`ivf_search_portable` run unchanged
    downstream.  The update shuffle carries ``n_lists × d`` per
    partition (map-side combine), never ``n × d``.
    """
    staged = df.withColumn("__x", _as_double(F.col(vec_col))).withColumn(
        "__xx", _dot_raw(F.col("__x"), F.col("__x"))
    )
    # lazy checkpoint (r13): the seeds collect, each Lloyd update
    # collect, and the final assignment/search actions all consume
    # `staged` — without staging, every one of those jobs re-scans the
    # parquet and re-runs the cast + self-dot.  The first action (the
    # seeds collect) materializes the cache; the frame is n x (d + 2)
    # doubles, executor-storage-bounded.
    staged = _ckpt(staged, eager=False, label="ivf_staged_vectors")
    seed_rows = (
        staged.select(id_col, "__x").orderBy(F.col(id_col)).limit(n_lists).collect()
    )
    if len(seed_rows) < n_lists:
        # same contract as build_ivf_index (Spark ML KMeans rejects
        # k > n); failing loudly beats an IndexError mid-Lloyd-update
        raise ValueError(
            f"n_lists={n_lists} exceeds corpus size {len(seed_rows)}"
        )
    centroids = [[float(v) for v in r["__x"]] for r in seed_rows]
    for _ in range(iters):
        assigned = _assign_to_literal_centroids(staged, centroids, "__cell")
        update = (
            assigned.select("__cell", F.posexplode("__x").alias("pos", "v"))
            .groupBy("__cell", "pos")
            .agg(F.round(F.avg("v"), round_dp).alias("mv"))
        )
        # the loop leaves lineage through a driver-bounded collect (not a
        # checkpoint), so surface each iteration's plan to the audit
        record_plan(update, label="ivf_lloyd_update")
        means = update.collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["pos"]] = float(r["mv"])
        centroids = [
            [by_cell[j][p] for p in range(len(centroids[j]))]
            if j in by_cell
            else centroids[j]
            for j in range(n_lists)
        ]
    assigned = _assign_to_literal_centroids(staged, centroids, assign_col)
    return assigned.drop("__x", "__xx"), centroids


def ivf_search_portable(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    query: list[float],
    query_id: int | None = None,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    assign_col: str = "ivf_list",
    round_dp: int = 6,
) -> DataFrame:
    """Probe search over a :func:`ivf_build_portable` index with every
    step deterministic cross-engine: probe cells = the ``nprobe``
    nearest centroids under the same squared-L2 + cid-tiebreak order
    as assignment (left-fold driver arithmetic — bit-identical to the
    engines' sequential folds over the same rounded-centroid doubles),
    candidates scored by cosine rounded to ``round_dp``, ranked under
    a (score, id) total order.  Output per rank: ``(rnk, id, cell,
    cos6, hit_brute)`` where ``hit_brute`` marks membership in the
    EXACT global top-k — so measured recall@k is itself part of the
    hash-verified result, not a side claim.  ``query_id`` (if given)
    is excluded from both rankings.

    Plan: probe filter prunes to ~nprobe/n_lists of the corpus before
    scoring (with list-partitioned storage the other lists are never
    read); both top-ks are map + TakeOrderedAndProject; the brute
    marker joins a k-row broadcast side.
    """

    def _fold_dot(a: Sequence[float], b: Sequence[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    qq = _fold_dot(query, query)
    probe_order = sorted(
        (qq - 2 * _fold_dot(query, c) + _fold_dot(c, c), j)
        for j, c in enumerate(centroids)
    )
    probes = [j for _, j in probe_order[:nprobe]]

    qarr = F.array(*[F.lit(float(x)) for x in query])
    cos6 = F.round(cosine(F.col(vec_col), qarr), round_dp)
    base = assigned
    if query_id is not None:
        base = base.filter(F.col(id_col) != F.lit(query_id))
    pruned = base.filter(F.col(assign_col).isin(probes))
    scored = (
        pruned.select(
            F.col(id_col),
            F.col(assign_col).cast("long").alias("cell"),
            cos6.alias("cos6"),
        )
        .orderBy(F.col("cos6").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cos6").desc(), F.col(id_col).asc())
            ).cast("long"),
        )
    )
    brute = (
        base.select(F.col(id_col), cos6.alias("cos6"))
        .orderBy(F.col("cos6").desc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).alias("__brute_id"))
    )
    return (
        scored.join(
            F.broadcast(brute), scored[id_col] == brute["__brute_id"], "left"
        )
        .select(
            "rnk",
            id_col,
            "cell",
            "cos6",
            F.col("__brute_id").isNotNull().alias("hit_brute"),
        )
    )


def gram_matrix(df: DataFrame, vec_col: str) -> DataFrame:
    """Distributed Gramian ``G = Xᵀ X`` of an embedding column —
    ``(i, j, gram)`` rows, the sufficient statistic for covariance /
    PCA / whitening over a corpus of vectors.

    The 100 TB shape for distributed linear algebra: each partition
    accumulates its d×d partial Gramian in numpy (one BLAS ``Xᵀ X``
    per Arrow batch — no per-row Python), emits d² rows, and the final
    shuffle carries ``partitions × d²`` numbers instead of ``n × d²``
    exploded products.  Map-side combine on (i, j) then reduces to one
    d² result.  This is how Spark ML's own ``RowMatrix.computeGramian``
    works, re-expressed over Arrow + DataFrames.

    Row/batch summation order inside BLAS differs from a sequential
    engine's, so callers comparing cross-engine should round (the suite
    rounds to 6dp).
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("partial", T.DoubleType(), False),
        ]
    )

    # closure-pure kernel (numpy + pandas only)
    def kernel(batches):
        import numpy as np
        import pandas as _pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            g = mat.T @ mat
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        ii, jj = np.meshgrid(np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij")
        yield _pd.DataFrame(
            {"i": ii.ravel().astype("int32"), "j": jj.ravel().astype("int32"),
             "partial": acc.ravel()}
        )

    partials = df.select(vec_col).mapInPandas(kernel, schema)
    return partials.groupBy("i", "j").agg(F.sum("partial").alias("gram"))


def pca_project(
    df: DataFrame,
    vec_col: str,
    k: int = 4,
    id_col: str = "vec_id",
    components: Sequence[Sequence[float]] | None = None,
) -> DataFrame:
    """Corpus PCA: project each embedding onto the top-``k`` principal
    components — ``(id, pc1..pck)``.

    Composition of the engine's own distributed sufficient statistics:
    ``XᵀX`` from :func:`gram_matrix` (partitions×d² shuffle) and the
    column means from one exploded aggregate give the covariance
    ``C = G/n − μμᵀ``; the d×d eigendecomposition happens driver-side
    in numpy (trivial for embedding-sized d) and the components are
    broadcast back as literal arrays, so the projection pass is
    map-only JVM arithmetic — no corpus ever leaves the executors,
    exactly how Spark ML's RowMatrix PCA is structured.

    Eigenvector sign is fixed by forcing the largest-magnitude entry of
    each component positive (numpy's sign is otherwise arbitrary), so
    outputs are deterministic across runs and BLAS builds.

    ``components`` (optional) pins the projection axes to literal
    vectors and skips the Gramian + eigh entirely — the DISTRIBUTED
    path (corpus mean aggregate, broadcast-literal centering, map-only
    JVM projection) is byte-for-byte the one the eigh path uses, so a
    fixed-axes run is a cross-engine-verifiable rehearsal of the exact
    production plan (the eigh step itself is driver-side numpy over d²
    scalars, pinned separately by pytest against numpy PCA).
    """
    mean_rows = (
        df.select(F.posexplode(_as_double(F.col(vec_col))).alias("i", "v"))
        .groupBy("i")
        .agg(F.avg("v").alias("m"), F.count("*").alias("n"))
        .collect()
    )
    d = len(mean_rows)
    mu_list = [0.0] * d
    for r in mean_rows:
        mu_list[r.i] = r.m

    if components is not None:
        comps_cols = [list(map(float, c)) for c in components]
        if any(len(c) != d for c in comps_cols):
            raise ValueError(
                f"pca_project: components must be length-{d} vectors"
            )
    else:
        import numpy as np

        d_gram = gram_matrix(df, vec_col)
        g_rows = d_gram.collect()  # d² scalars — driver-sized by design
        G = np.zeros((d, d))
        for r in g_rows:
            G[r.i - 1, r.j - 1] = r.gram
        n = mean_rows[0].n
        mu = np.array(mu_list)
        cov = G / n - np.outer(mu, mu)
        vals, vecs = np.linalg.eigh(cov)
        order = np.argsort(vals)[::-1][:k]
        comps = vecs[:, order]  # d x k
        for c in range(comps.shape[1]):
            j = int(np.argmax(np.abs(comps[:, c])))
            if comps[j, c] < 0:
                comps[:, c] = -comps[:, c]
        comps_cols = [list(map(float, comps[:, c])) for c in range(comps.shape[1])]

    centered = F.zip_with(
        _as_double(F.col(vec_col)),
        F.array(*[F.lit(float(x)) for x in mu_list]),
        lambda x, m: x - m,
    )
    staged = df.select(F.col(id_col), centered.alias("__c"))
    cols = [
        _dot_raw(
            F.col("__c"), F.array(*[F.lit(float(x)) for x in comp])
        ).alias(f"pc{c + 1}")
        for c, comp in enumerate(comps_cols)
    ]
    return staged.select(id_col, *cols)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Batch exact k-NN join: for EVERY query vector, its top-``k``
    corpus neighbors by cosine — ``(query_id, corpus_id, cosine_sim,
    rank)``.

    The eval-harness shape ("embed the benchmark queries, pull each
    one's neighbors"): the query side is broadcast (eval sets are
    thousands of rows; the corpus is the big side), scoring is map-only
    — norms staged ONCE per side, so the |corpus|×|queries| expansion
    does one dot + one divide per pair — and the per-query top-k runs
    as ``row_number() <= k`` over (query, score), which Spark rewrites
    to WindowGroupLimit: each partition keeps k rows per query before
    the single shuffle, so the exchange carries
    O(partitions · |queries| · k), never the scored cross product.
    For corpora where even the map-side expansion is too hot, pre-prune
    with ``hyperplane_lsh_bucket``/IVF and feed the pruned corpus here.
    """
    c = corpus.select(
        F.col(corpus_id), _as_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__cn", F.sqrt(_dot_raw(F.col("__cv"), F.col("__cv"))))
    q = queries.select(
        F.col(query_id), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__qn", F.sqrt(_dot_raw(F.col("__qv"), F.col("__qv"))))
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id),
        F.col(corpus_id),
        (
            _dot_raw(F.col("__cv"), F.col("__qv"))
            / (F.col("__cn") * F.col("__qn"))
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine_sim"), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | str = "auto",
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    target_cluster_size: int = 250,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-prune — embeddings are assigned to their nearest
    centroid, and within each cluster a vector is PRUNED when any
    lower-id cluster-mate has cosine similarity >= ``threshold``
    (the deterministic form of the paper's keep-one-per-epsilon-ball
    rule: survivors are exactly the vectors with no earlier near-
    duplicate).  Returns ``(id_col, cluster, kept)``.

    *centroids* — ``(__cid, __c: array<double>)`` — lets a trained
    codebook (e.g. ``build_ivf_index``'s) drive the clustering; the
    default seeds with the ``n_clusters`` lowest-id vectors, which
    keeps the whole operator deterministic and SQL-replayable (the
    ``semdedup_prune`` oracle hash-verifies assignment AND pruning).

    Scale shape: centroids broadcast; assignment is a map-side-
    combinable argmin (one shuffle of one row per vector); the only
    quadratic work is WITHIN clusters.  ``n_clusters="auto"`` (the
    default; VERDICT r11 item 3) sizes the codebook as
    ``max(8, ceil(n / target_cluster_size))`` — i.e. k GROWS WITH THE
    CORPUS at a fixed expected cluster size, which is what Abbas et
    al. do (k ∝ corpus) and what keeps the within-cluster pair work
    LINEAR in n (~n·target_cluster_size pairs) instead of the
    quadratic n²/k a fixed k degenerates to (the r11 sweep measured
    exactly that: α = 1.06 with k pinned at 8).  The sizing count is
    one parquet-metadata-cheap ``count()``; the derivation is pure
    integer arithmetic, so a SQL oracle replays it exactly.

    Assignment cost is n·k dot products; with auto-k that is
    n²·d/target_cluster_size in the limit, so beyond ~10^7 vectors
    pass a TRAINED coarse codebook via ``centroids`` (e.g.
    ``build_ivf_index``'s, whose sampled fit decouples codebook
    training from corpus size) and/or raise ``target_cluster_size`` —
    the default seeds exist for determinism and SQL replayability,
    not as the web-scale quantizer.  Never run with a cluster count
    so low that one cluster holds the corpus.
    """
    if n_clusters == "auto":
        if centroids is None:
            n_rows = df.count()
            n_clusters = max(8, -(-n_rows // target_cluster_size))
    elif not isinstance(n_clusters, int):
        raise ValueError(
            f"n_clusters must be an int or 'auto'; got {n_clusters!r}"
        )
    e = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda v: v.cast("double")).alias("__x"),
    )
    if centroids is None:
        centroids = (
            e.orderBy("__id")
            .limit(n_clusters)
            .select(F.col("__id").alias("__cid"), F.col("__x").alias("__c"))
        )
    cdf = centroids.withColumn("__cc", _dot_raw(F.col("__c"), F.col("__c")))
    ex = e.withColumn("__xx", _dot_raw(F.col("__x"), F.col("__x")))
    dist = (
        F.col("__xx")
        - F.lit(2.0) * _dot_raw(F.col("__x"), F.col("__c"))
        + F.col("__cc")
    )
    assign = _ckpt(
        ex.crossJoin(F.broadcast(cdf))
        .groupBy("__id")
        .agg(
            F.min(F.struct(dist.alias("d"), F.col("__cid").alias("cid"))).alias(
                "m"
            )
        )
        .select("__id", F.col("m.cid").alias("cluster")),
        # three consumers (pair sides a/b + final flag join) would each
        # recompute the corpus argmin; a lazy checkpoint computes it
        # once and truncates the lineage (same pattern as graph.py CC)
        eager=False,
        label="semdedup_assign",
    )
    vecs = ex.join(assign, "__id")
    a = vecs.select(
        F.col("__id").alias("__ida"),
        F.col("__x").alias("__va"),
        F.col("__xx").alias("__na"),
        "cluster",
    )
    b = vecs.select(
        F.col("__id").alias("__idb"),
        F.col("__x").alias("__vb"),
        F.col("__xx").alias("__nb"),
        "cluster",
    )
    cos = _dot_raw(F.col("__va"), F.col("__vb")) / (
        F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb"))
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("__idb").alias("__id"))
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    return assign.join(pruned, "__id", "left").select(
        F.col("__id").alias(id_col),
        "cluster",
        F.col("__pruned").isNull().alias("kept"),
    )
