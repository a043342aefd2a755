"""Deterministic sampling and splitting: hash fractions, train/test and
k-fold splits, stratified and weighted samples, mixtures and token
budgets, importance weights, Neyman allocation and the bootstrap."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sampling as sa
from ..operators import tokenize as tk
from .registry import _load, _q


#: DuckDB twin of sampling.hash_bucket — hex-parse of the md5 prefix.
_SQL_BUCKET = "(('0x' || substring(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 10000)"


@_q(
    "sample_hash_fraction",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_SQL_BUCKET.format(key="doc_id")} < 3000
    """,
    doc="deterministic 30% corpus sample by key-hash bucket — rerun/engine-stable "
        "membership (unlike df.sample), scan-level predicate, no shuffle",
)
def _shash(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.hash_sample(docs, "doc_id", 0.3).select("doc_id", "lang", "source")


@_q(
    "train_test_split_counts",
    f"""
    SELECT source, split, COUNT(*) AS n FROM (
      SELECT source,
        CASE WHEN {_SQL_BUCKET.format(key="doc_id")} < 1000
             THEN 'test' ELSE 'train' END AS split
      FROM documents)
    GROUP BY source, split
    """,
    doc="leakage-safe train/test labeling: membership is a pure function of the "
        "doc key, so a document keeps its split across corpus versions",
)
def _ttsplit(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        sa.train_test_split(docs, "doc_id", test_fraction=0.1)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "mixture_by_source",
    f"""
    SELECT source, COUNT(*) AS n FROM documents
    WHERE {_SQL_BUCKET.format(key="doc_id")} <
      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                  WHEN 'src2' THEN 2000 ELSE 1000 END
    GROUP BY source
    """,
    doc="corpus-mixture sampling: per-source keep rates (100%/50%/20%/10%) as one "
        "CASE-driven hash predicate — the dataset-weighting primitive, map-only",
)
def _mix(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    kept = sa.mixture_sample(
        docs, "source", "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.2},
        default_fraction=0.1,
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "shuffle_shard_assign",
    """
    WITH h AS (
      SELECT doc_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::BIGINT AS hv
      FROM documents)
    SELECT doc_id, CAST(hv % 16 AS BIGINT) AS shard,
      CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    doc="deterministic global shuffle for training-data ordering: keyed md5 -> "
        "(shard, within-shard rank); shards sort independently (row_number "
        "partitioned by shard, NOT a single global window task) and the "
        "concatenation shard asc, pos asc IS the seeded permutation — "
        "reproducible across engines, reruns, and cluster layouts",
)
def _shuffle(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = sa.shuffle_shards(docs.select("doc_id"), "doc_id", n_shards=16, seed=7)
    return out.select("doc_id", "shard", "pos")


@_q(
    "sample_per_group",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
        row_number() OVER (
          PARTITION BY o_orderstatus
          ORDER BY ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10000,
                   o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 10
    """,
    doc="deterministic per-group reservoir: exactly min(10, |group|) orders per "
        "status, selected by md5-of-key order (rerun- and engine-stable, unlike "
        "RNG reservoir sampling); row_number<=n rewrites to WindowGroupLimit so "
        "no group is fully sorted",
)
def _sample_grp(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    return sa.sample_n_per_group(base, "o_orderstatus", "o_orderkey", 10)


@_q(
    "weighted_sample_per_group",
    """
    WITH w AS (
      SELECT lang, doc_id,
        ln((CAST(('0x' || substring(
              md5('42' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            + 0.5) / 4294967296.0)
          / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0)
    SELECT lang, doc_id, CAST(rn AS INTEGER) AS draw_rank FROM (
      SELECT lang, doc_id,
        row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn
      FROM w) t
    WHERE rn <= 5
    """,
    doc="weighted sample WITHOUT replacement (Efraimidis-Spirakis): 5 docs per "
        "language with probability proportional to n_chars — u from md5(seed,"
        "key) so the draw replays on any engine; rank key ln(u)/w, "
        "WindowGroupLimit caps groups before any full sort; the deterministic "
        "quality-weighted mixture draw of LLM-data curation",
)
def _wsample_grp(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("lang", "doc_id", "n_chars")
    out = sa.weighted_sample_per_group(base, "lang", "doc_id", "n_chars", 5)
    return out.select("lang", "doc_id", "draw_rank")


@_q(
    "token_budget_mixture",
    """
    WITH totals AS (
      SELECT source, SUM(CAST(n_chars AS DOUBLE)) AS total
      FROM documents GROUP BY source),
    rates AS (
      SELECT source,
        CASE
          WHEN budget IS NULL OR total <= budget THEN 10000
          ELSE CAST(floor(budget / total * 10000) AS BIGINT)
        END AS keep_below
      FROM (
        SELECT source, total,
          CASE WHEN source = 'src0' THEN CAST(4000 AS DOUBLE)
               WHEN source = 'src1' THEN CAST(2000 AS DOUBLE)
               ELSE NULL END AS budget
        FROM totals) b)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
          < r.keep_below
    """,
    doc="token-budget corpus mixing: per-source keep rate = min(1, budget / "
        "total_weight) from one dashboard-sized aggregate broadcast back onto "
        "the scan, membership by deterministic key hash — the corpus is never "
        "shuffled; budgets are stated in weight units (tokens), not row counts",
)
def _budget_mix(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars")
    out = sa.downsample_to_token_budget(
        base, "source", "doc_id", "n_chars", {"src0": 4000, "src1": 2000}
    )
    return out.select("doc_id", "source", "n_chars")


@_q(
    "split_leakproof_by_content",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0),
    labeled AS (
      SELECT doc_id, md5(text) AS fp,
        CASE WHEN {_SQL_BUCKET.format(key="md5(text)")} < 2000
             THEN 'test' ELSE 'train' END AS split
      FROM corpus),
    straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS straddling_fps FROM (
        SELECT fp FROM labeled GROUP BY fp
        HAVING COUNT(DISTINCT split) > 1))
    SELECT l.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT l.fp) AS BIGINT) AS n_contents,
      s.straddling_fps
    FROM labeled l CROSS JOIN straddle s
    GROUP BY l.split, s.straddling_fps
    """,
    doc="leakage-proof train/test split: membership is a function of the "
        "CONTENT fingerprint, not the doc id, so byte-identical documents "
        "(the injected reposts) can never land on both sides of the split — "
        "the query emits the straddle count (0 by construction) alongside "
        "the per-split doc/content tallies; fingerprint + bucket are map-"
        "only, the tallies one combinable shuffle, the straddle check runs "
        "on the fingerprint frame",
)
def _leakproof(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")
    corpus = base.unionAll(
        base.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    labeled = sa.train_test_split(
        corpus.withColumn("fp", F.md5("text")), "fp", test_fraction=0.2
    )
    straddle = (
        labeled.groupBy("fp")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("straddling_fps"))
    )
    return (
        labeled.crossJoin(F.broadcast(straddle))
        .groupBy("split", "straddling_fps")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_contents"),
        )
        .select("split", "n_docs", "n_contents", "straddling_fps")
    )


@_q(
    "kfold_assign_counts",
    f"""
    SELECT CAST({_SQL_BUCKET.format(key="doc_id")} % 5 AS INTEGER) AS fold,
      lang, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    doc="k-fold eval assignment: every document gets a stable fold in "
        "[0,5) from the same engine-portable md5-bucket recipe as the "
        "train/test split, counted per (fold, lang).  Keys keep their "
        "fold across corpus versions (no eval leakage on incremental "
        "loads); assignment is a map-only scan expression.  Operator: "
        "operators/sampling.py kfold_assign",
)
def _kfold(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        sa.kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "temperature_lang_rates",
    """
    WITH c AS (
      SELECT lang AS source, COUNT(*) AS n_rows FROM documents GROUP BY 1),
    t AS (
      SELECT SUM(n_rows) AS n_tot, SUM(pow(n_rows, 0.7)) AS w_tot FROM c),
    p AS (
      SELECT source, n_rows,
        CAST(n_rows AS DOUBLE) / n_tot AS p_src,
        pow(n_rows, 0.7) / w_tot AS q_src
      FROM c, t),
    s AS (SELECT MIN(p_src / q_src) AS sc FROM p)
    SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
      round(p_src, 6) AS p_src, round(q_src, 6) AS q_src,
      round(LEAST(1.0, q_src / p_src * sc), 6) AS keep_rate
    FROM p, s
    """,
    doc="Temperature-based language rebalancing (XLM's p^alpha scheme, "
        "Conneau & Lample 2019), hash-verified: per-language corpus "
        "shares flattened toward q ∝ p^0.7, realized as the largest "
        "downsampling-only keep rates (the rarest-relative language "
        "keeps 100%; the over-represented head is trimmed).  Plan: one "
        "count aggregate (rows = #languages), then source-table-sized "
        "arithmetic with scalar totals broadcast — the corpus is scanned "
        "once and never shuffled.  Feed the rates into the deterministic "
        "hash-bucket filter (mixture_sample) to materialize the draw.  "
        "Operator: operators/sampling.py temperature_resample_rates",
)
def _temp_rates(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.temperature_resample_rates(docs, "lang", alpha=0.7)


@_q(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS tgt,
        list_filter({tk.space_tokens_sql('lower(text)')}, x -> x <> '') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, tgt, unnest(list_concat(t,
        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS g
      FROM toks),
    db AS (
      SELECT doc_id, tgt,
        ('0x' || substring(md5(g), 1, 8))::BIGINT % 64 AS b,
        COUNT(*) AS c
      FROM grams GROUP BY 1, 2, 3),
    dist AS (
      SELECT b, SUM(c) AS raw_c, SUM(CASE WHEN tgt THEN c ELSE 0 END) AS tgt_c
      FROM db GROUP BY 1),
    lr AS (
      SELECT b,
        ln((tgt_c + 0.5) / ((SELECT SUM(tgt_c) FROM dist) + 0.5 * 64))
        - ln((raw_c + 0.5) / ((SELECT SUM(raw_c) FROM dist) + 0.5 * 64)) AS lr
      FROM dist),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        round(SUM(c * lr), 6) AS log_weight
      FROM db JOIN lr USING (b) GROUP BY 1)
    SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams,
      COALESCE(s.log_weight, 0.0) AS log_weight
    FROM (SELECT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
    """,
    doc="DSIR data-selection importance weights (Xie et al. 2023), "
        "hash-verified end to end: every document scored by how much more "
        "likely its hashed unigram+bigram profile is under the trusted "
        "target slice (lang='en') than under the raw pool — the importance-"
        "resampling signal for picking pre-training data that looks like a "
        "reference corpus without training a classifier.  Plan: ONE "
        "corpus-sized (doc, bucket) count shuffle (map-side combined, "
        "width bounded by 64 buckets/doc), a 64-row distribution aggregate "
        "over those counts (corpus never rescanned), log-ratios broadcast "
        "back, one doc-keyed sum.  The md5 bucket hash replays exactly in "
        "ANSI SQL; log-weight rounds at 6 dp (documented float-sum "
        "tolerance).  Operator: operators/sampling.py dsir_log_weights",
)
def _dsir(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return sa.dsir_log_weights(
        docs.withColumn("__is_tgt", F.col("lang") == "en"),
        "text",
        "__is_tgt",
        "doc_id",
        n_buckets=64,
    )


@_q(
    "neyman_allocation_orders",
    """
    WITH m AS (
      SELECT o_orderpriority AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))
            * CAST(o_totalprice AS DECIMAL(18,2))) AS sxx
      FROM orders GROUP BY 1),
    s AS (
      SELECT stratum, n_rows,
        CASE WHEN n_rows > 1 THEN
          sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - 1.0)))
        ELSE 0.0 END AS sd
      FROM m),
    w AS (
      SELECT stratum, n_rows, sd,
        CAST(round(CAST(n_rows AS DOUBLE) * sd, 4) AS DECIMAL(28,4)) AS wgt
      FROM s),
    t AS (SELECT SUM(wgt) AS tot FROM w)
    SELECT stratum, n_rows,
      CAST(round(sd, 6) AS DOUBLE) AS stddev6,
      CAST(round(CAST(wgt AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS DOUBLE)
        AS share6,
      CAST(floor(10000 * (CAST(wgt AS DOUBLE) / CAST(t.tot AS DOUBLE)) + 0.5)
        AS BIGINT) AS alloc_n
    FROM w, t
    """,
    doc="Neyman-optimal stratified-sample allocation (n_h ∝ N_h·S_h, "
        "Neyman 1934): how a 10k-row audit budget should split across "
        "order-priority strata so the stratified mean estimator has "
        "minimum variance — big or volatile strata get more budget, "
        "near-constant strata almost none.  The survey-sampling upgrade "
        "to proportional allocation for eval-set draws over skewed "
        "corpora.  Exactness: per-stratum S_h from EXACT decimal "
        "moments (order-independent sums, one fixed IEEE expression); "
        "the weight N_h·S_h is rounded 4dp and cast BACK to DECIMAL so "
        "the across-strata total is an exact order-independent sum — a "
        "double total would depend on stratum visit order.  Plan: ONE "
        "map-side-combinable moment shuffle, then window+math over the "
        "5-row stratum dim.  Operator: operators/sampling.py "
        "neyman_allocation (+ stratified_sample_neyman applies the "
        "rates via the portable md5 bucket).",
)
def _neyman(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return sa.neyman_allocation(
        orders, "o_orderpriority", "o_totalprice", total_n=10_000
    )


def _poisson_case_sql(u_expr: str) -> str:
    """CASE translating u -> Poisson(1) multiplicity from the SAME fixed
    threshold literals the Spark when-chain uses
    (operators/sampling.py POISSON1_CDF) — repr() round-trips doubles
    exactly, so both engines compare against bit-identical constants."""
    whens = "\n        ".join(
        f"WHEN {u_expr} < {t!r} THEN {k}"
        for k, t in enumerate(sa.POISSON1_CDF)
    )
    return f"CASE {whens}\n        ELSE {len(sa.POISSON1_CDF)} END"


@_q(
    "bootstrap_revenue_ci",
    f"""
    WITH s AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             CAST(o_totalprice AS DECIMAL(12,2)) AS x, g.b AS b
      FROM orders, generate_series(1, 32) AS g(b)
      WHERE o_totalprice IS NOT NULL
    ), u AS (
      SELECT b, x,
        (CAST(('0x' || substring(
             md5('42' || chr(31) || k || chr(31) || CAST(b AS VARCHAR)),
             1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
      FROM s
    ), w AS (
      SELECT b, x, {_poisson_case_sql("u")} AS w FROM u
    ), m AS (
      SELECT b, round(CAST(SUM(w * x) AS DOUBLE)
                      / CAST(SUM(w) AS DOUBLE), 6) AS mean6
      FROM w GROUP BY b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
      CAST(round(AVG(mean6), 6) AS DOUBLE) AS boot_mean,
      CAST(round(quantile_cont(mean6, 0.025), 6) AS DOUBLE) AS ci_lo,
      CAST(round(quantile_cont(mean6, 0.975), 6) AS DOUBLE) AS ci_hi
    FROM m
    """,
    doc="Poisson-bootstrap 95% confidence interval for the mean order "
        "total — the resampling trick that makes the bootstrap work at "
        "corpus scale: instead of 32 indexed draws-with-replacement, "
        "every row gets an independent Poisson(1) multiplicity per "
        "replica (inverse-CDF on a portable md5 uniform with FIXED "
        "threshold literals), so all 32 replicas compute in ONE scan — "
        "the explode is map-side, partial aggregation ships "
        "n_partitions x 32 rows, and the percentile fold runs over 32 "
        "replica means.  Replica means are exact-DECIMAL weighted sums "
        "(bit-reproducible on any engine/partitioning) rounded 6dp "
        "before the interpolated percentile.  Operator: "
        "operators/sampling.py poisson_bootstrap_ci / "
        "poisson_bootstrap_means",
)
def _bootci(spark, sf_dir):
    (orders,) = _load(spark, sf_dir, "orders")
    return sa.poisson_bootstrap_ci(
        orders, "o_orderkey", "o_totalprice", n_replicas=32, alpha=0.05
    )


@_q(
    "temporal_split_audit",
    """
    WITH per_user AS (
      SELECT user_id,
        COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-24 00:00:00')
          AS n_tr,
        COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24 00:00:00')
          AS n_te
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id)
    SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train_rows,
      CAST(SUM(n_te) AS BIGINT) AS n_test_rows,
      CAST(COUNT(*) FILTER (WHERE n_tr > 0) AS BIGINT) AS n_train_users,
      CAST(COUNT(*) FILTER (WHERE n_te > 0) AS BIGINT) AS n_test_users,
      CAST(COUNT(*) FILTER (WHERE n_tr > 0 AND n_te > 0) AS BIGINT)
        AS n_leaky_users,
      CAST(SUM(CASE WHEN n_tr > 0 THEN n_te ELSE 0 END) AS BIGINT)
        AS n_test_rows_seen_user
    FROM per_user
    """,
    doc="Time-based train/test split with an entity-leakage audit — "
        "the standard eval split for event data (train on the past, "
        "test on the future), which the hash-keyed and content-keyed "
        "splits deliberately don't provide.  One summary row: split "
        "sizes, distinct users per side, users present on BOTH sides "
        "(fatal for user-cold-start eval; legitimate for forecasting), "
        "and test rows whose user was seen in train.  The pivot "
        "compares against the column's own TIMESTAMP_NTZ type, so a "
        "non-UTC session can't shift the boundary.  Plan: ONE "
        "user-keyed count shuffle (map-side combinable conditional "
        "counts), then a 1-row rollup over the user-cardinality frame "
        "— the corpus is never shuffled at row granularity.  Operator: "
        "operators/sampling.py temporal_split_audit",
)
def _temporal_split(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    return sa.temporal_split_audit(
        events, "ts", "user_id", "2024-01-24 00:00:00"
    )
