"""Edge-case hardening: degenerate inputs every operator must survive.

Empty frames, single rows, all-identical corpora, null keys — the
shapes that show up at partition boundaries long before 100 TB does.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automated_batch_data_pipeline_nyc_spark.operators import dedup as dd
from automated_batch_data_pipeline_nyc_spark.operators import similarity as sim
from automated_batch_data_pipeline_nyc_spark.operators.windows import sessionize

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_exact_dedup_empty_and_identical(spark):
    empty = _docs(spark, [])
    assert dd.exact_dedup(empty, "text", "doc_id").count() == 0
    same = _docs(spark, [(i, "same text") for i in range(10)])
    out = dd.exact_dedup(same, "text", "doc_id").collect()
    assert [(r["doc_id"], r["text"]) for r in out] == [(0, "same text")]


def test_exact_dedup_idempotent(spark):
    df = _docs(spark, [(1, "a"), (2, "a"), (3, "b"), (4, "")])
    once = dd.exact_dedup(df, "text", "doc_id")
    twice = dd.exact_dedup(once, "text", "doc_id")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_minhash_dedup_single_row_and_empty_text(spark):
    df = _docs(spark, [(1, "only document here")])
    assert dd.minhash_dedup(df, "text", "doc_id").count() == 1
    weird = _docs(spark, [(1, ""), (2, ""), (3, "real words in here now")])
    out = dd.minhash_dedup(weird, "text", "doc_id")
    # the two empty docs are perfect duplicates: one survives
    assert out.count() == 2


def test_simhash_pairs_on_identical_corpus(spark):
    same = _docs(spark, [(i, "alpha beta gamma delta") for i in range(4)])
    sigs = dd.with_simhash(same, "text").select("doc_id", "simhash")
    pairs = dd.simhash_candidate_pairs(sigs, "doc_id", "simhash").collect()
    # all C(4,2)=6 pairs at Hamming 0
    assert len(pairs) == 6
    assert all(r["hamming"] == 0 for r in pairs)


def test_simhash_max_hamming_guard(spark):
    df = _docs(spark, [(1, "x")])
    sigs = dd.with_simhash(df, "text").select("doc_id", "simhash")
    with pytest.raises(ValueError, match="chunks"):
        dd.simhash_candidate_pairs(sigs, "doc_id", "simhash", max_hamming=16)


@pytest.mark.parametrize("order", ["lex", "freq"])
def test_jaccard_prefix_catches_all_pairs_vs_naive(spark, order):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words appear in this one"),
        (4, "the quick brown fox jumps over the lazy dog"),
        # adversarial for the length/positional filters: same prefix
        # gram at very different positions and set sizes
        (5, "the quick"),
        (6, "a b c d e f g h i j k l m n o p the quick"),
        (7, "a b c d e f g h i j k l m n o p the quick"),
    ]
    df = _docs(spark, rows)
    fast = {
        (r["id_a"], r["id_b"])
        for r in dd.jaccard_prefix_pairs(
            df, "doc_id", "text", threshold=0.5, order=order
        ).collect()
    }
    naive = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(
            df.withColumn("blk", F.lit(1)), "doc_id", "text", "blk", threshold=0.5
        ).collect()
    }
    assert fast == naive, "prefix filtering must be lossless"
    assert (6, 7) in fast  # identical long docs survive the filters

    with pytest.raises(ValueError, match="order"):
        dd.jaccard_prefix_pairs(df, "doc_id", "text", order="nope")


def test_cosine_lsh_pairs_identical_vectors_always_collide(spark):
    vec = [1.0, 0.0, 2.0, -1.0]
    df = spark.createDataFrame(
        [(i, vec) for i in range(3)] + [(9, [-5.0, 1.0, -2.0, 4.0])],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    pairs = sim.cosine_lsh_pairs(
        df, "vec_id", "embedding", dim=4, threshold=0.99, planes_per_band=4, bands=2
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 1), (0, 2), (1, 2)}  # identical vectors share every bucket


def test_sessionize_single_event_and_null_gap_boundaries(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    one = spark.createDataFrame([(7, t0, 1)], schema)
    out = sessionize(one, "user_id", "ts", "event_id").collect()
    assert out[0]["session_id"] == 1
    # exactly-at-gap is the SAME session (strict > comparison)
    rows = [
        (7, t0, 1),
        (7, t0 + datetime.timedelta(minutes=30), 2),
        (7, t0 + datetime.timedelta(minutes=60, seconds=1), 3),
    ]
    out = (
        sessionize(spark.createDataFrame(rows, schema), "user_id", "ts", "event_id")
        .orderBy("event_id")
        .collect()
    )
    assert [r["session_id"] for r in out] == [1, 1, 2]


def test_embedding_centroid_paths_agree(spark):
    """JVM exploded-avg centroids == applyInPandas/numpy centroids
    (within float tolerance — this equivalence is the correctness
    evidence for both rows-only suite entries)."""
    import math

    from automated_batch_data_pipeline_nyc_spark.sources import read_parquet

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    jvm = {
        (r["label"], r["dim"]): r["centroid"]
        for r in sim.embedding_centroids_exploded(emb, "label", "embedding").collect()
    }
    pdv = {
        r["label"]: r["centroid"]
        for r in sim.embedding_centroids_pandas(emb, "label", "embedding").collect()
    }
    assert {k for k, _ in jvm} == set(pdv)
    for (label, dim), v in jvm.items():
        assert math.isclose(v, pdv[label][dim], rel_tol=1e-9, abs_tol=1e-12), (label, dim)


def test_ewma_by_user_history_cap_fails_fast(spark, monkeypatch):
    """ewma_by_user's SCALE CAVEAT is enforced in code: a key whose
    collected history exceeds EWMA_MAX_HISTORY raises (assert_true)
    with a pointer to the streaming production form, instead of
    silently growing one aggregation buffer toward OOM (VERDICT r4
    item 4).  The cap is read at query-build time, so tightening it to
    1 makes every multi-event user pathological."""
    from pyspark.errors import SparkRuntimeException

    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES, analytics

    q = QUERIES["ewma_by_user"].spark
    # default cap: the sf0.001 fixture is far below 2M rows per key
    assert q(spark, "/root/testdata/sf0.001").count() > 0
    monkeypatch.setattr(analytics, "EWMA_MAX_HISTORY", 1)
    with pytest.raises(SparkRuntimeException, match="EWMA_MAX_HISTORY=1"):
        q(spark, "/root/testdata/sf0.001").count()


def test_k_anonymity_audit_and_summary(spark):
    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        k_anonymity_audit,
        k_anonymity_summary,
    )

    rows = (
        [("a", 30, i) for i in range(6)]      # safe group (n=6)
        + [("a", 40, 100)]                    # risky singleton
        + [("b", 30, 200), ("b", 30, 201)]    # risky pair
    )
    df = spark.createDataFrame(rows, ["city", "age", "rid"])
    risky = {
        (r.city, r.age): r.n
        for r in k_anonymity_audit(df, ["city", "age"], k=5).collect()
    }
    assert risky == {("a", 40): 1, ("b", 30): 2}
    s = k_anonymity_summary(df, ["city", "age"], k=5).collect()[0]
    assert (s.n_groups, s.n_risky_groups, s.n_rows_at_risk, s.effective_k) == (
        3, 2, 3, 1,
    )
    with pytest.raises(ValueError):
        k_anonymity_audit(df, ["city"], k=1)


def test_l_diversity_audit_and_summary(spark):
    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        l_diversity_audit,
        l_diversity_summary,
    )

    rows = (
        # k-anonymous (n=4) yet HOMOGENEOUS: every member shares one
        # sensitive value — the leak k-anonymity cannot see
        [("a", 30, "flu")] * 4
        # diverse group: 3 members, 3 distinct sensitive values
        + [("b", 30, "flu"), ("b", 30, "cold"), ("b", 30, "ok")]
        # 2 distinct sensitive values (< l=3), one NULL (ignored)
        + [("c", 40, "flu"), ("c", 40, "cold"), ("c", 40, None)]
    )
    df = spark.createDataFrame(rows, ["city", "age", "diag"])
    risky = {
        (r.city, r.age): (r.n, r.n_sensitive)
        for r in l_diversity_audit(df, ["city", "age"], "diag", l=3).collect()
    }
    assert risky == {("a", 30): (4, 1), ("c", 40): (3, 2)}
    s = l_diversity_summary(df, ["city", "age"], "diag", l=3).collect()[0]
    assert (
        s.n_groups,
        s.n_homogeneous_groups,
        s.n_rows_at_risk,
        s.effective_l,
    ) == (3, 2, 7, 1)
    with pytest.raises(ValueError):
        l_diversity_audit(df, ["city"], "diag", l=1)


def test_ks_two_sample_edges(spark):
    from pyspark.sql import functions as F

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        ks_two_sample,
    )

    # identical samples -> D = 0 (every distinct-value atom balances)
    same = spark.createDataFrame(
        [(float(v), lab) for v in (1, 2, 3, 4) for lab in (True, False)],
        ["v", "a"],
    )
    r = ks_two_sample(same, "v", F.col("a")).collect()[0]
    assert (r.n_a, r.n_b, r.ks_stat) == (4, 4, 0.0)

    # disjoint supports -> D = 1 at the boundary atom
    disj = spark.createDataFrame(
        [(1.0, True), (2.0, True), (10.0, False), (11.0, False)], ["v", "a"]
    )
    r = ks_two_sample(disj, "v", F.col("a")).collect()[0]
    assert r.ks_stat == 1.0

    # single distinct value: lo == hi exercises the degenerate-range
    # bucket branch (everything lands in bucket 0), D = 0
    one = spark.createDataFrame([(5.0, True), (5.0, False)], ["v", "a"])
    r = ks_two_sample(one, "v", F.col("a")).collect()[0]
    assert (r.n_a, r.n_b, r.ks_stat) == (1, 1, 0.0)

    # nulls are dropped before either CDF
    withnull = spark.createDataFrame(
        [(None, True), (1.0, True), (1.0, False)], ["v", "a"]
    )
    r = ks_two_sample(withnull, "v", F.col("a")).collect()[0]
    assert (r.n_a, r.n_b, r.ks_stat) == (1, 1, 0.0)

    with pytest.raises(ValueError):
        ks_two_sample(same, "v", F.col("a"), n_buckets=0)


def test_zipf_fit_degenerate_single_type(spark):
    from automated_batch_data_pipeline_nyc_spark.operators.text import zipf_fit

    df = spark.createDataFrame([("hello hello hello",)], ["text"])
    r = zipf_fit(df, "text").collect()[0]
    assert (r.n_types, r.n_tokens) == (1, 3)
    # one point can't be fit: slope/intercept/r2 are NULL, never fake
    assert r.zipf_slope is None and r.intercept is None and r.r2 is None


def test_profile_table_nulls_complex_and_approx(spark):
    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, None, [3]), (None, "b", None)],
        T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("arr", T.ArrayType(T.LongType())),
        ]),
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert set(prof) == {"x", "s", "arr"}
    assert (prof["x"].n_rows, prof["x"].n_nulls, prof["x"].n_distinct) == (3, 1, 2)
    assert (prof["x"].min_value, prof["x"].max_value) == ("1", "2")
    assert (prof["s"].n_nulls, prof["s"].min_value) == (1, "a")
    # complex column: counts only, stats NULL
    assert prof["arr"].n_nulls == 1
    assert prof["arr"].n_distinct is None and prof["arr"].min_value is None
    # approx path keeps the same schema and exact null accounting
    aprof = {r.column: r for r in profile_table(df, approx_distinct=True).collect()}
    assert aprof["x"].n_nulls == 1 and aprof["x"].n_distinct >= 1


def test_psi_identical_and_shifted_distributions(spark):
    """PSI ≈ 0 when the two windows share a distribution; large when the
    distribution shifts; every bin appears even when empty; edges must
    ascend."""
    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        population_stability_index,
    )

    base = spark.createDataFrame([(float(v),) for v in range(100)], ["v"])
    same = population_stability_index(base, base, "v", [25.0, 50.0, 75.0])
    rows = same.collect()
    assert len(rows) == 4 and {r.bin_id for r in rows} == {0, 1, 2, 3}
    assert abs(sum(r.psi_term for r in rows)) < 1e-9  # identical → PSI 0

    shifted = spark.createDataFrame(
        [(float(v),) for v in range(75, 175)], ["v"]
    )
    drift = population_stability_index(base, shifted, "v", [25.0, 50.0, 75.0])
    terms = {r.bin_id: r for r in drift.collect()}
    assert sum(r.psi_term for r in terms.values()) > 0.25  # "shifted" regime
    # bin 0 is empty on the actual side but still present, smoothed
    assert terms[0].n_actual == 0 and terms[0].p_actual > 0

    import pytest as _p

    with _p.raises(ValueError, match="ascending"):
        population_stability_index(base, base, "v", [50.0, 25.0])


def test_gap_fill_interpolate_reference(spark):
    """Gap-fill vs a hand-computed reference: dense grid per key, exact
    lerp on interior gaps, no extrapolation past the edges, LOCF
    carries, multi-observation slots sum."""
    from automated_batch_data_pipeline_nyc_spark.operators.timeseries import (
        gap_fill_interpolate,
    )

    rows = [
        # key a: obs at slots 0 and 30 (step 10): two interior gaps
        ("a", "1970-01-01 00:00:05", 10.0),
        ("a", "1970-01-01 00:00:31", 40.0),
        ("a", "1970-01-01 00:00:35", 2.0),   # same slot as :31 -> sums
        # key b: single observation -> single-slot grid
        ("b", "1970-01-01 00:00:59", 7.5),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"]).select(
        "k", F.col("ts").cast("timestamp"), "v"
    )
    out = {
        (r.k, r.slot_s): (r.n_obs, r.v_obs, r.v_lerp, r.v_locf)
        for r in gap_fill_interpolate(df, ["k"], "ts", "v", 10).collect()
    }
    assert len(out) == 5  # a: slots 0,10,20,30; b: slot 50
    assert out[("a", 0)] == (1, 10.0, 10.0, 10.0)
    assert out[("a", 10)] == (0, None, (10 * 30 + 32 * 10) / 30, 10.0)
    assert out[("a", 20)] == (0, None, (10 * 30 + 32 * 20) / 30, 10.0)
    assert out[("a", 30)] == (2, 42.0, 42.0, 42.0)
    assert out[("b", 50)] == (1, 7.5, 7.5, 7.5)
    with pytest.raises(ValueError, match="positive"):
        gap_fill_interpolate(df, ["k"], "ts", "v", 0)


def test_gap_fill_edges_stay_null(spark):
    """Slots before the first / after the last observation of a key get
    NULL v_lerp (no extrapolation) — the grid spans observations only,
    so edge NULLs can only arise from NULL-valued buckets."""
    from automated_batch_data_pipeline_nyc_spark.operators.timeseries import (
        gap_fill_interpolate,
    )

    df = spark.createDataFrame(
        [("a", "1970-01-01 00:00:05", 1.0), ("a", "1970-01-01 00:00:25", 3.0)],
        ["k", "ts", "v"],
    ).select("k", F.col("ts").cast("timestamp"), "v")
    out = gap_fill_interpolate(df, ["k"], "ts", "v", 10).collect()
    assert {r.slot_s: r.v_lerp for r in out} == {0: 1.0, 10: 2.0, 20: 3.0}


def test_corr_matrix_constant_column_and_perfect_pair(spark):
    """A constant column yields NULL corr against anything (zero
    variance); a column correlates perfectly (+1) with itself shifted;
    anti-correlated pairs hit −1; n ≤ 1 yields all-NULL."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import corr_matrix

    df = spark.createDataFrame(
        [(i, 2 * i + 5, 10 - i, 7) for i in range(6)], ["a", "b", "c", "k"]
    )
    out = {
        (r.col_x, r.col_y): r.corr
        for r in corr_matrix(df, ["a", "b", "c", "k"]).collect()
    }
    assert abs(out[("a", "b")] - 1.0) < 1e-12      # perfect linear
    assert abs(out[("a", "c")] + 1.0) < 1e-12      # perfect inverse
    assert out[("a", "k")] is None                 # constant column
    assert out[("b", "k")] is None and out[("c", "k")] is None

    one = corr_matrix(
        spark.createDataFrame([(1, 2)], ["a", "b"]), ["a", "b"]
    ).collect()
    assert len(one) == 1 and one[0].corr is None   # n == 1


def test_pair_lift_bounds_and_independence(spark):
    """Pairs only within a basket (single-item baskets emit nothing),
    counts are exact, and lift > 1 iff the pair co-occurs more than
    independence predicts."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import pair_lift

    rows = [
        (1, "x"), (1, "y"),          # x,y together
        (2, "x"), (2, "y"),          # twice
        (3, "x"), (3, "z"),
        (4, "w"),                     # singleton basket: no pairs
        (5, "z"),
    ]
    out = {
        (r.item_a, r.item_b): r
        for r in pair_lift(
            spark.createDataFrame(rows, ["bk", "it"]), "bk", "it"
        ).collect()
    }
    assert set(out) == {("x", "y"), ("x", "z")}
    xy = out[("x", "y")]
    assert (xy.n_ab, xy.n_a, xy.n_b) == (2, 3, 2)
    assert abs(xy.support - 2 / 5) < 1e-12
    assert abs(xy.confidence - 2 / 3) < 1e-12
    assert abs(xy.lift - (2 * 5) / (3 * 2)) < 1e-12  # > 1: co-occur


def test_benford_excludes_sub_one_and_keeps_absent_digits(spark):
    """Values < 1 and NULLs are excluded (no significant first digit);
    digits that never occur still appear with zero count; shares sum
    to 1; chi2_total is identical on every row."""
    from automated_batch_data_pipeline_nyc_spark.operators.quality import benford_audit

    df = spark.createDataFrame(
        [(123.45,), (19.99,), (1.01,), (0.5,), (None,), (950.0,)], ["v"]
    )
    rows = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert set(rows) == set(range(1, 10))
    assert rows[1].n_obs == 3 and rows[9].n_obs == 1  # 0.5/NULL excluded
    assert rows[2].n_obs == 0                          # absent digit present
    assert all(r.n_total == 4 for r in rows.values())
    assert abs(sum(r.obs_share for r in rows.values()) - 1.0) < 1e-12
    assert len({r.chi2_total for r in rows.values()}) == 1


def test_impute_group_mean_all_null_group_stays_null(spark):
    """The imputed value is the group's exact mean over observed values;
    a group with NO observed values keeps its NULLs (0/0 surfaced, not
    invented)."""
    from automated_batch_data_pipeline_nyc_spark.operators.cleaning import (
        impute_group_mean,
    )

    df = spark.createDataFrame(
        [("g1", 10.0), ("g1", None), ("g1", 20.0), ("g2", None), ("g2", None)],
        ["g", "v"],
    )
    out = impute_group_mean(df, ["g"], "v").collect()
    g1 = sorted(
        (r.v_imputed for r in out if r.g == "g1"), key=lambda x: (x is None, x)
    )
    assert g1 == [10.0, 15.0, 20.0]
    assert all(r.v_imputed is None for r in out if r.g == "g2")
    assert sum(r.v_was_null for r in out) == 3


def test_c4_rules_line_and_page_semantics(spark):
    """Each C4 rule in isolation: terminal punctuation, ≥5 words,
    javascript kill, the <3-sentence page drop, and the lorem/brace
    page flags over the ORIGINAL text."""
    from automated_batch_data_pipeline_nyc_spark.operators.text import c4_rules

    good = "\n".join(
        [
            "This sentence has five proper words.",
            "Another good line with plenty of words here!",
            'A third quoted sentence ends with a quote."',
        ]
    )
    df = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nPlease enable javascript to read this page."),
            (3, "Too short."  "\nno terminal punctuation in this line"),
            (4, good.replace("Another good", "Lorem ipsum dolor sit")),
            (5, good + "\nvar x = { 1 };"),
        ],
        ["i", "t"],
    )
    out = {r.i: r for r in c4_rules(df, "t").collect()}
    assert out[1].c4_keep and out[1].n_kept == 3 and out[1].n_sentences == 3
    # the javascript line dies but the page keeps its 3 good sentences
    assert out[2].c4_keep and out[2].n_kept == 3
    assert not out[3].c4_keep and out[3].n_kept == 0
    assert not out[4].c4_keep and out[4].has_lorem
    assert not out[5].c4_keep and out[5].has_brace and out[5].n_kept == 3


def test_cm_inner_product_bounds(spark):
    """The CM inner-product estimate is ≥ the true join size always,
    and exact when the sketches are collision-free; disjoint sides
    estimate small (only hash-collision mass)."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        countmin_inner_product,
        countmin_sketch,
    )

    a = spark.createDataFrame([(i % 5,) for i in range(50)], ["k"])   # 5 keys ×10
    b = spark.createDataFrame([(i % 10,) for i in range(30)], ["k"])  # 10 keys ×3
    true = 5 * 10 * 3  # keys 0-4 shared: 10·3 each
    sa = countmin_sketch(a, "k", depth=4, width=1024)
    sb = countmin_sketch(b, "k", depth=4, width=1024)
    est = countmin_inner_product(sa, sb).collect()[0].est_join_size
    assert est >= true
    assert est == true  # 15 distinct keys in 1024 buckets: no collision

    disjoint = spark.createDataFrame([(1000 + i,) for i in range(20)], ["k"])
    sd = countmin_sketch(disjoint, "k", depth=4, width=1024)
    est_d = countmin_inner_product(sa, sd).collect()[0].est_join_size
    assert est_d < true  # only collision mass


def test_k_core_vs_python_peeling_reference(spark):
    """k_core vs a pure-Python peeling reference on a graph with every
    interesting shape: a chain (2-core drops it entirely), a triangle
    with a pendant tail (2-core = the triangle), and a 4-clique
    (survives even the 3-core)."""
    from automated_batch_data_pipeline_nyc_spark.operators.graph import k_core

    edges = [
        (1, 2), (2, 3), (3, 4),                    # chain
        (10, 11), (11, 12), (10, 12), (12, 13),    # triangle + tail
        (20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23),  # K4
    ]

    def ref_k_core(es, k):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in adj.items() if len(ns) < k]:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
        return {v: len(ns) for v, ns in adj.items()}

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for k in (2, 3):
        got = {r.node: r.degree for r in k_core(df, k=k).collect()}
        assert got == ref_k_core(edges, k), f"k={k}"
    assert set(ref_k_core(edges, 2)) == {10, 11, 12, 20, 21, 22, 23}
    assert set(ref_k_core(edges, 3)) == {20, 21, 22, 23}

    import pytest as _p

    with _p.raises(ValueError, match="k must be"):
        k_core(df, k=0)


def test_mahalanobis_vs_numpy_reference(spark):
    """mahalanobis_scores vs numpy end to end on correlated data: the
    engine's exact-moment covariance + driver inverse must reproduce
    numpy's Mahalanobis distances, and the planted joint outlier (big
    qty at a small price — both marginals ordinary) must rank first."""
    import numpy as np

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        mahalanobis_scores,
    )

    rng = [(i, 10 + (i % 7), 100 + 10 * (i % 7) + (i % 3)) for i in range(60)]
    rng.append((60, 16, 101))  # qty high where price says low: joint outlier
    df = spark.createDataFrame(rng, ["rid", "qty", "price"])
    got = {
        r.rid: r.maha2
        for r in mahalanobis_scores(df, ["qty", "price"]).collect()
    }

    x = np.array([[q, p] for _, q, p in rng], dtype=float)
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1) + 1e-9 * np.eye(2)
    inv = np.linalg.inv(cov)
    d = x - mu
    ref = np.einsum("ij,jk,ik->i", d, inv, d)
    for idx, (rid, _, _) in enumerate(rng):
        assert abs(got[rid] - ref[idx]) < 1e-6 * max(1.0, ref[idx]), rid
    assert max(got, key=got.get) == 60

    import pytest as _p

    with _p.raises(ValueError, match="n >= 2"):
        mahalanobis_scores(
            spark.createDataFrame([(1, 2)], ["a", "b"]), ["a", "b"]
        )


def test_mahalanobis_fixed_precision_mode(spark):
    """precision= pins the quadratic-form coefficients (VERDICT r9
    item 2): the scores must equal the hand-computed
    (x−μ)ᵀ P (x−μ) with data-driven means EXACTLY (all inputs integer,
    coefficients dyadic → deterministic IEEE, no tolerance), and a
    wrong-shaped matrix must raise."""
    import numpy as np

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        mahalanobis_scores,
    )

    rows = [(i, 3 + (i % 5), 10 + 7 * (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "a", "b"])
    P = [[0.25, 0.125], [0.125, 0.5]]  # dyadic SPD
    got = {
        r.rid: r.maha2
        for r in mahalanobis_scores(df, ["a", "b"], precision=P).collect()
    }

    x = np.array([[a, b] for _, a, b in rows], dtype=float)
    n = float(len(rows))
    mu = [float(x[:, 0].sum()) / n, float(x[:, 1].sum()) / n]
    for idx, (rid, a, b) in enumerate(rows):
        c = [float(a) - mu[0], float(b) - mu[1]]
        # same left-associated (i, j) fold order as the operator
        ref = 0.0
        for i in range(2):
            for j in range(2):
                ref = ref + P[i][j] * c[i] * c[j]
        assert got[rid] == ref, rid  # bit-exact, no tolerance

    import pytest as _p

    with _p.raises(ValueError, match="precision must be"):
        mahalanobis_scores(df, ["a", "b"], precision=[[1.0]])


def test_maha_registered_precision_matrix_is_spd_dyadic():
    """The registered fixed precision matrix: symmetric, positive
    definite (it's a diagonally-rescaled KMS kernel), and every entry
    an exact dyadic rational (round-trips repr and is a power-of-two
    multiple)."""
    import numpy as np

    from automated_batch_data_pipeline_nyc_spark.suite.stats import _MAHA_PRECISION

    P = np.asarray(_MAHA_PRECISION)
    assert P.shape == (4, 4)
    assert (P == P.T).all()
    assert (np.linalg.eigvalsh(P) > 0).all()
    for row in _MAHA_PRECISION:
        for v in row:
            m, e = __import__("math").frexp(v)
            # dyadic rational with a tiny mantissa: m * 2^e, m in {0.5}
            assert m == 0.5 and float(repr(v)) == v


def test_hll_overlap_accuracy_and_identity(spark):
    """Inclusion–exclusion overlap from HLL partials: within 5% of the
    exact overlap on a known-overlap fixture, and est_overlap always
    equals est_a + est_b − est_union by construction."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        hll_overlap_estimate,
        hll_partial_sketches,
    )

    rows = [("a", i) for i in range(2000)] + [("b", i) for i in range(1000, 4000)]
    df = spark.createDataFrame(rows, ["lab", "uid"])  # exact overlap: 1000
    partials = hll_partial_sketches(df, ["lab"], "uid", lg_k=12)
    r = hll_overlap_estimate(partials, "lab", "a", "b").collect()[0]
    assert abs(r.est_overlap - (r.est_a + r.est_b - r.est_union)) < 1e-6
    assert abs(r.est_overlap - 1000) / 1000 < 0.05
    assert abs(r.est_union - 4000) / 4000 < 0.05


def test_bfs_hops_vs_python_reference(spark):
    """bfs_hops vs a pure-Python BFS on a graph with every interesting
    shape: two components (only one seeded), a cycle (each node labeled
    at its min distance, not its revisit distance), a node reachable by
    two paths of different length (min wins), an isolated seed (hops 0,
    no neighbors), and a chain long enough to be cut off by max_hops."""
    from collections import deque

    from automated_batch_data_pipeline_nyc_spark.operators.graph import bfs_hops

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain from seed 1
        (1, 10), (10, 11), (11, 3),               # alt path to 3 (longer)
        (20, 21), (21, 22), (22, 20),             # cycle, seeded at 20
        (40, 41),                                 # unseeded component
    ]
    seeds = [1, 20, 30]                           # 30 is isolated

    def ref_bfs(es, ss, max_hops):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {s: 0 for s in ss}
        q = deque(ss)
        while q:
            v = q.popleft()
            if dist[v] == max_hops:
                continue
            for u in adj.get(v, ()):
                if u not in dist:
                    dist[u] = dist[v] + 1
                    q.append(u)
        return dist

    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    sdf = spark.createDataFrame([(s,) for s in seeds], ["node"])
    for max_hops in (0, 1, 3, 6):
        got = {
            r.node: r.hops
            for r in bfs_hops(sdf, edf, max_hops=max_hops).collect()
        }
        assert got == ref_bfs(edges, seeds, max_hops), f"max_hops={max_hops}"
    # shape assertions pinned once by hand
    full = ref_bfs(edges, seeds, 6)
    assert full[3] == 2          # min of the 2-hop and 3-hop paths
    assert full[30] == 0         # isolated seed present at distance 0
    assert 40 not in full        # unseeded component never labeled
    assert 6 not in ref_bfs(edges, seeds, 4) and full[6] == 5

    import pytest as _p

    with _p.raises(ValueError, match="max_hops must be"):
        bfs_hops(sdf, edf, max_hops=-1)


def test_poisson_bootstrap_validation(spark):
    from automated_batch_data_pipeline_nyc_spark.operators.sampling import (
        poisson_bootstrap_ci,
        poisson_bootstrap_means,
    )

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    with pytest.raises(ValueError):
        poisson_bootstrap_means(df, "k", "v", n_replicas=0)
    for bad_alpha in (0.0, 1.0, -0.1):
        with pytest.raises(ValueError):
            poisson_bootstrap_ci(df, "k", "v", alpha=bad_alpha)
    # null values never reach a replica; n_eff is the Poisson mass only
    withnull = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], ["k", "v"]
    )
    reps = poisson_bootstrap_means(withnull, "k", "v", n_replicas=4).collect()
    assert len(reps) == 4
    for r in reps:
        assert r.n_eff >= 0 and (r.mean6 is None or 10.0 <= r.mean6 <= 30.0)


def test_bfs_hops_max_degree_cuts_hub_fanout(spark):
    """Opt-in max_degree (VERDICT r5 item 7) excises the OUT-edges of
    nodes above the degree cap before the walk: the hub stays reachable
    from its low-degree neighbors, but no path routes THROUGH it — the
    exact BFS of the truncated graph."""
    from automated_batch_data_pipeline_nyc_spark.operators.graph import bfs_hops

    # hub 0 connects spokes 1..8; a separate low-degree chain 1-100-101
    edges = [(0, i) for i in range(1, 9)] + [(1, 100), (100, 101)]
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    sdf = spark.createDataFrame([(1,)], ["node"])

    # uncapped: every spoke is 2 hops away via the hub
    full = {r.node: r.hops for r in bfs_hops(sdf, edf, max_hops=4).collect()}
    assert full == {1: 0, 0: 1, 100: 1, 101: 2, **{i: 2 for i in range(2, 9)}}

    # cap below the hub's degree (8): hub reachable at 1 hop (seed's own
    # out-edge survives — seed degree is 2), spokes 2..8 unreachable,
    # the low-degree chain untouched
    capped = {
        r.node: r.hops
        for r in bfs_hops(sdf, edf, max_hops=4, max_degree=3).collect()
    }
    assert capped == {1: 0, 0: 1, 100: 1, 101: 2}

    import pytest as _p

    with _p.raises(ValueError, match="max_degree must be"):
        bfs_hops(sdf, edf, max_degree=0)


def test_sorted_array_rank_matches_bisect(spark):
    """util.sorted_array_rank == bisect_left on random sorted arrays,
    across the small-array fast path, the sqrt-decomposition path, and
    boundary lengths around the stride math; NULL arrays rank NULL."""
    import bisect
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from automated_batch_data_pipeline_nyc_spark.operators.util import sorted_array_rank

    rng = random.Random(7)
    for max_len in (1, 2, 15, 16, 17, 63, 64, 100, 255, 1023):
        cuts = sorted(rng.uniform(0, 100) for _ in range(max_len))
        # probe below, above, between, and exactly ON cut values
        # (rank counts strictly-less cuts, i.e. bisect_left)
        probes = (
            [-1.0, 101.0]
            + [rng.uniform(0, 100) for _ in range(20)]
            + [cuts[rng.randrange(max_len)] for _ in range(5)]
        )
        rows = [(float(p), cuts) for p in probes] + [(50.0, None)]
        schema = T.StructType(
            [
                T.StructField("v", T.DoubleType()),
                T.StructField("cuts", T.ArrayType(T.DoubleType())),
            ]
        )
        df = spark.createDataFrame(rows, schema)
        out = df.select(
            "v",
            "cuts",
            sorted_array_rank(F.col("cuts"), F.col("v"), max_len).alias("r"),
        ).collect()
        for row in out:
            if row.cuts is None:
                assert row.r is None, f"max_len={max_len}: NULL array"
            else:
                expect = bisect.bisect_left(cuts, row.v)
                assert row.r == expect, (max_len, row.v, row.r, expect)
