"""Reference-implementation pins for the round-5 analytics battery.

The DuckDB oracle already hash-verifies these queries end to end at two
scale factors; these tests pin the MATH itself against independent
pure-Python / numpy reimplementations on the smoke fixture, so an
oracle-SQL transcription error can't silently encode the same bug on
both sides (the double-entry-bookkeeping failure mode).
"""
from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from automated_batch_data_pipeline_nyc_spark.operators import tokenize as tk
from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

from .conftest import SF_SMOKE


def _rows(spark, name):
    return [r.asDict() for r in QUERIES[name].spark(spark, SF_SMOKE).collect()]


def test_cusum_matches_numpy_reference(spark):
    import duckdb

    daily = duckdb.sql(
        f"""
        SELECT event_type, date_trunc('day', ts) AS day,
          COUNT(*) AS x
        FROM '{SF_SMOKE}/events.parquet'
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    by_type: dict[str, list[tuple]] = {}
    for et, day, x in daily:
        by_type.setdefault(et, []).append((day, x))
    expected = {}
    for et, series in by_type.items():
        xs = np.array([x for _, x in series], dtype=np.int64)
        n, total = len(xs), int(xs.sum())
        s = n * np.cumsum(xs) - (np.arange(1, n + 1)) * total
        k = int(np.argmax(np.abs(s)))  # first max = earliest-day tie-break
        expected[et] = (
            series[k][0].strftime("%Y-%m-%d"),
            int(s[k]),
            int(abs(s[k])),
            n,
            total,
        )
    got = {r["event_type"]: r for r in _rows(spark, "cusum_changepoint_daily")}
    assert set(got) == set(expected)
    for et, (day, s_raw, s_abs, n, total) in expected.items():
        r = got[et]
        assert (r["cp_day"], r["s_scaled"], r["s_abs"], r["n_days"],
                r["total_events"]) == (day, s_raw, s_abs, n, total)


def test_cusum_detects_known_level_shift(spark):
    """On a synthetic series with a hard level shift, the scaled-CUSUM
    argmax must land exactly on the last pre-shift index."""
    xs = [10] * 8 + [50] * 6
    n, total = len(xs), sum(xs)
    pre = np.cumsum(xs)
    s = n * pre - np.arange(1, n + 1) * total
    assert int(np.argmax(np.abs(s))) == 7


def test_keyness_matches_pure_python_reference(spark):
    import duckdb

    toks = duckdb.sql(
        f"""
        SELECT doc_id % 2 AS s,
          unnest({tk.space_tokens_sql('lower(text)')}) AS w
        FROM '{SF_SMOKE}/documents.parquet'
        """
    ).fetchall()
    y1: dict[str, int] = {}
    y0: dict[str, int] = {}
    for s, w in toks:
        if w == "":
            continue
        (y1 if s == 1 else y0)[w] = (y1 if s == 1 else y0).get(w, 0) + 1
    n1, n0 = sum(y1.values()), sum(y0.values())
    vocab = {w for w in set(y1) | set(y0) if y1.get(w, 0) + y0.get(w, 0) >= 5}
    ref = {}
    for w in vocab:
        a = 1000 * (y1.get(w, 0) + y0.get(w, 0)) / (n1 + n0)
        d = math.log((y1.get(w, 0) + a) / (n1 + 1000 - y1.get(w, 0) - a)) - \
            math.log((y0.get(w, 0) + a) / (n0 + 1000 - y0.get(w, 0) - a))
        z = d / math.sqrt(1.0 / (y1.get(w, 0) + a) + 1.0 / (y0.get(w, 0) + a))
        ref[w] = (round(d, 6), round(z, 6))
    got = _rows(spark, "keyness_log_odds")
    assert len(got) == min(30, len(ref))
    # the returned rows must carry exactly the reference scores...
    for r in got:
        d6, z6 = ref[r["word"]]
        assert r["delta6"] == pytest.approx(d6, abs=2e-6)
        assert r["z6"] == pytest.approx(z6, abs=2e-6)
    # ...and be the true top-|z| set under the (|z| desc, word) order
    top = sorted(ref.items(), key=lambda kv: (-abs(kv[1][1]), kv[0]))[: len(got)]
    assert [w for w, _ in top] == [r["word"] for r in got]


def test_rolling_corr_matches_numpy_reference(spark):
    import duckdb

    daily = duckdb.sql(
        f"""
        SELECT epoch_us(ts) // 86400000000 AS di,
          COUNT(*) FILTER (WHERE event_type = 'click') AS x,
          COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
        FROM '{SF_SMOKE}/events.parquet'
        WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    lo, hi = daily[0][0], daily[-1][0]
    counts = {di: (x, y) for di, x, y in daily}
    xs = np.array([counts.get(d, (0, 0))[0] for d in range(lo, hi + 1)])
    ys = np.array([counts.get(d, (0, 0))[1] for d in range(lo, hi + 1)])
    got = _rows(spark, "rolling_corr_daily")
    assert len(got) == max(0, len(xs) - 6)
    for i, r in enumerate(got):
        wx, wy = xs[i : i + 7], ys[i : i + 7]
        if wx.std() == 0 or wy.std() == 0:
            assert r["corr7"] is None
        else:
            ref = float(np.corrcoef(wx, wy)[0, 1])
            assert r["corr7"] == pytest.approx(ref, abs=2e-6)
        assert (r["n_click"], r["n_purchase"]) == (int(xs[i + 6]), int(ys[i + 6]))


def test_hhi_matches_numpy_reference(spark):
    import duckdb

    per_supp = duckdb.sql(
        f"""
        SELECT n.n_name, CAST(SUM(
            CAST(l_extendedprice AS DECIMAL(12,2)) *
            (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS rev
        FROM '{SF_SMOKE}/lineitem.parquet' l
        JOIN '{SF_SMOKE}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
        JOIN '{SF_SMOKE}/nation.parquet' n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, l_suppkey
        """
    ).fetchall()
    by_nation: dict[str, list[float]] = {}
    for name, rev in per_supp:
        by_nation.setdefault(name, []).append(rev)
    got = {r["n_name"]: r for r in _rows(spark, "market_concentration_hhi")}
    assert set(got) == set(by_nation)
    for name, revs in by_nation.items():
        shares = np.array(revs) / sum(revs)
        r = got[name]
        assert r["n_suppliers"] == len(revs)
        assert r["hhi"] == pytest.approx(float((shares**2).sum()), abs=2e-6)
        assert r["top_share"] == pytest.approx(float(shares.max()), abs=2e-6)
        # HHI lower bound 1/n (perfect competition), upper bound 1 (monopoly)
        assert 1.0 / len(revs) - 1e-9 <= r["hhi"] <= 1.0 + 1e-9


def test_rfm_segment_partition_is_total_and_disjoint(spark):
    """Every customer lands in exactly one (band, segment) cell and the
    cell counts sum to the distinct-customer total; champion cells must
    be (active, frequent, high) exactly."""
    import duckdb

    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{SF_SMOKE}/orders.parquet'"
    ).fetchone()[0]
    rows = _rows(spark, "rfm_segments")
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        if r["segment"] == "champion":
            assert (r["r_band"], r["f_band"], r["m_band"]) == (
                "active", "frequent", "high")
        if r["segment"] in ("at_risk", "hibernating"):
            assert r["r_band"] == "cold"


def test_ks_drift_matches_numpy_reference(spark):
    """ks_drift_price vs a direct numpy ECDF sup-gap on the raw values —
    and the operator's bucketed two-level prefix scan must agree with
    the unbucketed definition exactly (counts are integers, so ks_stat
    admits an exact-equality check modulo one float division each)."""
    import duckdb

    a, b = (
        np.sort(
            np.array(
                duckdb.sql(
                    f"""
                    SELECT o_totalprice FROM '{SF_SMOKE}/orders.parquet'
                    WHERE o_totalprice IS NOT NULL
                      AND (o_orderdate < TIMESTAMP '1998-01-01') = {cond}
                    """
                ).fetchnumpy()["o_totalprice"]
            )
        )
        for cond in ("TRUE", "FALSE")
    )
    atoms = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, atoms, side="right") / len(a)
    fb = np.searchsorted(b, atoms, side="right") / len(b)
    d_ref = float(np.abs(fa - fb).max())
    r = _rows(spark, "ks_drift_price")[0]
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    assert r["ks_stat"] == pytest.approx(d_ref, abs=1e-12)
    scale = math.sqrt(len(a) * len(b) / (len(a) + len(b)))
    assert r["ks_scaled"] == pytest.approx(scale * d_ref, abs=2e-6)


def test_zipf_fit_matches_numpy_reference(spark):
    """zipf_vocab_fit vs numpy.polyfit on the same (ln rank, ln freq)
    points, ranks tie-broken exactly like the query (freq desc, word)."""
    import duckdb
    from collections import Counter

    texts = duckdb.sql(
        f"SELECT text FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    counts = Counter()
    n_tokens = 0
    for (t,) in texts:
        for w in t.split(" "):
            if w != "":
                counts[w] += 1
                n_tokens += 1
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    lx = np.log(np.arange(1, len(ordered) + 1, dtype=float))
    ly = np.log(np.array([f for _, f in ordered], dtype=float))
    slope, intercept = np.polyfit(lx, ly, 1)
    r2 = float(np.corrcoef(lx, ly)[0, 1] ** 2)
    r = _rows(spark, "zipf_vocab_fit")[0]
    assert (r["n_types"], r["n_tokens"]) == (len(ordered), n_tokens)
    assert r["zipf_slope"] == pytest.approx(float(slope), abs=2e-6)
    assert r["intercept"] == pytest.approx(float(intercept), abs=2e-6)
    assert r["r2"] == pytest.approx(r2, abs=2e-6)
    # corpus-health reading: a token mix drawn per-document is still
    # frequency-skewed enough that the fit slope must be negative
    assert r["zipf_slope"] < 0


def test_poisson_bootstrap_matches_pure_python_reference(spark):
    """bootstrap_revenue_ci vs an independent hashlib/numpy replay of
    the whole draw: md5 uniform -> inverse-CDF Poisson(1) multiplicity
    -> per-replica weighted means -> percentile interval.  Exact
    equality on n_eff/means (integer counts, DECIMAL sums) modulo the
    6dp round; the sanity band pins that the interval actually brackets
    the true mean."""
    import duckdb
    import hashlib
    from decimal import Decimal

    from automated_batch_data_pipeline_nyc_spark.operators.sampling import (
        POISSON1_CDF,
        poisson_bootstrap_means,
    )
    from automated_batch_data_pipeline_nyc_spark.sources import read_parquet

    rows = duckdb.sql(
        f"""
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2))
        FROM '{SF_SMOKE}/orders.parquet' WHERE o_totalprice IS NOT NULL
        """
    ).fetchall()
    n_replicas = 32
    means, sizes = [], []
    for b in range(1, n_replicas + 1):
        sw, swx = 0, Decimal(0)
        for key, x in rows:
            raw = f"42\x1f{key}\x1f{b}".encode()
            h = int(hashlib.md5(raw).hexdigest()[:8], 16)
            u = (h + 0.5) / 2**32
            w = next(
                (k for k, t in enumerate(POISSON1_CDF) if u < t),
                len(POISSON1_CDF),
            )
            sw += w
            swx += w * x
        sizes.append(sw)
        means.append(round(float(swx) / sw, 6))

    reps = poisson_bootstrap_means(
        read_parquet(spark, f"{SF_SMOKE}/orders.parquet"),
        "o_orderkey",
        "o_totalprice",
    ).collect()
    got = {r.replica: r.asDict() for r in reps}
    assert len(got) == n_replicas
    for b in range(1, n_replicas + 1):
        assert got[b]["n_eff"] == sizes[b - 1], b
        assert got[b]["mean6"] == pytest.approx(means[b - 1], abs=2e-6), b

    r = _rows(spark, "bootstrap_revenue_ci")[0]
    assert r["n_replicas"] == n_replicas
    assert r["boot_mean"] == pytest.approx(float(np.mean(means)), abs=2e-6)
    assert r["ci_lo"] == pytest.approx(
        float(np.percentile(means, 2.5)), abs=2e-6
    )
    assert r["ci_hi"] == pytest.approx(
        float(np.percentile(means, 97.5)), abs=2e-6
    )
    # the interval must bracket the full-sample mean on this fixture
    true_mean = float(np.mean([float(x) for _, x in rows]))
    assert r["ci_lo"] < true_mean < r["ci_hi"]
    # Poisson(1) replica sizes concentrate at n +- ~4*sqrt(n)
    n = len(rows)
    assert all(abs(s - n) < 5 * n**0.5 for s in sizes)


def test_auc_matches_brute_force_pair_reference(spark):
    """auc_price_basket_size vs the literal definition: the mean over
    all (positive, negative) pairs of [s+ > s-] + 0.5*[s+ = s-],
    computed O(n^2) on the smoke fixture.  Exact equality modulo one
    float division each (the operator's arithmetic is all-integer)."""
    import duckdb

    rows = duckdb.sql(
        f"""
        WITH lc AS (
          SELECT l_orderkey, COUNT(*) AS nl
          FROM '{SF_SMOKE}/lineitem.parquet' GROUP BY 1)
        SELECT o_totalprice, coalesce(nl, 0) >= 5
        FROM '{SF_SMOKE}/orders.parquet' LEFT JOIN lc
          ON o_orderkey = l_orderkey
        WHERE o_totalprice IS NOT NULL
        """
    ).fetchall()
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum((p > q) + 0.5 * (p == q) for p in pos for q in neg)
    ref = wins / (len(pos) * len(neg))
    r = _rows(spark, "auc_price_basket_size")[0]
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert r["auc"] == pytest.approx(ref, abs=1e-12)
    # the synthetic fixture draws o_totalprice independently of the
    # lineitem count (unlike real TPC-H), so a CORRECT AUC sits near
    # the null 0.5 — discrimination behavior is pinned separately by
    # the perfect/reversed/tied edges in test_rank_sum_auc_edges
    assert 0.4 < r["auc"] < 0.6


def test_rank_sum_auc_edges(spark):
    from pyspark.sql import functions as F

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        rank_sum_auc,
    )

    # perfect separation -> 1.0; reversed -> 0.0; all-tied -> 0.5
    perfect = spark.createDataFrame(
        [(2.0, True), (3.0, True), (0.0, False), (1.0, False)], ["s", "y"]
    )
    assert rank_sum_auc(perfect, "s", F.col("y")).collect()[0].auc == 1.0
    assert (
        rank_sum_auc(perfect, "s", ~F.col("y")).collect()[0].auc == 0.0
    )
    tied = spark.createDataFrame([(5.0, True), (5.0, False)], ["s", "y"])
    assert rank_sum_auc(tied, "s", F.col("y")).collect()[0].auc == 0.5
    # one empty class -> NULL, never a fake number
    onesided = spark.createDataFrame([(1.0, True), (2.0, True)], ["s", "y"])
    r = rank_sum_auc(onesided, "s", F.col("y")).collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (2, 0, None)


def test_poisson_bootstrap_lam_and_overflow_guards(spark):
    """Round-5 verdict item 6 + ADVICE: (a) the λ≠1 rate draws from a
    generated threshold table whose λ=1 instance is bit-identical to
    the frozen oracle constants; (b) a value overflowing DECIMAL(12,2)
    is excluded entirely instead of counting in n_eff with a NULL
    contribution (which silently biased means low)."""
    import hashlib

    from automated_batch_data_pipeline_nyc_spark.operators.sampling import (
        POISSON1_CDF,
        poisson_bootstrap_means,
        poisson_cdf,
    )

    # (a) generator reproduces the frozen λ=1 literals bit-for-bit
    assert poisson_cdf(1.0)[: len(POISSON1_CDF)] == POISSON1_CDF
    with pytest.raises(ValueError, match="lam"):
        poisson_cdf(0.0)
    with pytest.raises(ValueError, match="tail_eps"):
        poisson_cdf(1.0, tail_eps=0.0)

    # λ=2: exact replay of the draw against the generated table
    cdf2 = poisson_cdf(2.0)
    data = [(f"k{i}", float(100 + i)) for i in range(60)]
    df = spark.createDataFrame(data, "k string, x double")
    got = {
        r.replica: (r.n_eff, r.mean6)
        for r in poisson_bootstrap_means(
            df, "k", "x", n_replicas=4, lam=2.0
        ).collect()
    }
    for b in range(1, 5):
        sw, swx = 0, 0.0
        for key, x in data:
            h = int(
                hashlib.md5(f"42\x1f{key}\x1f{b}".encode()).hexdigest()[:8],
                16,
            )
            u = (h + 0.5) / 2**32
            w = next((k for k, t in enumerate(cdf2) if u < t), len(cdf2))
            sw += w
            swx += w * x
        assert got[b][0] == sw, b
        assert got[b][1] == pytest.approx(round(swx / sw, 6), abs=2e-6), b

    # (b) an out-of-DECIMAL(12,2)-range value vanishes from BOTH n_eff
    # and the mean — identical output to the frame without the row
    dirty = spark.createDataFrame(
        data + [("whale", 1.0e14)], "k string, x double"
    )
    clean = {
        r.replica: (r.n_eff, r.mean6)
        for r in poisson_bootstrap_means(df, "k", "x", n_replicas=4).collect()
    }
    guarded = {
        r.replica: (r.n_eff, r.mean6)
        for r in poisson_bootstrap_means(
            dirty, "k", "x", n_replicas=4
        ).collect()
    }
    assert guarded == clean


def test_chi2_independence_matches_reference(spark):
    """chi2_independence vs a pure-Python chi-square on a hand-built
    DEPENDENT table (the word-soup fixture carries no signal, so
    discrimination is pinned here): exact equality through the same
    6dp-term rounding, plus dof/Cramer's V closed forms."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        chi2_independence,
    )

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 5 + [("b", "y")] * 25
        + [("c", "x")] * 12 + [("c", "y")] * 12
    )
    df = spark.createDataFrame(rows, ["u", "v"])
    got = chi2_independence(df, "u", "v").collect()[0]

    from collections import Counter

    obs = Counter(rows)
    n = len(rows)
    ra = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    chi2 = round(
        sum(
            round((o - ra[a] * cb[b] / n) ** 2 / (ra[a] * cb[b] / n), 6)
            for (a, b), o in obs.items()
        ),
        6,
    )
    assert got["n"] == n
    assert (got["n_a"], got["n_b"]) == (3, 2)
    assert got["dof"] == 2
    assert got["chi2_6"] == pytest.approx(chi2, abs=2e-6)
    v = round((chi2 / (n * min(3 - 1, 2 - 1))) ** 0.5, 6)
    assert got["cramers_v6"] == pytest.approx(v, abs=2e-6)
    # independent margins => statistic near zero
    indep = [("a", "x")] * 20 + [("a", "y")] * 20 + [("b", "x")] * 10 + [
        ("b", "y")
    ] * 10
    z = chi2_independence(
        spark.createDataFrame(indep, ["u", "v"]), "u", "v"
    ).collect()[0]
    assert z["chi2_6"] == pytest.approx(0.0, abs=1e-9)


def test_autocorrelation_matches_numpy_reference(spark):
    """autocorrelation vs the direct numpy ACF (full-series mean/var
    normalization) on a seasonal-plus-trend series — and a white-noise
    sanity: |r_k| small without structure."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        autocorrelation,
    )

    xs = [
        round(100 + 10 * ((i % 7) - 3) + 0.25 * i + 5 * ((i * 37) % 11 - 5), 2)
        for i in range(120)
    ]
    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "i long, x double"
    )
    got = {
        r.lag: (r.n_pairs, r.acf6)
        for r in autocorrelation(df, "i", "x", max_lag=10).collect()
    }
    arr = np.array(xs)
    m = arr.mean()
    den = ((arr - m) ** 2).sum()
    for k in range(1, 11):
        num = ((arr[:-k] - m) * (arr[k:] - m)).sum()
        assert got[k][0] == len(xs) - k
        assert got[k][1] == pytest.approx(round(num / den, 6), abs=2e-6), k
    # weekly seasonality shows as a positive r7 spike above r1..r3
    assert got[7][1] > max(got[1][1], got[2][1], got[3][1])
    with pytest.raises(ValueError, match="max_lag"):
        autocorrelation(df, "i", "x", max_lag=0)


def test_trimmed_mean_matches_sorted_reference(spark):
    """trimmed_mean (histogram count algebra, bucketed prefix scan) vs
    the straightforward sort-and-slice on data with heavy ties,
    negative values, a group smaller than 1/trim_frac, and an outlier
    the trim must remove."""
    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        trimmed_mean,
    )

    data = {
        "g1": [10.0] * 20 + [20.0] * 20 + [1e6],   # outlier trimmed away
        "g2": [float(v) for v in range(-50, 50)],
        "g3": [5.0, 7.0, 9.0],                      # k_trim = 0 -> plain mean
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r.g: r.asDict() for r in trimmed_mean(df, "g", "v", 0.1).collect()}
    for g, vs in data.items():
        n = len(vs)
        k = int(0.1 * n)
        kept = sorted(vs)[k : n - k]
        assert got[g]["n"] == n
        assert got[g]["k_trim"] == k
        assert got[g]["trimmed_mean6"] == pytest.approx(
            round(sum(kept) / len(kept), 6), abs=2e-6
        ), g
    assert got["g1"]["trimmed_mean6"] < 100  # outlier really gone
    with pytest.raises(ValueError, match="trim_frac"):
        trimmed_mean(df, "g", "v", 0.5)


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    """KMV: exact when the group has fewer than k keys; above k the
    estimate replays bit-for-bit against a hashlib reference of the
    same (k-1)/h_(k) draw and lands within the ~1/sqrt(k-2) relative
    error band of the truth."""
    import hashlib

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        kmv_distinct,
    )

    small = [("s", f"u{i}") for i in range(40)]
    big = [("b", f"user{i}") for i in range(5000)] * 2  # dupes collapse
    df = spark.createDataFrame(small + big, ["g", "k"])
    got = {r.g: r.asDict() for r in kmv_distinct(df, "g", "k", k=64).collect()}
    assert got["s"]["n_kept"] == 40
    assert got["s"]["kmv_estimate6"] == 40.0     # exact below k

    def u_of(key: str) -> float:
        h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
        return (h + 0.5) / 2**32

    hs = sorted(u_of(f"user{i}") for i in range(5000))
    expect = round(63.0 / hs[63], 6)
    assert got["b"]["n_kept"] == 64
    assert got["b"]["kmv_estimate6"] == pytest.approx(expect, abs=2e-6)
    assert abs(got["b"]["kmv_estimate6"] - 5000) / 5000 < 0.5
    with pytest.raises(ValueError, match="k must be"):
        kmv_distinct(df, "g", "k", k=1)


def test_dp_noisy_counts_mechanism_replay(spark):
    """dp_noisy_counts: the Laplace draw replays exactly from hashlib;
    the noise magnitude matches the 1/eps scale (mean |noise| = 1/eps
    in expectation); same seed = same release, new seed = new draw."""
    import hashlib
    import math

    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        dp_noisy_counts,
    )

    rows = [(f"t{i % 17}",) for i in range(900)]
    df = spark.createDataFrame(rows, ["g"])
    got = {r.g: r.asDict() for r in dp_noisy_counts(df, "g", 0.5, 7).collect()}
    from collections import Counter

    truth = Counter(g for (g,) in rows)
    for g, c in truth.items():
        u = (
            int(hashlib.md5(f"7\x1f{g}".encode()).hexdigest()[:8], 16) + 0.5
        ) / 2**32
        noise = -2.0 * math.copysign(1.0, u - 0.5) * math.log(
            1.0 - 2.0 * abs(u - 0.5)
        )
        assert got[g]["true_count"] == c
        assert got[g]["noise6"] == pytest.approx(round(noise, 6), abs=2e-6)
        assert got[g]["noisy_count6"] == pytest.approx(
            round(c + noise, 6), abs=2e-6
        )
    again = {r.g: r.noisy_count6 for r in dp_noisy_counts(df, "g", 0.5, 7).collect()}
    assert again == {g: d["noisy_count6"] for g, d in got.items()}
    other = {r.g: r.noisy_count6 for r in dp_noisy_counts(df, "g", 0.5, 8).collect()}
    assert other != again
    with pytest.raises(ValueError, match="epsilon"):
        dp_noisy_counts(df, "g", 0.0)


def test_diff_in_diff_recovers_planted_effect(spark):
    """diff_in_diff on a hand-built panel with a known +4.0 treatment
    effect layered over a shared +1.0 time trend and a level gap —
    the estimator must return exactly the planted effect (the TPC-H
    fixture is signal-free, so recovery is pinned here)."""
    from automated_batch_data_pipeline_nyc_spark.operators.quality import (
        diff_in_diff,
    )

    rows = (
        [(True, False, 10.0)] * 50          # T pre: mean 10
        + [(True, True, 15.0)] * 50         # T post: +1 trend +4 effect
        + [(False, False, 20.0)] * 80       # C pre: mean 20
        + [(False, True, 21.0)] * 80        # C post: +1 trend only
    )
    df = spark.createDataFrame(rows, "t boolean, p boolean, y double")
    r = diff_in_diff(df, F.col("t"), F.col("p"), "y").collect()[0]
    assert (r.n_t_pre, r.n_t_post, r.n_c_pre, r.n_c_post) == (50, 50, 80, 80)
    assert r.mean_t_pre6 == 10.0 and r.mean_c_post6 == 21.0
    assert r.did6 == pytest.approx(4.0, abs=1e-9)


def test_normal_cdf_and_benjamini_hochberg_reference(spark):
    """normal_cdf within the A&S 7.1.26 error bound of math.erf's exact
    Phi; benjamini_hochberg equals the classic step-up procedure on a
    fixed p-value table (including the monotone running-min clamp)."""
    import math

    from automated_batch_data_pipeline_nyc_spark.operators.stats import (
        benjamini_hochberg,
        normal_cdf,
    )

    zs = [-3.5, -1.0, -0.1, 0.0, 0.5, 1.644854, 2.5, 4.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {r.z: r.phi for r in df.select("z", normal_cdf(F.col("z")).alias("phi")).collect()}
    for z in zs:
        exact = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
        assert abs(got[z] - exact) < 1.6e-7, z

    ps = [("a", 0.003), ("b", 0.04), ("c", 0.041), ("d", 0.2), ("e", 0.9)]
    tests = spark.createDataFrame(ps, "k string, p double")
    out = {r.k: r.asDict() for r in benjamini_hochberg(tests, "k", "p").collect()}
    m = len(ps)
    raw = sorted(ps, key=lambda kv: kv[1])
    # classic step-up: adj(i) = min_{j>=i} p(j)*m/j, clamped at 1
    adj = {}
    run = 1.0
    for i in range(m, 0, -1):
        run = min(run, raw[i - 1][1] * m / i)
        adj[raw[i - 1][0]] = round(min(1.0, run), 6)
    for k, _ in ps:
        assert out[k]["p_bh6"] == pytest.approx(adj[k], abs=2e-6), k
        assert out[k]["reject"] == (adj[k] <= 0.05)
    with pytest.raises(ValueError, match="alpha"):
        benjamini_hochberg(tests, "k", "p", alpha=1.5)
