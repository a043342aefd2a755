"""Bench harness: time every suite query, print machine-parseable JSON.

Usage: ``python bench.py`` (driver contract)

- data:    $SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
- master:  local[$SPARK_GRAFT_CPUS] (default 32)
- output:  the full per-query JSON object (with the ~150-entry
  "queries" timing map) goes to STDERR; stdout carries the same full
  line FIRST and then ends with ONE SHORT summary line
  {"metric": "suite_wall_seconds", "value": <total>,
   "value_calibrated": <total * STEADY_ANCHOR_S / calib_s>,
   "value_production": <total minus verification-only forms>,
   "unit": "sec", "queries": {name: sec, ...all timed queries},
   "sf": <sf>, "calib_s": <this run's steady probe>,
   "n_runs": 1, "picked_run": 1, "n_queries": N, "n_failed": N,
   "slowest": {...top5}}
  One run, in-process: the host-speed probe is sampled mid-run and
  after the last query, and calib_s is the faster sample, so the
  normalization divides by the same run's steady probe (see
  STEADY_ANCHOR_S).
  The driver keeps only a ~2 KB tail of stdout, which truncated round
  2's single 4 KB line and lost the head "value" field — the short
  LAST line always survives tail capture and parses on its own.

Each query is executed to completion with the noop sink (full pipeline
runs — scan, shuffle, aggregate — but nothing is collected to the
driver, so the timing measures the engine, not result transfer).
Failures are recorded as -1 for that query instead of killing the run.
``time_query`` is that measurement; ``--sweep`` and
``tools/profile_query.py`` time through it too.

Three suite entries are deliberately NOT timed: the unblocked O(n^2)
forms that exist purely as small-sf oracle cross-checks for their
production twins (see the suite docs for dedup_ngram_jaccard /
dedup_embedding_cosine / containment_pairs_blocked vs *_prefix /
*_lsh).  They are listed in the output under "excluded" so the
omission is visible, not silent.  Five further timed entries are
verification-only forms reported separately ("verification_forms" /
"value_production").
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

#: The steady probe of the sf0.1 record in BENCH_full.json when the
#: cold-probe anchor was retired (its ``calib_steady_s``, the faster
#: warm sample).  value_calibrated = value * (STEADY_ANCHOR_S /
#: calib_s): >1x means the run's host was slower than that host, and
#: query times scale with it.
STEADY_ANCHOR_S = 0.239


def time_query(spark, name: str, sf_dir: str) -> float:
    """Wall seconds to run suite query ``name`` on ``sf_dir`` to
    completion with the noop sink; -1.0 (and a stderr line) if it
    fails, so one broken query never kills a measurement run."""
    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

    t0 = time.perf_counter()
    try:
        QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:
        print(
            f"bench: {name}@{os.path.basename(sf_dir)} FAILED: {exc!r}",
            file=sys.stderr,
        )
        return -1.0
    return time.perf_counter() - t0


def _warm_session(spark, sf_dirs: list[str]) -> None:
    """One warm-up recipe for every measurement path (_run, _sweep and
    tools/profile_query.py): the block has been re-tuned three times
    (r5 added the Arrow pool, r10 the parquet/cache/checkpoint
    machinery), and a tuning applied to one path but not the other
    skews whichever column that path measures cold.

    - JVM/codegen path, so the first timed query doesn't absorb
      session bring-up;
    - the Python/Arrow worker pool: the first mapInPandas stage
      otherwise absorbs ~2-3 s of daemon spin-up, charging it to
      whichever query happens to run first after a window rotation
      (round 5 measured 3.0 s first run vs 0.7 s steady-state);
    - the first-REAL-query machinery: parquet reader/footer paths, the
      cache manager (persist), and the localCheckpoint RDD path each
      initialize lazily — round 10 measured window slot 1 absorbing
      ~6 s of these one-time costs at sf0.1 (8.3 s cold vs 1.8 s warm
      for the same query).  Warmed on each sf dir's 5-row region table
      so timings compare on query cost, not position.
    """
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(1_000).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for d in sf_dirs:
        warm = spark.read.parquet(os.path.join(d, "region.parquet"))
        warm.persist().count()
        warm.localCheckpoint(eager=True).count()
        warm.unpersist()


def _run() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from automated_batch_data_pipeline_nyc_spark.session import get_session
    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_session("automated_batch_data_pipeline_nyc_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_session(spark, [sf_dir])

    # Host-speed probe: a fixed CPU-bound workload timed on the warmed
    # session.  This host's effective CPU allocation varies run-to-run
    # (round-4 measured 2-8x inflation from outside load), so
    # cross-round query-time comparisons should be read relative to
    # calib_s, not as absolutes.
    def _calib_compute() -> float:
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            # double accumulators: ANSI-safe (a bigint sum of 2e8 64-bit
            # hashes overflows), still one xxhash64 + fma per row
            "sum(cast(xxhash64(id) as double))",
            "sum(cast(id as double) * cast(id as double))",
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Second probe: per-JOB scheduling overhead (round-7 addition).
    # calib_s measures raw compute throughput, but iterative queries
    # (BPE training, BFS, streaming micro-batches) are dominated by
    # Spark job/stage launch latency, which swings independently of CPU
    # speed on shared hosts — round 7 measured the same iterative query
    # at 4 s and 25 s minutes apart while calib_s moved only 1.16x.
    # 20 tiny two-stage jobs isolate that latency: read cross-round
    # swings in job-heavy queries relative to calib_jobs_s, and
    # everything else relative to calib_s.
    def _calib_jobs() -> float:
        t0 = time.perf_counter()
        for _ in range(20):
            spark.range(32, numPartitions=32).selectExpr(
                "id % 4 AS g"
            ).groupBy("g").count().write.format("noop").mode(
                "overwrite"
            ).save()
        return time.perf_counter() - t0

    # Oracle-only O(n^2) cross-check forms; their scale-safe twins
    # (dedup_ngram_jaccard_prefix / dedup_embedding_cosine_lsh /
    # containment_pairs_prefix) are the timed production paths.
    excluded = [
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "containment_pairs_blocked",
    ]

    # Run order PINNED independently of the driver window (r14, VERDICT
    # r13 item 4): QUERIES is window-rotated every round, so iterating
    # it put a fresh set of queries into the JIT-cold head region
    # (slots ~2-14) each rotation and manufactured 2-4 s phantom
    # per-query deltas cross-round (r13: ks_drift_price 3.8 record vs
    # 1.97 warm).  Alphabetical order never changes, so from r14 on the
    # cold region taxes the SAME queries every round and per-query
    # times compare like-for-like across rotations.
    run_list = sorted(n for n in QUERIES if n not in excluded)

    # Sacrificial slot-1 warmup (VERDICT r11 item 4): whichever query
    # runs first absorbs ~5-6 s of first-query codegen/JIT bring-up
    # (janino + whole-stage evaluator compilation) that _warm_session's
    # generic recipe does NOT remove — r11's window rotation moved
    # containment_pairs_prefix into slot 1 and its record read 11.1 s
    # vs 5.9 s out-of-slot, manufacturing the round's apparent worst
    # regression.  Run the slot-1 query ONCE, unrecorded, so its timed
    # execution sits in the same JIT-hot regime as every other slot.
    if run_list:
        time_query(spark, run_list[0], sf_dir)

    # The probes run mid-loop and after the last query, both on a
    # JIT-hot session: a host-load shift mid-run shows as two samples
    # that disagree, and the faster one is the run's calib_s.  (A
    # first-shot probe before the loop measures JVM warm-up, ~2x the
    # steady time, and is not taken.)
    midpoint = len(run_list) // 2
    calib_samples: list[float] = []
    calib_jobs_samples: list[float] = []
    timings: dict[str, float] = {}
    for i, name in enumerate(run_list):
        if i == midpoint:
            calib_samples.append(_calib_compute())
            calib_jobs_samples.append(_calib_jobs())
        timings[name] = round(time_query(spark, name, sf_dir), 4)
    calib_samples.append(_calib_compute())
    calib_jobs_samples.append(_calib_jobs())
    record = _record(timings, calib_samples, calib_jobs_samples)
    # warmup_query: the slot-1 absorber, timed only once JIT-hot
    record.update(
        excluded=excluded, sf=sf, warmup_query=run_list[0] if run_list else None
    )
    return record


#: Production-path subtotal (VERDICT r7 item 5): these timed entries
#: exist to cross-verify a production twin rather than as the path a
#: user would run at 100 TB — portable md5-32 signature twins of the
#: engine-hash dedups, single-step/probe verification forms of the
#: iterative clustering ops, and the between-batch O(increment x
#: corpus-candidate) verification shape of incremental dedup.  They
#: stay timed (a regression there is still a regression) but are
#: reported separately so a swing in a verification form cannot drown
#: a regression in a real path, and vice versa.
VERIFICATION_FORMS = [
    "dedup_minhash_portable",   # md5-32 twin of dedup_minhash
    "dedup_simhash_portable",   # md5-32 twin of dedup_simhash
    "kmeans_step_verified",     # one-step twin of embedding_centroids
    "ivf_probe_verified",       # seed-centroid probe shape
    "dedup_incremental_batch",  # between-batch verification shape
    # r12 conversions: these two registered forms now run the
    # portable-hash pipelines end to end (md5-32 2-gram MinHash;
    # rounded-Lloyd quantizer) — the xxhash64 / Spark ML KMeans
    # production paths stay timed via dedup_minhash and pinned by
    # pytest respectively.
    "dedup_minhash_transitive",
    "similarity_ivf_topk",
]


def _record(
    timings: dict[str, float],
    calib_samples: list[float],
    calib_jobs_samples: list[float],
) -> dict:
    """The full bench record from one run's measurements: per-query
    seconds (-1 = failed) and the steady probe samples.  calib_s is
    the fastest probe sample, and every calibrated figure is scaled by
    STEADY_ANCHOR_S / calib_s (None when calib_s is 0)."""
    calib_s = round(min(calib_samples), 3)
    total = sum(t for t in timings.values() if t > 0)
    production_total = total - sum(
        t for n, t in timings.items() if n in VERIFICATION_FORMS and t > 0
    )

    def calibrated(seconds: float) -> float | None:
        if calib_s <= 0:
            return None
        return round(seconds * STEADY_ANCHOR_S / calib_s, 3)

    return {
        "metric": "suite_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "value_calibrated": calibrated(total),
        "queries": timings,
        "calib_s": calib_s,
        # Per-job scheduling-latency probe (20 tiny two-stage jobs):
        # compare across rounds to attribute swings in iterative/
        # streaming queries to scheduler latency rather than plan
        # changes.
        "calib_jobs_s": round(min(calib_jobs_samples), 3),
        # Both samples (mid-run, end of run), so a mid-run load shift
        # is visible in the record itself.
        "calib_samples": [round(s, 3) for s in calib_samples],
        "calib_jobs_samples": [round(s, 3) for s in calib_jobs_samples],
        # Production-path subtotal: full total minus the verification-
        # only forms listed under "verification_forms".
        "value_production": round(production_total, 3),
        "value_production_calibrated": calibrated(production_total),
        "verification_forms": VERIFICATION_FORMS,
        "n_runs": 1,
        "picked_run": 1,
    }


# ===========================================================================
# Family scale sweep (VERDICT r10 item 5): per-family wall-time scaling
# exponents across sf0.001 / sf0.01 / sf0.1 / derived sf0.5.
# ===========================================================================

#: Representative production-path queries per family, with the table
#: whose row count drives each query's work (exponents are computed
#: against ROWS, not sf labels — documents holds 500 rows at BOTH
#: sf0.001 and sf0.01, so a label-based exponent would divide by
#: log(1)).
SWEEP_FAMILIES: dict[str, list[tuple[str, str]]] = {
    "dedup": [
        ("dedup_exact", "documents"),
        ("dedup_minhash", "documents"),
        ("dedup_minhash_transitive", "documents"),
        ("dedup_simhash", "documents"),
        ("dedup_ngram_jaccard_prefix", "documents"),
        ("dedup_ngram_jaccard_freq", "documents"),
        ("dedup_span_removal", "documents"),
        ("dedup_incremental_batch", "documents"),
        ("dedup_pipeline_transitive", "documents"),
        ("url_canonical_dedup", "documents"),
    ],
    "similarity": [
        ("similarity_topk", "embeddings"),
        ("similarity_lsh_topk", "embeddings"),
        ("similarity_ivf_topk", "embeddings"),
        ("dedup_embedding_cosine_lsh", "embeddings"),
        ("semdedup_prune", "embeddings"),
        ("knn_join_batch", "embeddings"),
        ("embedding_centroids", "embeddings"),
        ("embedding_pca_project", "embeddings"),
    ],
    "graph": [
        ("dedup_components", "documents"),
        ("dedup_graph_kcore", "documents"),
        ("dedup_graph_triangles", "documents"),
        ("graph_bfs_hops", "documents"),
        ("pagerank_order_part", "lineitem"),
    ],
    "text": [
        ("text_token_stats", "documents"),
        ("text_quality_scores", "documents"),
        ("text_language_id", "documents"),
        ("quality_classifier_scores", "documents"),
        ("bm25_search", "documents"),
        ("bpe_encode_tokens", "documents"),
        ("lm_perplexity_scores", "documents"),
        ("text_normalize_nfc", "documents"),
        ("html_text_extraction", "documents"),
        ("inverted_index_postings", "documents"),
    ],
    "relational": [
        ("pricing_summary", "lineitem"),
        ("sql_revenue_by_nation", "lineitem"),
        ("join_broadcast_dims", "customer"),
        ("nation_year_profit", "lineitem"),
        ("window_moving_avg", "events"),
        ("sessionize_events", "events"),
        ("cube_order_counts", "orders"),
    ],
    "streaming": [
        ("streaming_hourly_counts", "events"),
        ("streaming_dedup_counts", "events"),
        ("streaming_ewma", "events"),
    ],
}

#: A family whose steepest per-query exponent (largest leg, rows>=2x)
#: exceeds this is flagged super-linear.  All swept paths declare
#: ~linear (at most n log n) complexity; small-scale measurements also
#: carry fixed per-job overhead that biases exponents DOWN, so a
#: measured exponent above 1.3 means real super-linear growth.
SWEEP_SUPERLINEAR_FLAG = 1.3

#: Families that additionally run the derived-sf1 leg when the sweep is
#: invoked with ``--sf1`` (VERDICT r11 item 6, widened r13 per VERDICT
#: r12 item 5): graph+dedup carry the largest constants; text and
#: similarity carry the steepest sf0.5 exponents (0.77-0.83 — sublinear
#: but measured thinnest exactly where constants grow fastest), so the
#: extrapolation gets a real sf1 data point for all four.
SWEEP_SF1_FAMILIES = {"graph", "dedup", "text", "similarity"}

_SWEEP_MARK_BEGIN = "<!-- SWEEP:BEGIN (generated by bench.py --sweep) -->"
_SWEEP_MARK_END = "<!-- SWEEP:END -->"


def _table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(sf_dir, f"{table}.parquet")).num_rows


def _sweep(sf_dirs: list[str], sf1_dir: str | None = None) -> dict:
    """Run every family query at every sf dir, compute per-leg
    row-scaling exponents, return the full record (also rewrites the
    marked section of SCALING.md).  ``sf1_dir`` (``--sf1``) extends the
    curve one more leg for SWEEP_SF1_FAMILIES only."""
    import math

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from automated_batch_data_pipeline_nyc_spark.session import get_session

    spark = get_session("automated_batch_data_pipeline_nyc_spark-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    def fam_dirs(fam: str) -> list[str]:
        if sf1_dir and fam in SWEEP_SF1_FAMILIES:
            return sf_dirs + [sf1_dir]
        return sf_dirs

    all_dirs = sf_dirs + ([sf1_dir] if sf1_dir else [])
    # warm EVERY measured dir incl. the sf1 leg — a cold per-dir init
    # inside the timed window would inflate exactly the largest-leg
    # exponent the sweep exists to measure
    _warm_session(spark, all_dirs)
    times: dict[str, dict[str, float]] = {}
    rows: dict[str, dict[str, int]] = {}
    for fam, members in SWEEP_FAMILIES.items():
        for qname, table in members:
            times[qname] = {}
            rows[qname] = {}
            for d in fam_dirs(fam):
                rows[qname][d] = _table_rows(d, table)
    for d in all_dirs:
        for fam, members in SWEEP_FAMILIES.items():
            if d not in fam_dirs(fam):
                continue
            for qname, _ in members:
                dt = time_query(spark, qname, d)
                times[qname][d] = round(dt, 3)
                print(f"sweep: {qname}@{os.path.basename(d)} {dt:.2f}s",
                      file=sys.stderr)

    # per-query exponent on each leg with a real row increase
    exps: dict[str, dict[str, float]] = {}
    for qname, per_sf in times.items():
        exps[qname] = {}
        q_dirs = list(per_sf)
        for d1, d2 in zip(q_dirs, q_dirs[1:]):
            n1, n2 = rows[qname][d1], rows[qname][d2]
            t1, t2 = per_sf[d1], per_sf[d2]
            if n2 >= 2 * n1 and t1 > 0 and t2 > 0:
                leg = f"{os.path.basename(d1)}->{os.path.basename(d2)}"
                exps[qname][leg] = round(
                    math.log(t2 / t1) / math.log(n2 / n1), 3
                )

    fam_summary = {}
    for fam, members in SWEEP_FAMILIES.items():
        last_leg_exps = []
        for qname, _ in members:
            if exps[qname]:
                last_leg_exps.append(exps[qname][sorted(exps[qname])[-1]])
        last_leg_exps.sort()
        med = last_leg_exps[len(last_leg_exps) // 2] if last_leg_exps else None
        worst = max(last_leg_exps) if last_leg_exps else None
        fam_summary[fam] = {
            "median_exponent": med,
            "max_exponent": worst,
            "superlinear": bool(
                worst is not None and worst > SWEEP_SUPERLINEAR_FLAG
            ),
            "totals": {
                os.path.basename(d): round(
                    sum(t[d] for q, _ in members if (t := times[q])[d] > 0), 2
                )
                for d in fam_dirs(fam)
            },
        }

    record = {
        "metric": "family_scale_sweep",
        "sf_dirs": all_dirs,
        "families": fam_summary,
        "times": times,
        "rows": rows,
        "exponents": exps,
        "superlinear_flag_threshold": SWEEP_SUPERLINEAR_FLAG,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "SWEEP.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    _write_sweep_md(record)
    return record


def _write_sweep_md(record: dict) -> None:
    """Rewrite the marked sweep section of SCALING.md."""
    repo = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(repo, "SCALING.md")
    sf_names = [os.path.basename(d) for d in record["sf_dirs"]]
    lines = [
        _SWEEP_MARK_BEGIN,
        "",
        "## Family scale sweep (regenerate: `python bench.py --sweep`)",
        "",
        "Wall seconds per family at each scale (sum over the family's",
        "representative production queries; noop sink, warmed session) and",
        "the per-query wall-time scaling exponent alpha on the largest leg",
        "(t ~ rows^alpha, computed against the DRIVING TABLE's row counts —",
        "documents is 500 rows at both sf0.001 and sf0.01, so that leg is",
        "skipped for document families).  The sf0.5/sf1 fixtures are derived",
        "from sf0.1 by tools/make_sf_scale.py (5/10 disjoint replicas:",
        "disjoint-vocabulary documents, sign-flipped embeddings, key-shifted",
        "facts+dims), preserving per-replica workload character so the",
        "exponent measures the ENGINE, not replication artifacts (the r12",
        "sf1 leg caught the pre-r12 vocab-bijection variant doing exactly",
        "that: one shared 31-word gram space made cross-replica candidate",
        "pairs grow ~K^2 and read as alpha~2 — see make_sf_scale.py).",
        "The sf1 column runs the two heaviest families only (--sf1,",
        "SWEEP_SF1_FAMILIES).  Exponents",
        f"above {record['superlinear_flag_threshold']} flag super-linear growth;"
        " fixed per-job overhead biases small-scale exponents DOWN, so",
        "sub-linear readings mean overhead still dominates, not magic.",
        "Column-order caveat: scales run smallest-first in one session, so",
        "each query's FIRST-ever execution (its own codegen/JIT, ~1-5 s on",
        "the heavy dedup pipelines) lands in the sf0.001 column — that",
        "column overstates steady-state cost and the headline exponents are",
        "the all-warm sf0.1->sf0.5 leg.",
        "",
        "| family | " + " | ".join(f"{n} (s)" for n in sf_names)
        + " | median alpha | max alpha | verdict |",
        "|---|" + "---|" * (len(sf_names) + 3),
    ]
    for fam, s in record["families"].items():
        # families outside SWEEP_SF1_FAMILIES have no sf1 column
        totals = " | ".join(str(s["totals"].get(n, "—")) for n in sf_names)
        verdict = "**SUPER-LINEAR**" if s["superlinear"] else "linear-or-better"
        lines.append(
            f"| {fam} | {totals} | {s['median_exponent']} | "
            f"{s['max_exponent']} | {verdict} |"
        )
    lines += [
        "",
        "Per-query detail (times, rows, per-leg exponents): `SWEEP.json`.",
        "",
        _SWEEP_MARK_END,
    ]
    block = "\n".join(lines)
    md = open(path).read()
    begin = md.find(_SWEEP_MARK_BEGIN)
    end = md.find(_SWEEP_MARK_END, begin)
    if begin != -1 and end != -1:
        md = md[:begin] + block + md[end + len(_SWEEP_MARK_END):]
    else:
        # No (intact) marker pair — a hand edit may have truncated the
        # block.  Drop an orphan BEGIN line if present, then insert a
        # fresh block after the H1 title: the ~10-minute measurement
        # must never die on a doc-formatting wrinkle.
        if begin != -1:
            md = md[:begin] + md[md.find("\n", begin) + 1:]
        nl = md.index("\n", md.index("# ")) + 1
        md = md[:nl] + "\n" + block + "\n" + md[nl:]
    with open(path, "w") as fh:
        fh.write(md)


def _make_summary(result: dict) -> dict:
    """The driver-contract summary line (kept in one function so tests
    pin its fields — notably the full "queries" map, VERDICT r13
    item 2)."""
    failed = sorted(n for n, t in result["queries"].items() if t < 0)
    slowest = dict(
        sorted(
            ((n, t) for n, t in result["queries"].items() if t > 0),
            key=lambda kv: -kv[1],
        )[:5]
    )
    summary = {
        "metric": result["metric"],
        "value": result["value"],
        "value_calibrated": result["value_calibrated"],
        "value_production": result["value_production"],
        "value_production_calibrated": result["value_production_calibrated"],
        "unit": result["unit"],
        # Full per-query seconds map (r14, VERDICT r13 item 2 + the
        # driver contract's "queries" field): the driver's
        # round-over-round per_query and scaling tables populate from
        # the parsed summary line, and with only the top-5 "slowest"
        # both came back empty.
        # Additions-only: every existing summary field is untouched and
        # the timed path is unchanged.
        "queries": {n: round(t, 4) for n, t in result["queries"].items()},
        "sf": result["sf"],
        "calib_s": result["calib_s"],
        "calib_jobs_s": result["calib_jobs_s"],
        "n_runs": result["n_runs"],
        "picked_run": result["picked_run"],
        "n_queries": len(result["queries"]),
        "n_failed": len(failed),
        "failed": failed[:10],
        "slowest": slowest,
    }
    return summary


if __name__ == "__main__":
    if "--sweep" in sys.argv:
        _repo = os.path.dirname(os.path.abspath(__file__))
        dirs = [
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        ]
        import subprocess

        # Derived fixtures carry a generator-version marker (hash of
        # make_sf_scale.py): keying regeneration on isdir() alone let a
        # host with pre-r12 fixtures silently sweep the entangled-vocab
        # artifact the r12 generator change was made to eliminate
        # (ADVICE r12).  On marker mismatch the stale dir is rebuilt.
        import hashlib
        import shutil

        import glob as _glob

        _gen_path = os.path.join(_repo, "tools", "make_sf_scale.py")
        _h = hashlib.sha256(open(_gen_path, "rb").read())
        # fold the SOURCE fixtures into the marker too: regenerated
        # /root/testdata/sf0.1 parquet with an untouched generator is
        # the same stale-derived-data class (round-close review r13)
        for _src in sorted(_glob.glob("/root/testdata/sf0.1/*.parquet")):
            st = os.stat(_src)
            _h.update(f"{_src}:{st.st_size}:{int(st.st_mtime)}".encode())
        _gen_ver = _h.hexdigest()

        def _ensure_derived(path: str, label: str, *gen_args: str) -> None:
            marker = os.path.join(path, ".generator_version")
            if os.path.isdir(path):
                have = None
                if os.path.isfile(marker):
                    have = open(marker).read().strip()
                if have == _gen_ver:
                    return
                print(
                    f"sweep: {label} fixtures stale "
                    f"(generator {str(have)[:12]} != {_gen_ver[:12]}) — "
                    "regenerating", file=sys.stderr,
                )
                shutil.rmtree(path)
            else:
                print(f"sweep: deriving {label} fixtures "
                      "(tools/make_sf_scale.py)", file=sys.stderr)
            subprocess.run(
                [sys.executable, _gen_path, *gen_args], check=True
            )
            with open(marker, "w") as fh:
                fh.write(_gen_ver + "\n")

        derived = "/tmp/spark_graft_scale/sf0.5"
        _ensure_derived(derived, "sf0.5")
        sf1_dir = None
        if "--sf1" in sys.argv:
            sf1_dir = "/tmp/spark_graft_scale/sf1"
            _ensure_derived(sf1_dir, "sf1", "10", sf1_dir)
        record = _sweep(dirs + [derived], sf1_dir=sf1_dir)
        print(json.dumps(
            {"metric": "family_scale_sweep", "families": record["families"]}
        ))
        sys.exit(0)
    result = _run()
    full = json.dumps(result)
    # Full detail: stderr (always) + first stdout line (for direct runs).
    print(full, file=sys.stderr)
    print(full)
    sys.stdout.flush()
    # Persist the complete result object so per-query timings survive the
    # driver's ~2 KB stdout tail capture (VERDICT r3 item 4) — cross-round
    # regression analysis diffs BENCH_full.json, not the truncated stdout.
    # The committed record is an sf0.1 run; a run at any other scale
    # leaves it alone.
    if result["sf"] != 0.1:
        print(
            f"bench: BENCH_full.json not written (sf {result['sf']}, "
            "the committed record is sf0.1)",
            file=sys.stderr,
        )
    else:
        try:
            repo = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(repo, "BENCH_full.json"), "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError as exc:
            print(f"bench: could not write BENCH_full.json: {exc!r}", file=sys.stderr)
    # Short summary LAST on stdout so any tail capture parses it.
    print(json.dumps(_make_summary(result)))
