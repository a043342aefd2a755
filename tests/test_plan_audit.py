"""Suite-WIDE physical-plan invariants (tools/plan_audit.py).

tests/test_plans.py pins individual queries' plan shapes; this module
asserts the three invariants that must hold for EVERY registered query
— so a future registration can't quietly ship a cartesian product, a
row-at-a-time Python stage, or an unbounded single-task window.  The
allowlists below are the complete, deliberate exceptions; growing one
requires editing this file, i.e. a reviewed decision.
"""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

#: Queries allowed to carry Arrow/pandas Python stages: media codecs
#: (binary payloads genuinely need Python's stdlib codecs), Unicode NFC
#: (no JVM-side builtin), the declared grouped-map UDAF shape, and the
#: BLAS partial-Gramian mapInPandas.  Everything else must stay JVM-side.
PYTHON_EVAL_ALLOWED = {
    "binaryfile_decode_fused",
    "embedding_centroids_udaf",
    "embedding_gram_matrix",
    "multimodal_audio_features",
    "multimodal_format_sniff",
    "multimodal_image_decode",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "multimodal_payload_meta",
    "text_normalize_nfc",
}

#: Queries allowed unpartitioned window specs — each runs its window
#: over a PROVABLY BOUNDED frame (stated in the query doc): day spines,
#: dim-sized aggregates, vocabulary tables, n_buckets-row offset scans.
#: The value is the max allowed count, so a refactor that adds MORE
#: single-task windows to one of these still fails.
UNPARTITIONED_WINDOWS_ALLOWED = {
    "auc_price_basket_size": 1,      # value-histogram frame (distinct prices)
    "fdr_event_value_tests": 2,      # p-value frame (event types)
    "gini_revenue_concentration": 1, # n_buckets-row bucket-offset scan
    "hybrid_retrieval_rrf": 2,       # two top-k rank frames (k rows)
    "ks_drift_price": 2,             # distinct-value CDF frames
    "rolling_corr_daily": 6,         # span-bounded generated day spine
    "similarity_ivf_topk": 1,        # rnk over the post-limit k-row frame
    "supplier_pareto_share": 1,      # supplier-level aggregate frame
    "survival_kaplan_meier": 2,      # distinct event-time frame
    "user_growth_daily": 1,          # day-level aggregate frame
    "zipf_vocab_fit": 1,             # top-vocab rank frame
}


def test_lineage_cuts_live_only_in_capture():
    """Every checkpoint goes through plans/capture.checkpoint, so an
    audit's capture scope sees each one under its call site's label."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "automated_batch_data_pipeline_nyc_spark"
    )
    found = sorted(
        path.relative_to(pkg).as_posix()
        for path in pkg.rglob("*.py")
        if ".localCheckpoint(" in path.read_text()
    )
    assert found == ["plans/capture.py"]


@pytest.fixture(scope="module")
def plan_report(spark):
    from plan_audit import audit

    return audit(SF_SMOKE, spark=spark)


def test_audit_covers_every_query_without_errors(plan_report):
    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

    assert set(plan_report) == set(QUERIES)
    errs = {n: r["error"] for n, r in plan_report.items() if "error" in r}
    assert not errs, errs


def test_no_cartesian_product_anywhere(plan_report):
    cart = [n for n, r in plan_report.items() if r.get("cartesian")]
    assert cart == [], f"CartesianProduct in: {cart}"


def test_python_stages_only_where_justified(plan_report):
    py = {n for n, r in plan_report.items() if r.get("python_eval")}
    assert py <= PYTHON_EVAL_ALLOWED, (
        f"unexpected Python eval stages in: {sorted(py - PYTHON_EVAL_ALLOWED)}"
    )


def test_unpartitioned_windows_only_over_bounded_frames(plan_report):
    bad = {}
    for n, r in plan_report.items():
        got = r.get("unpart_windows", 0)
        if got > UNPARTITIONED_WINDOWS_ALLOWED.get(n, 0):
            bad[n] = r.get("unpart_window_specs", got)
    assert not bad, f"unbounded single-task window risk in: {bad}"


#: BNLJ build sides that are NOT a plan-visible keyless aggregate, each
#: pinned EXACTLY with its real bound (VERDICT r8 item 4).  ``rdd_scan``
#: = the build frame was localCheckpoint'd, hiding its upstream
#: aggregate from the plan; ``opaque:*`` = bounded by something the plan
#: can't prove (literal-filtered batch, dim-sized distinct, or the one
#: declared O(n²) verifier).  Any NEW nonscalar build side — or a count
#: increase on these — fails, so a frame-sized broadcast through a
#: nested loop can't hide inside an expected-nonzero bnlj count.
BNLJ_NONSCALAR_ALLOWED = {
    # declared O(n²) all-pairs oracle verifier (bench-excluded by design)
    "dedup_embedding_cosine": ["opaque:Scan parquet "],
    # k=8 centroid batch: literal vec_id<8 pushed filter bounds the build
    "kmeans_step_verified": ["opaque:Scan parquet "],
    # 5-row query batch: literal vec_id<5 pushed filter bounds the build
    "knn_join_batch": ["opaque:Scan parquet "],
    # event-type dim distinct (domain-bounded) crossed with the hour spine
    "resample_gap_fill": ["opaque:HashAggregate"],
    # k-centroid IVF frame, localCheckpoint'd (k rows by construction):
    # crossed once on the probe path and once on the verify path
    "ivf_probe_verified": ["rdd_scan", "rdd_scan"],
    # n_buckets-row bucket-boundary frame, localCheckpoint'd
    "join_range_buckets": ["rdd_scan"],
}


def test_bnlj_build_sides_are_bounded(plan_report):
    """Every BroadcastNestedLoopJoin build side must be a plan-provable
    ≤1-row scalar aggregate, or match the exact pinned exception above."""
    bad = {}
    for n, r in plan_report.items():
        nonscalar = [k for k in r.get("bnlj_builds", []) if k != "scalar_agg"]
        if nonscalar != BNLJ_NONSCALAR_ALLOWED.get(n, []):
            bad[n] = r.get("bnlj_builds")
    assert not bad, f"unreviewed BNLJ build sides in: {bad}"


# ---------------------------------------------------------------------------
# Checkpoint-boundary (loop-body) plans — VERDICT r10 item 3
# ---------------------------------------------------------------------------
# Eager localCheckpoint truncates lineage, so before r11 the iterative
# queries audited as 0-exchange unions of checkpoint scans and a
# cartesian product INSIDE a loop iteration was invisible to the gates
# above.  plans/capture.py records each plan at the moment the
# checkpoint hides it; these tests assert the capture actually covers
# the iterative families and runs the same invariants on what executes
# per iteration.

#: Queries whose operators loop with per-round checkpoints — the audit
#: MUST see captured plans for these, or the blind spot is back.
CHECKPOINTED_ITERATIVE = {
    "graph_bfs_hops",          # frontier BFS: per-level join + anti-join
    "dedup_components",        # CC min-label propagation
    "dedup_pipeline_transitive",
    "dedup_minhash_transitive",
    "pagerank_order_part",     # power iteration
    "dedup_graph_kcore",       # iterative peeling
    "bpe_train_merges",        # merge-fold truncation every 4 ranks
    "bpe_encode_tokens",       # vocab fold truncation every 4 merges
    "similarity_ivf_topk",     # Lloyd rounds (collect-boundary record_plan)
}


def test_checkpoint_capture_covers_iterative_families(plan_report):
    covered = {n for n, r in plan_report.items() if r.get("checkpoints")}
    missing = CHECKPOINTED_ITERATIVE - covered
    assert not missing, (
        f"no checkpoint plans captured for: {sorted(missing)} — "
        "the loop-body audit blind spot is back"
    )
    # and the loop-body plans genuinely show the per-iteration shuffles
    # the final (post-truncation) plan hides
    bfs = plan_report["graph_bfs_hops"]["checkpoints"]["labels"]
    assert bfs["bfs_level"]["exchanges_max"] > 0


def test_no_cartesian_in_checkpoint_plans(plan_report):
    bad = {
        n: r["checkpoints"]["labels"]
        for n, r in plan_report.items()
        if r.get("checkpoints", {}).get("cartesian")
    }
    assert not bad, f"CartesianProduct inside a checkpointed loop body: {bad}"


def test_no_python_stages_in_checkpoint_plans(plan_report):
    """Loop bodies and staged pair frames are JVM-only by design — a
    Python stage executing once per iteration would be the worst place
    to hide one."""
    bad = {
        n: r["checkpoints"]
        for n, r in plan_report.items()
        if r.get("checkpoints", {}).get("python_eval")
    }
    assert not bad, f"Python eval inside a checkpointed plan: {bad}"


#: Nonscalar BNLJ build sides inside CHECKPOINTED (staged/loop) plans,
#: pinned exactly like BNLJ_NONSCALAR_ALLOWED for final plans.
CHECKPOINT_BNLJ_NONSCALAR_ALLOWED = {
    # n_buckets-row bucket-offset frames, localCheckpoint'd (the same
    # bound the final-plan audit notes for gini's rdd_scan build)
    "gini_revenue_concentration": ["rdd_scan"] * 4,
    # k-row TakeOrderedAndProject frame (top-k-bounded by construction)
    "semdedup_prune": ["opaque:TakeOrderedAndProject"],
}


def test_checkpoint_bnlj_builds_are_bounded(plan_report):
    """Same build-side discipline as the final-plan gate: a frame-sized
    broadcast through a nested loop can't hide behind a checkpoint."""
    bad = {}
    for n, r in plan_report.items():
        builds = r.get("checkpoints", {}).get("bnlj_builds", [])
        nonscalar = [k for k in builds if k != "scalar_agg"]
        if nonscalar != CHECKPOINT_BNLJ_NONSCALAR_ALLOWED.get(n, []):
            bad[n] = builds
    assert not bad, f"unreviewed BNLJ build sides in checkpointed plans: {bad}"
