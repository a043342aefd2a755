"""Physical-plan audit over every registered query: PLAN_AUDIT.json.

Builds each suite query at a small sf (plans are scale-invariant in
STRUCTURE — the audit looks at operator choices, not sizes) and counts
the plan features that decide 100 TB behavior:

- ``exchanges``        shuffle count (Exchange nodes, incl. broadcasts)
- ``bnlj``             BroadcastNestedLoopJoin count (fine only when one
                       side is provably tiny — centroid/1-row attaches)
- ``bnlj_builds``      per-BNLJ build-side verdict (VERDICT r8 item 4):
                       ``scalar_agg`` = the build side provably descends
                       from an Aggregate with NO grouping keys (≤1 row
                       by construction) through row-count-preserving
                       wrappers only; ``rdd_scan`` = the build side is a
                       localCheckpoint'd frame whose upstream aggregate
                       the plan no longer shows (bound must be asserted
                       per-query — tests/test_plan_audit.py allowlists
                       these by name); anything else =
                       ``opaque:<node>`` and must match an exact
                       per-query allowlist entry whose comment states
                       the real bound (k-row literal-filtered batches,
                       dim-sized distincts, the declared O(n²)
                       verifier) — a refactor that broadcasts a FRAME
                       through a nested loop can't hide inside an
                       expected-nonzero count
- ``cartesian``        CartesianProduct count (never acceptable in a
                       production path; the O(n²) oracle twins are the
                       only registered queries allowed to carry one)
- ``python_eval``      Batch/ArrowEvalPython + map-in-pandas nodes (the
                       slow path; only media codecs + NFC should hit it)
- ``unpart_windows``   window specs with NO partition keys — each one is
                       a single-task sort at scale; every remaining one
                       must be over a provably bounded frame (dim-sized
                       aggregates, n_buckets-row offset tables) and is
                       listed here so the claim is auditable, not vibes
- ``wscg``             WholeStageCodegen span count (JVM-side pipelines)

Checkpoint-boundary plans are audited too (VERDICT r10 item 3): eager
``localCheckpoint`` truncates lineage, so the loop-body plans of the
iterative operators (CC / PageRank / BFS / k-core / BPE train) — which
checkpoint every round — never reach the FINAL plan.  The operators
cut lineage only through plans/capture.checkpoint, each site under
its own label (tests/test_plan_audit.py checks the source for any other
``localCheckpoint`` call); the audit opens a capture scope per query
and runs the same counters on every captured plan, recorded per query
under ``checkpoints`` (per-label exchange maxima +
cartesian/BNLJ/python totals).  The 0-cartesian gate therefore covers
what actually executes per iteration, not just the post-truncation
union of checkpoint scans.

Usage: ``python tools/plan_audit.py [sf_dir]`` (default
/root/testdata/sf0.001).  Streaming-backed queries EXECUTE their
micro-batches during construction, so the audit runs them at the small
sf; everything else is plan-only (no job runs) — except the iterative
queries, whose eager checkpoints run their loops at the small sf.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_WSPEC = re.compile(r"windowspecdefinition\(([^)]*)\)")
_EXPR_ID = re.compile(r"#\d+")


def _unpartitioned_specs(plan: str) -> list[str]:
    """Window specs whose argument list starts with an ORDER column
    (i.e. no partition columns).  Spec grammar:
    windowspecdefinition(part..., order ASC/DESC ..., frame).
    Catalyst expression IDs (``col#1234``) are session counters —
    normalized to ``#N`` so the committed artifact is byte-stable
    across regenerations and CI can diff it."""
    out = []
    for m in _WSPEC.finditer(plan):
        args = m.group(1)
        first = args.split(",", 1)[0]
        if " ASC" in first or " DESC" in first:
            # normalize BEFORE truncating: the cut point must not depend
            # on the digit width of the session's expression counter
            out.append(_EXPR_ID.sub("#N", m.group(0))[:120])
    return out


#: Plan nodes that cannot INCREASE the row count of their single child —
#: safe to look through when proving a BNLJ build side is ≤1 row.
#: Exact nodeName membership (ADVICE r9): a prefix match would silently
#: look through any FUTURE single-child node whose name merely starts
#: with one of these (a non-row-preserving Sort*/Project* variant);
#: with exact membership an unknown variant falls to the loud
#: ``opaque:<node>`` verdict instead.  WholeStageCodegen is the one
#: name that embeds a counter ("WholeStageCodegen (3)"), so it gets a
#: precise regex rather than a prefix.
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Exchange",
        "BroadcastExchange",
        "Sort",
        "Coalesce",
        "ColumnarToRow",
        "InputAdapter",
        "AQEShuffleRead",
        "LocalLimit",
        "GlobalLimit",
        "WholeStageCodegen",
    }
)

_WSCG_NAME = re.compile(r"^WholeStageCodegen \(\d+\)$")


def _iter_plan(node):
    """Yield every node of a SparkPlan tree (py4j), descending into the
    AQE initial plan, reused-exchange targets, and subquery plans (a
    BNLJ hiding under a scalar subquery must still be classified —
    ``audit`` additionally cross-checks the walked BNLJ count against
    the treeString count so any blind spot fails loudly instead of
    silently under-covering)."""
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from _iter_plan(cs.apply(i))
    try:
        sq = node.subqueries()
        for i in range(sq.size()):
            yield from _iter_plan(sq.apply(i))
    except Exception:
        pass
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _iter_plan(node.initialPlan())
    elif name == "ReusedExchange":
        yield from _iter_plan(node.child())


def _build_kind(node) -> str:
    """Classify a BNLJ build-side subtree (see module docstring)."""
    while True:
        name = node.nodeName()
        if "Aggregate" in name:
            try:
                if node.groupingExpressions().isEmpty():
                    return "scalar_agg"
            except Exception:
                pass
            return f"opaque:{name}"
        if "ExistingRDD" in name:  # localCheckpoint'd frame: plan-opaque
            return "rdd_scan"
        if name == "ReusedExchange":
            node = node.child()
            continue
        if name == "BroadcastNestedLoopJoin":
            # Product rule: a join of two provably ≤1-row sides is
            # itself ≤1 row (the chained crossJoin-of-scalar-aggregates
            # shape the bound-audit queries use to assemble one verdict
            # row).  Anything else stays opaque.
            cs = node.children()
            if (
                cs.size() == 2
                and _build_kind(cs.apply(0)) == "scalar_agg"
                and _build_kind(cs.apply(1)) == "scalar_agg"
            ):
                return "scalar_agg"
            return f"opaque:{name}"
        if name in _ROW_PRESERVING or _WSCG_NAME.match(name):
            cs = node.children()
            if cs.size() == 1:
                node = cs.apply(0)
                continue
        return f"opaque:{name}"


def _bnlj_builds(plan) -> list[str]:
    out = []
    for node in _iter_plan(plan):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        side = node.buildSide().toString()
        build = node.children().apply(1 if side == "BuildRight" else 0)
        out.append(_build_kind(build))
    return sorted(out)


def _audit_one(jplan) -> dict:
    """Counter set for ONE physical plan (final or checkpoint-captured)."""
    full = jplan.toString()
    # An AdaptiveSparkPlan's toString can print the tree TWICE (the
    # current/final plan then an == Initial Plan == section) while the
    # node walk visits each operator once.  MAGNITUDE metrics
    # (exchanges / wscg / window specs) count the first section only,
    # or every recorded number doubles.  GATE counters (cartesian /
    # python_eval / the BNLJ backstop) stay on the FULL string: a
    # nested InMemoryRelation printout can embed its own section marker
    # mid-string, and truncating there would hide anything below it
    # from the string-based gates — double-counting is harmless for a
    # greater-than-zero gate, blindness is not.
    cut = full.find("+- == Initial Plan ==")
    plan = full[:cut] if cut != -1 else full
    bnlj_builds = _bnlj_builds(jplan)
    # Blind-spot backstop: if the treeString shows MORE BNLJs
    # than the walk classified (a traversal gap), pad with a
    # loud verdict so the gate fails instead of under-covering.
    # (The walk legitimately sees >= the string when subquery
    # plans aren't printed — a superset is fine.)  When the AQE
    # section-duplication marker is present, count ONLY the final
    # section — the one the node walk actually traverses (ADVICE r12:
    # max() over both sections pads a phantom "opaque:unwalked" when
    # AQE replaces an Initial-Plan BNLJ with a hash join, hard-failing
    # a plan that is clean at execution time).  An Initial-Plan-only
    # BNLJ is never executed, and the embedded-marker blindness case
    # is covered by the walk itself: nodes below a mid-string marker
    # are still visited, which only makes bnlj_builds a superset.
    if cut != -1:
        string_bnlj = full[:cut].count("BroadcastNestedLoopJoin")
    else:
        string_bnlj = full.count("BroadcastNestedLoopJoin")
    gap = string_bnlj - len(bnlj_builds)
    if gap > 0:
        bnlj_builds = sorted(bnlj_builds + ["opaque:unwalked"] * gap)
    unpart = _unpartitioned_specs(plan)
    return {
        "exchanges": plan.count("Exchange"),
        "bnlj": string_bnlj,
        "bnlj_builds": bnlj_builds,
        "cartesian": full.count("CartesianProduct"),
        "python_eval": (
            full.count("BatchEvalPython")
            + full.count("ArrowEvalPython")
            + full.count("MapInPandas")
            + full.count("FlatMapGroupsInPandas")
        ),
        "unpart_windows": len(unpart),
        "unpart_window_specs": unpart,
        "wscg": plan.count("WholeStageCodegen"),
    }


def _audit_checkpoints(captured) -> dict:
    """Aggregate the counters of every checkpoint-captured plan
    (VERDICT r10 item 3): iterative operators truncate lineage per
    round, so their loop-body plans never reach the final-plan audit.
    The capture scope (plans/capture.py) hands us each plan at the
    moment it is about to be hidden; counts here are per-DISTINCT-label
    maxima plus totals, so a cartesian in ANY iteration trips the gate
    while the record stays iteration-count-independent."""
    per_label: dict[str, dict] = {}
    totals = {"cartesian": 0, "bnlj": 0, "python_eval": 0, "unpart_windows": 0}
    bnlj_builds: list[str] = []
    for label, jplan in captured:
        a = _audit_one(jplan)
        for k in totals:
            totals[k] += a[k]
        bnlj_builds += a["bnlj_builds"]
        cur = per_label.setdefault(
            label, {"n": 0, "exchanges_max": 0, "cartesian": 0}
        )
        cur["n"] += 1
        cur["exchanges_max"] = max(cur["exchanges_max"], a["exchanges"])
        cur["cartesian"] += a["cartesian"]
    return {
        "n_plans": sum(v["n"] for v in per_label.values()),
        "labels": {k: per_label[k] for k in sorted(per_label)},
        "bnlj_builds": sorted(bnlj_builds),
        **totals,
    }


def audit(sf_dir: str, spark=None) -> dict:
    from automated_batch_data_pipeline_nyc_spark.plans.capture import (
        capture_checkpoint_plans,
    )
    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

    if spark is None:
        from automated_batch_data_pipeline_nyc_spark.session import get_session

        spark = get_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict[str, dict] = {}
    for name, q in QUERIES.items():
        try:
            with capture_checkpoint_plans() as captured:
                df = q.spark(spark, sf_dir)
                jplan = df._jdf.queryExecution().executedPlan()
                entry = _audit_one(jplan)
                if captured:
                    entry["checkpoints"] = _audit_checkpoints(captured)
        except Exception as exc:  # surface, keep auditing
            report[name] = {"error": repr(exc)[:200]}
            continue
        report[name] = entry
    return report


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    report = audit(sf_dir)
    errors = {n: r for n, r in report.items() if "error" in r}
    cart = [n for n, r in report.items() if r.get("cartesian")]
    py = [n for n, r in report.items() if r.get("python_eval")]
    # Checkpoint-boundary coverage (VERDICT r10 item 3): per-iteration /
    # pre-truncation plans, so e.g. graph_bfs_hops no longer audits as
    # a 0-exchange union of checkpoint scans.
    ckpt_cart = [
        n for n, r in report.items()
        if r.get("checkpoints", {}).get("cartesian")
    ]
    ckpt_py = [
        n for n, r in report.items()
        if r.get("checkpoints", {}).get("python_eval")
    ]
    ckpt_cover = {
        n: {
            lbl: d["exchanges_max"]
            for lbl, d in r["checkpoints"]["labels"].items()
        }
        for n, r in report.items()
        if r.get("checkpoints")
    }
    unpart = {
        n: r["unpart_windows"] for n, r in report.items()
        if r.get("unpart_windows")
    }
    bnlj_opaque = {
        n: [k for k in r["bnlj_builds"] if k.startswith("opaque")]
        for n, r in report.items()
        if any(k.startswith("opaque") for k in r.get("bnlj_builds", []))
    }
    bnlj_rdd = sorted(
        n for n, r in report.items()
        if "rdd_scan" in r.get("bnlj_builds", [])
    )
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "summary": {
            "errors": sorted(errors),
            "cartesian": sorted(cart),
            "cartesian_in_checkpoints": sorted(ckpt_cart),
            "python_eval": sorted(py),
            "python_eval_in_checkpoints": sorted(ckpt_py),
            "unpartitioned_windows": dict(sorted(unpart.items())),
            "bnlj_opaque": dict(sorted(bnlj_opaque.items())),
            "bnlj_rdd_scan": bnlj_rdd,
            "checkpoint_coverage": dict(sorted(ckpt_cover.items())),
        },
        "queries": report,
    }
    path = os.path.join(REPO, "PLAN_AUDIT.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out["summary"], indent=1))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
