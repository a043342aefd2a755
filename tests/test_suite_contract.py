"""Pin the driver verification window (suite.DRIVER_WINDOW).

The driver hash-verifies only the FIRST 50 entries of
``__spark_entry__.queries()`` per round (CORRECTNESS_r{N}.json key list
== dict iteration order).  Round 2 lost two thirds of the suite's
driver coverage to an accidental mid-file insertion; these tests make
any unintended eviction a hard CI failure.
"""

from __future__ import annotations

import hashlib
import json
import os

from automated_batch_data_pipeline_nyc_spark import suite

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "tests", "suite_registry.json")

#: The round-13 window, frozen.  Changing the window is LEGAL — it is the
#: per-round verification budget and MUST rotate — but has to be done by
#: editing both suite.DRIVER_WINDOW and this list, i.e. deliberately.
EXPECTED_WINDOW = [
    "clean_pipeline",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_minhash_transitive",
    "dedup_components",
    "dedup_pipeline_transitive",
    "dedup_survivor_by_quality",
    "pagerank_order_part",
    "containment_pairs_prefix",
    "dedup_ngram_jaccard_prefix",
    "dedup_ngram_jaccard_freq",
    "dedup_graph_triangles",
    "dedup_graph_kcore",
    "dedup_simhash_portable",
    "dedup_incremental_batch",
    "gini_revenue_concentration",
    "market_concentration_hhi",
    "bloom_fpp_audit",
    "bloom_prefilter_join",
    "trimmed_mean_prices",
    "ks_drift_price",
    "auc_price_basket_size",
    "set_intersect",
    "set_except",
    "window_topk_per_group",
    "window_lag_delta",
    "window_moving_avg",
    "window_running_sum",
    "hourly_event_counts",
    "streaming_hourly_counts",
    "merge_user_intervals",
    "user_growth_daily",
    "retention_cohorts",
    "fk_integrity_audit",
    "pivot_event_matrix",
    "rollup_order_stats",
    "quality_gate_report",
    "text_token_stats",
    "text_quality_scores",
    "text_language_id",
    "text_fingerprint",
    "dedup_exact",
    "duplicated_ngram_spans",
    "dedup_embedding_cosine_lsh",
    "url_canonical_dedup",
    "edit_distance_pairs",
    "fuzzy_levenshtein",
    "knn_join_batch",
    "embedding_gram_matrix",
    "embedding_quantize",
]




def test_window_is_first_50():
    assert list(suite.QUERIES)[:50] == EXPECTED_WINDOW
    assert suite.DRIVER_WINDOW == EXPECTED_WINDOW


#: Rows-only slots in the r13 window: the stale-first rotation brings
#: the three remaining rows-only queries (last driver-executed r7) back
#: under driver execution at slots 12-14; dedup_minhash and
#: dedup_simhash were then bound-audit converted this round (VERDICT
#: r12 item 4) and now carry oracles, so only bpe_train_merges
#: (iterative data-driven argmax, pytest-pinned vs the Sennrich
#: reference) stays rows-only by design.
ROWS_ONLY_SLOTS: set = {"bpe_train_merges"}


def test_window_oracle_coverage():
    for name in suite.DRIVER_WINDOW:
        if name in ROWS_ONLY_SLOTS:
            assert suite.QUERIES[name].oracle is None, name
        else:
            assert suite.QUERIES[name].oracle is not None, name


def test_window_drains_debt_then_reverifies_stale():
    """Lifecycle-stable rotation invariant (VERDICT r8 item 1).

    The r8 version of this test pinned a point-in-time snapshot
    ("never-verified == window[:4] | queue") that went red the moment
    the driver committed CORRECTNESS_r08.json and turned those four
    slots green.  The invariant that actually matters, and that stays
    true both while the builder is rotating and after the driver lands
    a new record, is:

      1. every never-driver-verified query is scheduled — it sits in
         DRIVER_WINDOW (this round's slots) or _NEXT_WINDOW_QUEUE
         (next round's slots); debt can never silently fall off;
      2. _NEXT_WINDOW_QUEUE holds ONLY never-verified queries — once
         the driver turns a queued query green the next rotation must
         move it out;
      3. never-verified window slots form a contiguous HEAD of the
         window (debt drains first, stale re-verification fills the
         tail) — trivially true once the driver has run the window;
      4. the reference-pipeline canary is in every window.

    Rows-only-by-design queries count as driver-executed via their
    recorded spark_rows (err == "no_oracle" means "no SQL oracle
    exists", not "failed")."""
    green: set[str] = set()
    for fname in sorted(os.listdir(REPO)):
        if not (fname.startswith("CORRECTNESS_r") and fname.endswith(".json")):
            continue
        for name, row in json.load(open(os.path.join(REPO, fname))).items():
            ok = row.get("hash_match")
            if ok is None:
                ok = row.get("rows_match")
            if ok is None:
                ok = (
                    row.get("spark_rows") is not None
                    and row.get("err") in (None, "no_oracle")
                )
            if ok:
                green.add(name)
    never = {n for n in suite.QUERIES if n not in green}
    # 1. all debt is scheduled
    assert never <= set(suite.DRIVER_WINDOW) | set(suite._NEXT_WINDOW_QUEUE)
    # 2. the queue holds only debt
    assert set(suite._NEXT_WINDOW_QUEUE) <= never
    # 3. debt occupies a contiguous head of the window
    in_window_never = [n for n in suite.DRIVER_WINDOW if n in never]
    assert suite.DRIVER_WINDOW[: len(in_window_never)] == in_window_never
    # 4. standing canary: the reference clean_nyc_taxi_pipeline surface
    # is re-verified every round (VERDICT r7 item 3)
    assert "clean_pipeline" in suite.DRIVER_WINDOW


def test_rotation_covers_every_registration_exactly_once():
    rotated = (
        suite.DRIVER_WINDOW
        + suite._NEXT_WINDOW_QUEUE
        + suite._PREVIOUSLY_VERIFIED
    )
    assert sorted(rotated) == sorted(suite.QUERIES)
    assert len(rotated) == len(set(rotated))


def test_entry_module_exposes_rotated_order():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert list(mod.queries())[:50] == EXPECTED_WINDOW
    oracles = mod.oracle_sql()
    for name in EXPECTED_WINDOW:
        if name in ROWS_ONLY_SLOTS:
            assert name not in oracles, name
        else:
            assert name in oracles, name


def test_queries_md_is_current():
    """QUERIES.md is generated from the live suite; stale inventory docs
    mislead coverage review.  Regenerate with tools/gen_queries_md.py."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(REPO, "tools", "gen_queries_md.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    before = open(os.path.join(REPO, "QUERIES.md")).read()
    mod.main()  # regenerates QUERIES.md in place
    content = open(os.path.join(REPO, "QUERIES.md")).read()
    assert content == before, "QUERIES.md was stale — commit the regenerated file"
    assert f"**{len(suite.QUERIES)} registered**" in content
    for name in suite.DRIVER_WINDOW:
        assert f"`{name}`" in content


def test_fixture_texts_are_single_space_normalized():
    """Pins the shape of the committed documents fixtures: no tabs,
    newlines, runs of spaces, or leading/trailing whitespace.  No oracle
    depends on it: each oracle gram fragment replays its operator's own
    token split, pinned on adversarial whitespace in
    tests/test_tokenize.py.  It stays as a fixture-drift alarm: the
    recall and timing figures recorded for the dedup queries at sf0.1
    were measured on this shape, and a regenerated fixture that breaks
    it changes what those figures mean."""
    import re

    import pyarrow.parquet as pq

    # all three SFs: the driver verifies at sf0.01, local parity runs
    # sf0.001, and the bench + the documented recall measurements run
    # sf0.1
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = os.path.join("/root/testdata", sf, "documents.parquet")
        assert os.path.exists(path), (
            f"{path} missing — the invariant this test pins would go "
            "unchecked at that SF"
        )
        texts = pq.read_table(path, columns=["text"])["text"].to_pylist()
        assert texts, path
        for t in texts:
            if t is None:
                continue
            assert not re.search(r"[\t\n\r\f\v]|  |^ | $", t), (
                f"{path}: fixture text is no longer single-space "
                f"normalized: {t!r}"
            )


def _registry_rows() -> list[list]:
    """``[name, sha256(oracle) or None, sha256(doc)]`` in queries() order."""

    def sha(text):
        return None if text is None else hashlib.sha256(text.encode()).hexdigest()

    return [[n, sha(q.oracle), sha(q.doc)] for n, q in suite.QUERIES.items()]


def test_registry_matches_committed_contract():
    """The registry moves only on purpose: the ordered names, each
    oracle's SQL (or its absence) and each doc string must equal
    tests/suite_registry.json.  After a deliberate change, regenerate
    it with ``python -m tests.test_suite_contract`` and commit it."""
    with open(REGISTRY) as fh:
        committed = json.load(fh)
    live = _registry_rows()
    assert [r[0] for r in live] == [r[0] for r in committed]
    changed = [a[0] for a, b in zip(live, committed) if a != b]
    assert not changed, f"oracle or doc changed: {changed}"


if __name__ == "__main__":
    with open(REGISTRY, "w") as fh:
        fh.write("[\n" + ",\n".join(json.dumps(r) for r in _registry_rows()) + "\n]\n")
