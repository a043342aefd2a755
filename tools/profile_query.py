"""Per-query measurement harness for optimization rounds (guide §1).

    python tools/profile_query.py q1 q2 ... [--sf DIR] [--reps N]
        [--plan-dir DIR] [--tag before|after] [--plan-only]

Times each named suite query with bench.time_query (the noop-sink
measurement bench.py and ``--sweep`` use) in a session configured
EXACTLY like bench.py (same get_session factory, same warm-up recipe,
master local[$SPARK_GRAFT_CPUS]), reporting every rep's seconds and
Spark jobs so JIT-warm vs cold regimes are visible; a failed rep reads
-1.  With ``--plan-dir`` also writes
``<plan-dir>/<query>_<tag>.txt`` containing ``explain("formatted")``
for the judge's plan-claim checks.  The first named query absorbs an
unrecorded sacrificial run (bench.py's slot-1 JIT absorber) so rep 1
is comparable to the bench's steady regime.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plan-only", action="store_true")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from automated_batch_data_pipeline_nyc_spark.session import get_session
    from automated_batch_data_pipeline_nyc_spark.suite import QUERIES

    from bench import _warm_session, time_query

    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_session("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_session(spark, [args.sf])

    if args.plan_dir:
        os.makedirs(args.plan_dir, exist_ok=True)

    from automated_batch_data_pipeline_nyc_spark.plans.capture import (
        capture_checkpoint_plans,
    )

    first = True
    for name in args.queries:
        if args.plan_dir:
            # Eager localCheckpoints truncate the final plan to a bare
            # RDD scan, so ALSO record every checkpoint-boundary plan
            # (same capture scope plan_audit.py uses) — the loop-body /
            # staged-result plans are where the optimization story is.
            with capture_checkpoint_plans() as sink:
                df = QUERIES[name].spark(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.plan_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write("== FINAL PLAN (explain formatted) ==\n")
                fh.write(buf.getvalue())
                seen: dict[str, int] = {}
                for label, jplan in sink:
                    seen[label] = seen.get(label, 0) + 1
                    # per-label cap: iterative ops checkpoint every
                    # round with a structurally identical plan
                    if seen[label] > 2:
                        continue
                    fh.write(
                        f"\n== CHECKPOINT PLAN [{label} #{seen[label]}] "
                        "(physical plan at localCheckpoint) ==\n"
                    )
                    fh.write(jplan.toString())
            print(f"{name}: plan -> {path}")
        if args.plan_only:
            continue
        if first:
            # sacrificial JIT absorber, unrecorded (bench.py slot-1 rule)
            time_query(spark, name, args.sf)
            first = False
        reps = [time_query(spark, name, args.sf) for _ in range(args.reps)]
        print(
            f"{name}: " + " ".join(f"{t:.3f}s/{j}j" for t, j in reps)
            + f"  (min {min(t for t, _ in reps):.3f})"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
