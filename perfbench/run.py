"""Benchmark the engine end to end on one workload.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates the workload's
inputs from ``--seed`` (not timed), then sets the engine up once:
``session.get_session`` in a fresh driver JVM plus WARM_PASSES untimed
passes, reported together as ``setup_s``.  It then runs timed passes,
one at a time (closed loop, one client), until ``--seconds`` of pass
time are measured and at least MIN_PASSES passes ran; ``wall_s`` is
their median.  Every pass's outputs are checked outside the timed
region, and a failed check counts as a failed pass.

The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a run
whose calls into the engine are wrapped in job-group spans (see
tracing.py; the spans and per-query detail go to ``.work/trace-*.json``).
Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import gen
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
APP = "perfbench"
#: untimed passes in set-up: the cold first pass and the two after it,
#: which still run 15-40% slower than later passes while the JIT warms
WARM_PASSES = 3
#: timed passes per run at least
MIN_PASSES = 3

#: the metric names and units the run reports
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def slots() -> int:
    """Task slots: every CPU this process may use but one, which stays
    free for the driver JVM's GC and JIT threads and the Python driver."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def confine_to_checkout() -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM at
    ``.work`` and return the session overrides that do the same."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots())
    # no hsperfdata files in the system temp dir from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_engine(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    overrides = confine_to_checkout()
    with open(SPEC) as f:
        spec = json.load(f)
    try:
        from automated_batch_data_pipeline_nyc_spark import get_session
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    inputs = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    wl = WORKLOADS[args.workload](inputs, os.path.join(WORK, "out", args.workload))
    tracer = Tracer(args.trace == 1, slots())
    attempted = failed = 0
    problems: list[str] = []

    def finish(label: str, t0: float, run) -> float:
        """Run one pass (``run`` returns its result), record its wall
        time with the tracer, then check it; return the wall time."""
        nonlocal attempted, failed
        attempted += 1
        try:
            result = run()
            wall = time.perf_counter() - t0
            tracer.end_pass(label, wall)
            ok, msg = wl.check(result)
        except Exception as e:  # a failed pass counts, the run goes on
            traceback.print_exc()
            wall, ok, msg = time.perf_counter() - t0, False, f"{type(e).__name__}: {e}"
        if not ok:
            failed += 1
            problems.append(f"{label} pass: {msg}")
        return wall

    wl.clear()
    tracer.begin_pass()
    t0 = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(APP, **overrides)
        spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    t1 = time.perf_counter()
    setup_s = t1 - t0 + finish("setup", t1, lambda: wl.run(spark, tracer))

    def next_pass(label: str) -> float:
        wl.clear()
        tracer.begin_pass(spark.sparkContext)
        return finish(label, time.perf_counter(), lambda: wl.run(spark, tracer))

    for _ in range(WARM_PASSES - 1):
        setup_s += next_pass("warm")
    walls: list[float] = []
    while sum(walls) < args.seconds or len(walls) < MIN_PASSES:
        walls.append(next_pass("timed"))

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    stop_engine(spark)

    wall_s = statistics.median(walls)
    print(f"{args.workload} seed {args.seed}: {len(walls)} timed passes {[round(w, 3) for w in walls]}, "
          f"set-up {setup_s:.3f} s, slots {slots()}, {wl.rows} {wl.fact} rows")
    print(f"error_rate {failed}/{attempted} = {failed / attempted:.4f} (failed passes / attempted passes)")
    for p in problems:
        print(f"FAILED {p}")
    if args.trace:
        values = tracer.summary([m["name"] for m in spec["per_layer"]])
        timed = [p for p in tracer.passes if p["label"] == "timed"]
        values["trace.overhead_s"] = statistics.median(p["overhead_s"] for p in timed)
        values["trace.wall_s"] = wall_s
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "slots": slots(),
                           "setup_s": setup_s, "wall_s": walls})
        repeated = [k for k, v in tracer.repeated_counts().items() if v]
        print(f"trace: {path}; counts repeated exactly on every timed pass: {repeated}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "wall_s": wall_s,
                  "rows_per_s": wl.rows / wall_s, "peak_rss_mb": peak_rss_mb}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    for n, m in metrics.items():
        print(f"  {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
