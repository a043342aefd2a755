"""Job-group spans around the benchmark's calls into the engine, with
per-span counters read from Spark's own status store.

A span sets a job group before the call and clears it after, so every
job the call starts (AQE's helper-thread jobs inherit the group) is
attributed to it.  After each pass the tracer reads the status store
once — ``sc._jsc.sc().statusStore()`` is populated with the UI off —
and sums the stages of each span's jobs.  Under AQE a stage reused by a
later job gets a fresh stage id marked SKIPPED with zero metrics, so
summing every stage of every job never counts work twice.

Spans are flat within a pass (the benchmark calls public functions one
after another), so a span's self time is its duration.  Everything is
kept in memory and written once by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: counters recorded for every span
SPAN_FIELDS = ("self_s", "jobs", "task_run_s", "shuffle_write_mb")
#: whole-pass engine totals
ENGINE_FIELDS = ("busy_frac", "cpu_s", "gc_s", "spill_mb", "input_rows", "output_mb", "failed_tasks")
MB = 1e6


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of process *pid*."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def driver_cpu_seconds(sc) -> float:
    """CPU time of the driver JVM (which runs the tasks in local mode)
    plus this Python driver."""
    return cpu_seconds(sc._jvm.java.lang.ProcessHandle.current().pid()) + cpu_seconds(os.getpid())


def gc_seconds(sc) -> float:
    """Total collection time of the driver JVM (the only JVM in local mode)."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Tracer:
    """Collects spans of the current pass; ``enabled=False`` makes every
    method a no-op so untraced passes pay nothing."""

    def __init__(self, enabled: bool, slots: int):
        self.enabled = enabled
        self.slots = slots
        self.passes: list[dict] = []
        self.overhead_s = 0.0
        self._spans: list[dict] = []
        self._seq = 0
        self._sc = None

    @contextmanager
    def span(self, name: str, sc=None, detail: str = ""):
        """Time the body as span *name*; with *sc*, tag its jobs."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self._seq += 1
        group = f"{self._seq}:{name}"
        if sc is not None:
            sc.setJobGroup(group, detail or name)
        self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._spans.append({"name": name, "detail": detail, "group": group if sc is not None else None,
                                "start": start, "end": end})
            self.overhead_s += time.perf_counter() - end

    def begin_pass(self, sc=None) -> None:
        """Start a pass; a set-up pass attaches its fresh session later."""
        if self.enabled:
            self._spans = []
            self.overhead_s = 0.0
            if sc is not None:
                self.attach(sc)

    def attach(self, sc) -> None:
        if self.enabled:
            self._sc = sc
            self._gc0 = gc_seconds(sc)
            self._cpu0 = driver_cpu_seconds(sc)

    def end_pass(self, label: str, wall_s: float) -> None:
        """Read the status store for this pass's spans and store the pass."""
        if not self.enabled:
            return
        t = time.perf_counter()
        sc = self._sc
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        engine = dict.fromkeys(ENGINE_FIELDS, 0.0)
        engine["gc_s"] = gc_seconds(sc) - self._gc0
        engine["cpu_s"] = driver_cpu_seconds(sc) - self._cpu0
        spans = []
        for sp in self._spans:
            row = {"name": sp["name"], "detail": sp["detail"], "self_s": sp["end"] - sp["start"],
                   "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
                   "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0}
            job_ids = tracker.getJobIdsForGroup(sp["group"]) if sp["group"] else []
            row["jobs"] = len(job_ids)
            for job_id in job_ids:
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    row["stages"] += 1
                    row["tasks"] += st.numCompleteTasks()
                    row["task_run_s"] += st.executorRunTime() / 1000.0
                    row["task_cpu_s"] += st.executorCpuTime() / 1e9
                    row["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    row["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                    engine["spill_mb"] += st.diskBytesSpilled() / MB
                    engine["input_rows"] += st.inputRecords()
                    engine["output_mb"] += st.outputBytes() / MB
                    engine["failed_tasks"] += st.numFailedTasks()
            engine["busy_frac"] += row["task_run_s"]
            spans.append(row)
        engine["busy_frac"] /= max(wall_s, 1e-9) * self.slots
        self.overhead_s += time.perf_counter() - t
        self.passes.append({"label": label, "wall_s": wall_s, "overhead_s": self.overhead_s,
                            "spans": spans, "engine": engine})

    def span_totals(self, p: dict) -> dict[str, float]:
        """Per-span sums of one pass (a name used twice is summed)."""
        out: dict[str, float] = {}
        for row in p["spans"]:
            for f in SPAN_FIELDS:
                key = f"{row['name']}.{f}"
                out[key] = out.get(key, 0.0) + row[f]
        for f in ENGINE_FIELDS:
            out[f"engine.{f}"] = p["engine"][f]
        return out

    def summary(self, names: list[str]) -> dict[str, float]:
        """Median of every name in *names* over the timed passes, or over
        the set-up passes for a span only set-up opens (get_session);
        0 for a span the workload never opens."""
        timed = [self.span_totals(p) for p in self.passes if p["label"] == "timed"]
        setup = [self.span_totals(p) for p in self.passes if p["label"] == "setup"]
        out = {}
        for n in names:
            rows = timed if any(n in r for r in timed) else setup
            out[n] = statistics.median(r.get(n, 0.0) for r in rows) if rows else 0.0
        return out

    def repeated_counts(self) -> dict[str, bool]:
        """Which counts read exactly the same on every timed pass — the
        ones a later change may cite as counts."""
        rows = [self.span_totals(p) for p in self.passes if p["label"] == "timed"]
        counts = {k for r in rows for k in r if k.endswith((".jobs", ".shuffle_write_mb", "failed_tasks",
                                                            ".input_rows", ".output_mb"))}
        return {k: len({round(r.get(k, 0.0), 9) for r in rows}) == 1 for k in sorted(counts)}

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({**meta, "repeated_exactly": self.repeated_counts(), "passes": self.passes}, f, indent=1)
