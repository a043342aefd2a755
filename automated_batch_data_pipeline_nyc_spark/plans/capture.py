"""Checkpoint-boundary plan capture: the package's one lineage cut.

``localCheckpoint`` truncates lineage: the frame it returns plans as a
bare RDD scan, so any physical plan UPSTREAM of a checkpoint — most
importantly the loop body of the iterative operators (connected
components, PageRank, BFS, k-core, BPE train), which checkpoint every
round — is invisible to tools/plan_audit.py's final-plan audit.  A
cartesian product inside a loop iteration would execute every round
and still audit as ``exchanges: 0``.

Every lineage cut in the package goes through :func:`checkpoint` with
a ``label`` naming its call site (``tests/test_plan_audit.py`` checks
the source: no other module calls ``localCheckpoint``).  Only while a
:func:`capture_checkpoint_plans` scope is active, the wrapper records
the physical plan of the frame being checkpointed, BEFORE the
truncation hides it.  tools/plan_audit.py opens a scope around each
query build and audits every captured plan with the same counters it
runs on the final plan, so the 0-cartesian / bounded-BNLJ gates cover
what actually executes per iteration, each under its site's name.

Outside a capture scope the wrapper is exactly
``df.localCheckpoint(eager)`` plus one read of a module global — zero
planning overhead on the production path.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

__all__ = ["capture_checkpoint_plans", "checkpoint", "record_plan"]

#: Active capture sink: ``None`` outside a scope, else a list of
#: (label, java SparkPlan) pairs.  Scopes nest by saving/restoring.
#: Process-wide, so checkpoints taken on a streaming micro-batch thread
#: are captured too.
_SINK: list | None = None


@contextmanager
def capture_checkpoint_plans():
    """Collect ``(label, java_plan)`` for every :func:`checkpoint`
    taken in scope.  The java plan objects stay valid for the life of
    the SparkSession; audit them with the same walkers the final plan
    gets (tools/plan_audit.py)."""
    global _SINK
    prev, _SINK = _SINK, []
    try:
        yield _SINK
    finally:
        _SINK = prev


def record_plan(df: DataFrame, label: str) -> None:
    """Record ``df``'s physical plan into an active capture scope
    WITHOUT checkpointing — for loop bodies whose per-iteration work
    leaves the lineage through an action instead of a checkpoint (e.g.
    the driver-bounded centroid collect in ``ivf_build_portable``),
    which the final-plan audit would otherwise never see.  Outside a
    scope this is one global read — zero production overhead."""
    if _SINK is not None:
        _SINK.append((label, df._jdf.queryExecution().executedPlan()))


def checkpoint(df: DataFrame, *, label: str, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` that, inside a capture scope,
    first records the physical plan the checkpoint is about to hide.

    ``label`` names the call site (e.g. ``"cc_iter"``) so an audit
    finding points at the right loop."""
    record_plan(df, label)
    return df.localCheckpoint(eager=eager)
