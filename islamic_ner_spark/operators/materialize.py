"""The engine's one lineage cut: every eager checkpoint goes through here.

The iterative kernels (large-star/small-star components, PageRank,
BFS, triangles, k-core, label propagation, walks, BPE merge rounds)
reuse a relation across iterations or consumers and must cut its
lineage, or each round re-plans and re-runs everything before it.
:func:`materialize` makes that one decision for all of them:

- when the SparkContext has a checkpoint dir (a deployment sets it with
  the standard ``--conf spark.checkpoint.dir=...``), the cut is a
  reliable ``checkpoint(eager=True)``: its files live on that storage
  and survive losing the executor that computed them.  Spark runs a
  second job to write them (the final stage recomputes; shuffle outputs
  are reused) and deletes them only when
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set;
- otherwise it is a ``localCheckpoint(eager=True)``: blocks cached on
  the executors, one job, lost with their executor.

Inside :func:`plan_capture` it returns the frame unchanged, so building
a kernel's plan runs no checkpoint job and the plan shows the whole
lazy lineage (``bench.py --plans``, ``scripts/plan_audit.py``).  A
kernel whose loop branches on data (component convergence, BFS early
stop, the BPE argmax) still runs the jobs that read that data.

``persist()`` caches with an owner that unpersists them are not lineage
cuts and do not go through here.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

_CAPTURING: ContextVar[bool] = ContextVar("plan_capture", default=False)


def materialize(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage eagerly (see the module docstring)."""
    if _CAPTURING.get():
        return df
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


@contextmanager
def plan_capture() -> Iterator[None]:
    """Within the block, :func:`materialize` leaves plans lazy."""
    token = _CAPTURING.set(True)
    try:
        yield
    finally:
        _CAPTURING.reset(token)
