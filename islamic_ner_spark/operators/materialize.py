"""The engine's one lineage cut and its one cache: every eager
checkpoint and every ``persist()`` goes through here.

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

A cache is not a lineage cut: the frame keeps its plan and Spark may
evict blocks and recompute them.  :func:`cache` persists a frame into an
*owner*, a list whose holder releases it.  One rule decides who that
is: a function caches only into an owner its caller passes in (a
``persisted`` list, e.g. ``GraphBuildResult.persisted``), and with no
owner it caches nothing.  Caches that live only inside one call go into
a local owner from :func:`owned`, which releases them in ``finally``,
so an exception cannot leave them behind.
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


def cache(df: DataFrame, owner: list | None) -> DataFrame:
    """``df`` persisted into ``owner``; with no owner, ``df`` unchanged."""
    if owner is None:
        return df
    df = df.persist()
    owner.append(df)
    return df


def release(owner: list) -> None:
    """Unpersist every cache in ``owner`` and empty it."""
    while owner:
        owner.pop().unpersist()


@contextmanager
def owned() -> Iterator[list]:
    """A local owner for :func:`cache`, released when the block exits."""
    owner: list = []
    try:
        yield owner
    finally:
        release(owner)


@contextmanager
def plan_capture() -> Iterator[None]:
    """Within the block, :func:`materialize` leaves plans lazy."""
    token = _CAPTURING.set(True)
    try:
        yield
    finally:
        _CAPTURING.reset(token)
