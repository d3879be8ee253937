"""The engine's one materialization barrier.

A barrier materializes a DataFrame and cuts its lineage there. Iterative
builders need one per round: each round's plan references the previous
round's, so without a cut the logical plan grows with the round count
and Catalyst's analysis and optimization time, not the data, becomes the
bottleneck. Single-pass builders use one where a plan fragment is read
more than once (both sides of a self-join, a loop-invariant edge list) or
where Catalyst would otherwise inline a costly projection into every use.
Where a barrier goes is the main cost lever of an iterative plan, so every
site in the package goes through :func:`barrier`.

Local-mode policy: ``barrier`` uses ``localCheckpoint``. Its blocks live
in the executors' block managers and the lineage behind them is dropped,
which trades fault tolerance for speed: an executor lost after a barrier
fails the job instead of recomputing the lost blocks. In ``local[N]`` the
executors are the driver JVM, so there is no executor to lose apart from
the whole application. On a long-running cluster job, set a reliable
``spark.sparkContext.setCheckpointDir(...)`` and replace the
``localCheckpoint`` call in :func:`barrier` with ``checkpoint``; the
call sites and their loop structure stay as they are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_checkpoint(df: DataFrame) -> None:
    """Release the executor block-manager blocks behind a
    ``localCheckpoint``-ed DataFrame NOW, instead of waiting for the
    nondeterministic ContextCleaner GC cycle. The frame (and every plan
    built on it) is unusable afterwards — only call on superseded
    intermediates or retired index artifacts, never on a frame still
    reachable by a caller."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        # Not a checkpoint-backed plan (or a future Spark moved the
        # accessor): fall back to ContextCleaner GC rather than fail the
        # job over a memory-hygiene optimization.
        pass


def barrier(
    df: DataFrame, *, eager: bool = True, supersedes: DataFrame | None = None
) -> DataFrame:
    """``df`` materialized behind a lineage cut (``localCheckpoint``).

    ``eager=False`` defers the materialization to the first action on the
    result. ``supersedes`` is the previous round's barrier, freed with
    :func:`free_checkpoint` once ``df`` is materialized. The order is
    required: ``df``'s plan usually reads ``supersedes``, and freeing it
    first makes the materialization fail with a Py4J error. For the same
    reason a lazy barrier (``eager=False``) takes no ``supersedes``."""
    out = df.localCheckpoint(eager=eager)
    if supersedes is not None:
        free_checkpoint(supersedes)
    return out
