"""localCheckpoint lifecycle helpers (r12 verdict item 4).

``DataFrame.localCheckpoint`` materializes the plan into persisted RDD
blocks (MEMORY_AND_DISK) that live until the backing RDD is
unpersisted. Spark's ContextCleaner only does that when the JVM-side
Dataset is garbage-collected, which behind py4j's lazy reference GC in
a long-lived session is effectively unbounded — so iterative operators
that checkpoint per round (pagerank / LPA / k-core / BFS / k-means /
BPE / incremental dedup) were accumulating O(rounds) block sets per
invocation for the session lifetime.

Contract pinned here and tested by
tests/test_checkpoint_hygiene.py::test_iteratives_release_superseded:

* inside a loop, each round's new checkpoint explicitly releases the
  one it supersedes (``checkpoint_replacing``), so an invocation holds
  at most a couple of round snapshots at any moment;
* the FINAL checkpoint is owned by the returned DataFrame — the
  operator cannot release it (the caller's plan reads those blocks).
  It is reclaimed by the ContextCleaner when the caller drops the
  DataFrame, or deterministically via ``release(df)`` once the caller
  is done re-executing it. Steady-state growth is therefore at most
  one node-sized block set per in-flight result, not one per round.

Only EAGER (or already-materialized) checkpoints may be released:
localCheckpoint TRUNCATES lineage, so unpersisting blocks that a
not-yet-materialized lazy checkpoint still needs would make that plan
unrecomputable (job failure, not a recompute). ``checkpoint_replacing``
therefore always checkpoints eagerly; lazy loops release manually after
their next materialization point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["checkpoint_replacing", "release"]


def release(df: DataFrame | None) -> bool:
    """Best-effort unpersist of every checkpoint block set ``df``'s
    plan reads (all ``LogicalRDD`` leaves — a checkpointed DataFrame
    is usually consumed through a projection, so the checkpoint scan
    sits below the root).

    Returns True when at least one backing RDD was unpersisted; False
    for None, plans with no checkpoint scans, or any py4j surprise
    (never raises — a failed release degrades to the old
    ContextCleaner behavior). Only call on a result you own and are
    done re-executing: the blocks are unrecomputable once freed.
    """
    if df is None:
        return False
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        freed = False
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
                freed = True
        return freed
    except Exception:  # noqa: BLE001 - degrade to ContextCleaner GC
        return False


def checkpoint_replacing(
    df: DataFrame, replacing: DataFrame | None = None
) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + release of the checkpoint it
    supersedes.

    The release happens AFTER the new checkpoint materializes, at which
    point the old blocks are provably unreferenced by it.
    """
    out = df.localCheckpoint(eager=True)
    if replacing is not None:
        release(replacing)
    return out
