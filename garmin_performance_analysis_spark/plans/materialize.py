"""Releasing materialized frames.

Iterative kernels pin their working sets (``persist`` for a data-sized
input read by several passes, an eager ``localCheckpoint`` per round to
cut lineage).  Those blocks stay in the block manager for the session's
lifetime unless the code that pinned them frees them, so a long-lived
session (the tool facade, a streaming replay loop) accumulates them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(df: DataFrame) -> None:
    """Free the blocks ``df`` pins: its ``persist``/``cache`` entry and,
    for a frame returned by ``localCheckpoint``, the checkpointed RDD
    under its ``LogicalRDD`` leaf (``DataFrame.unpersist`` only clears
    cache-manager entries and never reaches that RDD).  ``df`` must not
    be read afterwards."""
    df.unpersist(False)
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
