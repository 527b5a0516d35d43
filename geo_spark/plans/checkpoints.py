"""Retired-localCheckpoint release for iterative operators.

Every iterative operator in the engine (pagerank/HITS/trustrank, BFS
seed distances, label propagation, k-core peeling, pointer-jumping
redirect resolution, delta-frontier Bellman-Ford, the ring-kNN
distributed tier, BPE training, k-center coresets, large/small-star
connected components) truncates lineage per round with
``localCheckpoint`` — necessary, or the logical plan grows
multiplicatively per round and OOMs the driver.  But each checkpoint
persists its blocks (MEMORY_AND_DISK on the executors) until session
end: without an explicit release, a K-round job holds K copies of its
per-round state, and on a 100 TB deployment the per-round state
(a rank vector over all pages, the BPE token table) is itself large
(ADVICE r4 flagged the pattern in dedup_clusters; this module is the
engine-wide fix).

``DataFrame.unpersist`` cannot release it — the blocks hang off the
internal checkpointed RDD, which the cache manager does not track —
so :func:`free_local_checkpoint` reaches the ``LogicalRDD``'s RDD
through the analyzed plan.  Guarded: a DataFrame whose analyzed plan
is not a plain checkpoint scan (e.g. a lazy filter over one) is a
no-op, as is any py4j surprise.  The return value says which happened
(True only when blocks were released), so a Spark upgrade that moves
``LogicalRDD`` fails a test instead of silently leaking.

CONTRACT: only ever call on a table no consumer will touch again — a
freed localCheckpoint cannot be recomputed (lineage is gone); a later
action over it fails with a missing-block error.  The loops in this
package therefore free round k-1's table strictly AFTER round k's
checkpoint has materialized (eager=True, the default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_local_checkpoint(df: DataFrame | None) -> bool:
    """Unpersist ``df``'s checkpointed RDD; True when it did, False for
    None, any other plan class, or a swallowed py4j error."""
    if df is None:
        return False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
