"""One driver for the engine's iterative loops: PageRank, label
propagation, connected components (plain and bucketed), BFS, k-core,
min-label components, power iteration and Lloyd k-means.

A loop is an initial state and a ``step(state, round) -> state`` that
holds only the round's join/aggregate logic.  ``fixpoint`` alone decides
the four things every loop used to restate:

1. **Materialization.**  The initial state and every round's state are
   materialized eagerly, exactly once, by ``localCheckpoint()``: lineage
   is truncated, so each round plans a constant-size tree and the
   returned frame is one scan of the last round's blocks.  Eager matters:
   a lazy checkpoint or ``persist()`` probed by ``limit(1)`` leaves
   unread partitions to recompute through the whole lineage in the next
   round (connected components measured 7.5-9.6 s lazy vs 6.5-7.3 s
   eager at sf0.1).  Local checkpoints are pinned in executor storage:
   right for one JVM with no I/O, but an executor loss (spot reclaim,
   scale-down, OOM kill) destroys them and the truncated lineage cannot
   recompute, so the job restarts from round zero.  The cluster-mode
   twins (``graph_pagerank_bucketed_rounds``,
   ``graph_connected_components_bucketed``) pass ``materialize=`` a
   writer that stores each round as a bucketed table instead: durable,
   and it makes the next round's node-keyed join exchange-free, which
   pays for the write on long loops.
2. **Convergence.**  A step that emits the boolean column ``CHANGED``
   runs until the first round in which no row is flagged; the probe is
   one ``limit(1)`` job over the materialized state, and the column is
   dropped before the state reaches the next step or the caller.  A
   ``shrinks=True`` loop (monotone peeling, where a state only loses
   rows) stops at the first round whose row count repeats, probed with
   one ``count()``.  Any other loop runs exactly ``max_rounds`` rounds.
3. **Budget.**  A converging loop that is still changing after
   ``max_rounds`` raises ``RuntimeError`` naming the operator, rather
   than returning a possibly-unconverged state.
4. **Release.**  The previous round's state is dropped as soon as the
   next one is materialized.  Local-checkpoint blocks are then reclaimed
   by Spark's ContextCleaner or the query-boundary ``clear_caches``; the
   bucketed writers alternate two tables, so a round's table is
   overwritten two rounds later.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGED = "_fixpoint_changed"


def _local_checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint()


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    *,
    materialize: Callable[[DataFrame], DataFrame] = _local_checkpoint,
    shrinks: bool = False,
) -> DataFrame:
    """Run ``step`` from ``state`` (see the module docstring) and return
    the final materialized state.  ``round`` counts from 1.  A budget
    error names the function that defines ``step``: the operator."""
    state = materialize(state)
    converging = shrinks
    n_prev = None
    for i in range(1, max_rounds + 1):
        state = materialize(step(state, i))
        if CHANGED in state.columns:
            converging = True
            changed = state.filter(F.col(CHANGED)).limit(1).count() > 0
            state = state.drop(CHANGED)
        elif shrinks:
            n = state.count()
            changed, n_prev = n != n_prev, n
        else:
            continue
        if not changed:
            return state
    if converging:
        operator = step.__qualname__.rsplit(".<locals>.", 1)[0].rsplit(".", 1)[-1]
        raise RuntimeError(
            f"{operator}: still changing after its {max_rounds}-round budget; "
            "refusing to return a possibly-unconverged state"
        )
    return state
