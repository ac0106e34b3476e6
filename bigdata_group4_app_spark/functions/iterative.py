"""Convergence plumbing for iterative DataFrame loops.

Every fixpoint loop in this engine (min-label propagation, alternating
star CC, k-core peeling, frontier BFS) follows the same round shape:
materialize the round's state with an eager ``localCheckpoint`` (lineage
truncation — CLAUDE.md iterative rule), then ask a scalar question about
that state ("how many rows changed?", "is the edge set identical to last
round's?") to decide whether to stop.  Asking with a separate ``count()``
(or worse, ``exceptAll``) costs one extra Spark JOB per round — and at
the toy SFs the driver benches, these loops are bounded by the ~0.15-0.3
s/job scheduling floor, not by data, so the convergence-check job is a
measurable fraction of every iterative query's wall (guide §1.2 step 1:
don't compute things you throw away; VERDICT r13 next-round item 3).

``checkpoint_with_metrics`` folds the question INTO the materialization:
``DataFrame.observe`` attaches aggregate metrics that Spark computes on
the rows flowing through the checkpoint's own action, so a round costs
exactly ONE job and the convergence scalars ride along for free.  The
metrics are exact aggregates over the full checkpointed row set (the
CollectMetrics node sits above the full plan), not estimates — the loop
semantics and round counts are bit-identical to the count()-based form.

``shuffle_width`` is the one way a loop scopes
``spark.sql.shuffle.partitions`` down for its small-relation tail: the
session width is saved, set and restored under one process-wide lock,
so concurrent scoped loops on a shared session run one at a time and
the session always returns to the width it had before the scope.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
# Re-entrant: a scoped loop may call another scoped helper on the same
# thread (nested scopes restore LIFO).  Process-wide, not per session:
# the conf is session state shared by every thread using the session.
_WIDTH_LOCK = threading.RLock()


@contextmanager
def shuffle_width(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``
    and restore the previous width on exit, also when the block raises.

    The lock is held for the whole scope: a second thread entering a
    scope waits, so it can never save another scope's narrowed width as
    its "previous" value and leak it to every later query.  Exchanges
    take their width from the conf at planning time — anything that must
    run at ``n`` (an eager ``localCheckpoint``, a ``collect``) belongs
    inside the block.
    """
    with _WIDTH_LOCK:
        prev = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(n))
        try:
            yield
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def checkpoint_with_metrics(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return the checkpointed
    frame plus the observed aggregate ``metrics``, computed during the
    checkpoint's own materialization job (zero extra jobs per round).

    ``metrics`` are aggregate expressions over ``df``'s columns (e.g.
    ``F.count(F.lit(1))``, ``F.sum(...)``) — the same contract as
    ``DataFrame.observe``.
    """
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint()
    return out, obs.get
