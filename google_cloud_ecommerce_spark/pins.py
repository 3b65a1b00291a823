"""How an intermediate is computed once for its consumers.

Every ``localCheckpoint`` in the package is one of the two calls below,
and ``tests/test_pins.py`` keeps it that way. A caller pins a frame
only when two or more consumers read it (or when a plan shape needs the
cut lineage, e.g. an RDD scan as a join side); a frame with a single
consumer stays in the plan, where Catalyst and AQE can see through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Lazy pin for an intermediate that several consumers read: the
    lineage is cut, and every consumer reads the same blocks instead of
    re-running (and, for sampled range boundaries or
    ``monotonically_increasing_id``, re-dealing) the upstream chain.

    Caveat, measured on Spark 4.1 under AQE: a lazy pin still runs its
    upstream stages at build time. Creating the checkpointed frame asks
    ``AdaptiveSparkPlanExec`` for its RDD, which materializes every
    upstream shuffle stage (and the range-boundary sampling job). Only
    the final pass that writes the pinned blocks waits for the first
    action that reads them. So a pin is a job barrier plus build
    latency, and a registry call's build time includes the work up to
    it."""
    return df.localCheckpoint(eager=False)


def pin_result(df: DataFrame) -> DataFrame:
    """Eager pin for a result that must outlive the scratch dirs it was
    read from (replay chunks, stream checkpoints, sink and state dirs):
    the blocks are written now, executor-side, so the caller may remove
    those dirs before the frame is read. The result never rides through
    the driver, and no result directory is written; the blocks go when
    the frame does."""
    return df.localCheckpoint(eager=True)
