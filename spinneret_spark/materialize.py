"""How hot relations get pinned.

Several plans pin a relation that two or more downstream consumers
read (separate actions, or both sides of a self-join): Spark does NOT
share subplans across self-join sides or separate actions, so without
a pin the expensive build replays once per consumer. A relation that
feeds a single action needs no pin.

The pin is ``localCheckpoint()``: eager, lineage-truncating, blocks
held by the executors that computed them. On a multi-executor cluster
a lost executor fails the query instead of recomputing the blocks;
``persist`` plus an eager fill would keep the lineage for that case at
the cost of one extra count job per pin, so it is not used. Callers
that rely on a pin for CORRECTNESS — ``pack_sequences`` pins
nondeterministic range-sampling boundaries so two branches see the
same partitioning, the CC loop truncates iterative lineage — call
``localCheckpoint`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Pin a relation read by two or more consumers (eager)."""
    return df.localCheckpoint()
