"""Event sessionization (gap-based) — the batch formulation of the
classic stateful-streaming operator, expressed with window functions
so it is engine-portable and shuffle-minimal (one shuffle on user_id;
both window specs reuse the same partitioning, so Spark plans a single
exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Assign session ids: a session breaks when the gap from the
    previous event exceeds ``gap_seconds``. Ordering is made total via
    the tiebreak column, so output is deterministic."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # interval arithmetic works for TIMESTAMP and TIMESTAMP_NTZ alike
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap_seconds} SECONDS")),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(is_new).over(w)
    )

