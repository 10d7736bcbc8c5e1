"""Temporal join operators: the distributed as-of join.

The scalable as-of shape is union-then-window, NOT a per-pair join:
tag both sides, shuffle ONCE on the key, and carry the right side's
last value forward with ``last(..., ignorenulls=True)`` over the
event-time order — state per key is one running value, so the plan is
linear in rows at any scale. A range join would re-scan each key's
right-side history per left row. Used by
queries/events_queries.py events_asof_last_purchase (oracle-checked)
and property-tested against a Python reference in
tests/test_properties.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    out_col: str = "asof_value",
) -> DataFrame:
    """For every ``left`` row, the ``right`` row's ``value_col`` with
    the largest ``ts_col`` <= the left row's — per ``key_col``.

    Ties: a right row AT the left row's timestamp matches (sorts
    before it); among equal-timestamp right rows the largest value
    wins (deterministic). Returns the left rows + ``out_col``
    (NULL when no right row is at-or-before).
    """
    lcols = left.columns
    tagged = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(value_col).alias("__asof_v"),
        F.lit(0).alias("__asof_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in (key_col, ts_col)],
    ).unionByName(
        left.select(
            F.col(key_col),
            F.col(ts_col),
            F.lit(None).cast(right.schema[value_col].dataType).alias("__asof_v"),
            F.lit(1).alias("__asof_side"),
            *[F.col(c) for c in lcols if c not in (key_col, ts_col)],
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col("__asof_side"), F.col("__asof_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried: Column = F.last("__asof_v", ignorenulls=True).over(w)
    return (
        tagged.withColumn(out_col, carried)
        .filter(F.col("__asof_side") == 1)
        .select(*lcols, out_col)
    )


def sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch sessionization: the classic lag + running-sum session
    assignment. One shuffle on the key; a new session starts where the
    gap to the previous event exceeds ``gap_seconds``. Returns
    (key, session_seq, n_events, session_start, session_end) with
    session_seq numbering each key's sessions from 1 in time order.

    The streaming twin is streaming/events.py sessionize_stream
    (applyInPandasWithState); the oracle-checked query
    events_sessionization is a thin call on this."""
    order_cols = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # timestamps compare exactly, in microseconds: a whole-second cast
    # would let a 1800.3 s gap stay inside the session
    if isinstance(events.schema[ts_col].dataType, TimestampType):
        t = F.unix_micros(F.col(ts_col))
        limit = gap_seconds * 1_000_000
    else:
        t, limit = F.col(ts_col).cast("long"), gap_seconds
    gap = t - F.lag(t).over(w)
    new_session = F.when(gap.isNull() | (gap > limit), 1).otherwise(0)
    sessions = events.select(
        F.col(key_col), F.col(ts_col), F.sum(new_session).over(run).alias("session_seq")
    )
    return (
        sessions.groupBy(key_col, "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )
