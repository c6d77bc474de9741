"""Gap-based sessionization — the engine's flagship operator.

Semantics replicate the reference pipeline
``etl-ddl-backfill.sql:122-193`` exactly:

1. ``prev_end = LAG(end_col) OVER (PARTITION BY keys ORDER BY start)``
   (reference ``:143-146``) — the gap is measured from the *previous
   event's end*, not its start (so ``session_window`` is NOT a drop-in,
   SURVEY §2.6).
2. ``gap = start - prev_end``; a session break is a NULL gap (first
   event of the partition) or ``gap > gap_seconds`` (strictly greater —
   a gap of exactly 300 s stays in-session, reference ``:154``).
3. ``session_id = SUM(break) OVER (... ORDER BY start)`` — running sum,
   1-based per partition (reference ``:162-165``). Spark's default
   frame with an ORDER BY is ``RANGE UNBOUNDED PRECEDING..CURRENT
   ROW``, identical to Snowflake's, so ties share an id (SURVEY
   §1.4-6).
4. Per-session ``MIN(start)/MAX(end)/SUM(duration)`` with
   ``HAVING total_duration >= min_total_duration`` (``>=`` — exactly
   180 s survives, reference ``:184-193``).

Scale notes: one shuffle on ``partition_cols`` feeds both window
functions; when ``group_cols`` is a superset of ``partition_cols`` (the
reference's shape, keys ``:190-192``) Catalyst's EnsureRequirements
reuses that exchange for the final aggregation, so the whole pipeline
is a single shuffle. Skewed households are handled by AQE skew-join /
partial aggregation; no Python crosses the row path (pure JVM codegen).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 300
DEFAULT_MIN_TOTAL_DURATION = 180


def _order_cols(order_col: str, tiebreak_cols: Sequence[str] | None) -> list[Column]:
    cols = [F.col(order_col)]
    cols += [F.col(c) for c in (tiebreak_cols or [])]
    return cols


def with_session_ids(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    end_col: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    tiebreak_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Annotate events with ``gap_seconds``, ``session_break``,
    ``session_id`` (reference ``etl-ddl-backfill.sql:123-167``).

    ``tiebreak_cols`` optionally extends the window ordering with a
    unique key; when set, the running sum uses an explicit ROWS frame
    (equivalent under a unique ordering, and deterministic).
    """
    order = _order_cols(order_col, tiebreak_cols)
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    gap = F.col(order_col) - F.lag(end_col).over(w)
    brk = F.when(gap.isNull() | (gap > F.lit(gap_seconds)), F.lit(1)).otherwise(F.lit(0))
    out = df.withColumn("gap_seconds", gap).withColumn("session_break", brk)
    w_sum = Window.partitionBy(*partition_cols).orderBy(*order)
    if tiebreak_cols:
        w_sum = w_sum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return out.withColumn("session_id", F.sum("session_break").over(w_sum))


def sessionize(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_col: str,
    end_col: str,
    duration_col: str,
    group_cols: Sequence[str] | None = None,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    min_total_duration: int | None = DEFAULT_MIN_TOTAL_DURATION,
    tiebreak_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Full sessionization: ids -> per-session MIN/MAX/SUM + HAVING.
    ``min_total_duration=None`` drops the HAVING: every session.

    ``group_cols`` defaults to ``partition_cols`` and, per the
    reference (keys at ``etl-ddl-backfill.sql:190-192`` include
    ``panel_weight``), MAY be a superset — a gap-session spanning two
    weights then splits into multiple output rows sharing a
    ``session_id``; preserved deliberately (SURVEY §1.4-5).
    """
    ids = with_session_ids(
        df, partition_cols, order_col, end_col, gap_seconds, tiebreak_cols
    )
    keys = list(group_cols or partition_cols) + ["session_id"]
    out = ids.groupBy(*keys).agg(
        F.min(order_col).alias("session_start_ts"),
        F.max(end_col).alias("session_end_ts"),
        F.sum(duration_col).alias("total_duration"),
    )
    if min_total_duration is None:
        return out
    return out.filter(F.col("total_duration") >= F.lit(min_total_duration))
