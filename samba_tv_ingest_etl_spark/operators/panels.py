"""Panel windows + panel attribution.

``panel_windows`` — reference ``etl-ddl-backfill.sql:2-10``: DISTINCT
geo-weight drop dates that are actually Mondays, with a 28-day
coverage window ``[monday-28, monday-1]``. Snowflake's
``DAYOFWEEK(d) = 1`` means Monday (Sunday=0 policy); Spark's
equivalent is ``weekday(d) = 0`` (SURVEY §1.4-1 — the off-by-one that
breaks everything downstream).

``attribute_panels`` — reference ``etl-ddl-backfill.sql:86-88``: the
correlated scalar subquery
``(SELECT MAX(pw.panel_monday) FROM panel_windows pw
   WHERE e.metadata_date BETWEEN pw.window_start AND pw.window_end)``
is the one construct Spark SQL restricts (non-equi correlation). The
engine rewrites it (SURVEY §4.2-1). Two strategies:

- ``array`` (default): panel_windows is tiny by construction (one row
  per panel Monday — weekly cadence means a few hundred rows for a
  decade), so take the Mondays to the driver and evaluate
  ``array_max(filter(mondays, m -> d < m AND m <= d+28))`` per row.
  Because windows are exactly ``[m-28, m-1]``, membership in the
  window is equivalent to ``d < m <= d+28``; the filter checks against
  the *actual* Mondays so irregular/missing panels stay honest.
  Map-side only: no join, no shuffle, whole-stage codegen — the
  optimal plan at any scale while panel cadence is weekly. The
  caller may pass the Monday list itself instead of the windows
  frame: the incremental weighting task reads it from the
  ``panel_windows`` files on the driver (``sources/control.py``),
  which spares the collect job.
- ``join``: broadcast range join + per-event MAX, the general rewrite
  when the windows relation is too large or windows are arbitrary
  intervals. A surrogate row id keeps duplicate event rows distinct
  (the correlated subquery preserves multiplicity).

Both return NULL ``panel_monday`` for events no window covers — those
rows survive attribution and die at the weighting filter
(``etl-ddl-backfill.sql:118``), matching SURVEY §1.4-2.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PANEL_WINDOW_DAYS = 28


def panel_windows(geo_weights: DataFrame, date_col: str = "metadata_date") -> DataFrame:
    """DISTINCT Mondays -> (panel_monday, window_start, window_end)."""
    d = F.col(date_col)
    return (
        geo_weights
        .filter(F.weekday(d) == 0)  # Monday (Snowflake DAYOFWEEK(d)=1)
        .select(
            d.alias("panel_monday"),
            F.date_sub(d, PANEL_WINDOW_DAYS).alias("window_start"),
            F.date_sub(d, 1).alias("window_end"),
        )
        .distinct()
    )


def attribute_panels(
    events: DataFrame,
    windows: DataFrame | Sequence[dt.date],
    date_col: str = "metadata_date",
    out_col: str = "panel_monday",
    strategy: str = "array",
) -> DataFrame:
    """events + ``panel_monday`` = MAX covering Monday (NULL if none).
    ``windows``: the panel windows frame, or (``array`` strategy only)
    its ``panel_monday`` values."""
    if strategy == "array":
        if isinstance(windows, DataFrame):
            windows = [
                r["panel_monday"]
                for r in windows.select("panel_monday").collect()
            ]
        # dedupe on the driver: a DISTINCT would cost an exchange job
        # for a relation of one row per panel Monday
        mondays = sorted(set(windows))
        if not mondays:
            return events.withColumn(out_col, F.lit(None).cast("date"))
        d = F.col(date_col)
        arr = F.array(*[F.lit(m) for m in mondays])
        covering = F.filter(
            arr, lambda m: (m > d) & (m <= F.date_add(d, PANEL_WINDOW_DAYS))
        )
        return events.withColumn(out_col, F.array_max(covering))

    if strategy == "join":
        eid = "_attr_row_id"
        e = events.withColumn(eid, F.monotonically_increasing_id())
        w = F.broadcast(
            windows.select(
                F.col("panel_monday").alias("_pw_monday"),
                "window_start",
                "window_end",
            )
        )
        joined = e.join(
            w,
            (F.col(date_col) >= F.col("window_start"))
            & (F.col(date_col) <= F.col("window_end")),
            "left",
        )
        return (
            joined.groupBy(eid, *events.columns)
            .agg(F.max("_pw_monday").alias(out_col))
            .drop(eid)
        )

    raise ValueError(f"unknown strategy: {strategy}")
