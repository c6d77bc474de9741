"""Scale-pattern queries over the events table: rank-based
percentiles, pivoted matrices, JSON extraction, gap and rolling
windows, winsorized statistics and calendar densification.

These cover analytics surface the reference's SQL never needed
(ranking window functions, top-k selection, PIVOT — all listed as
"absent" in SURVEY §2.6-2.7). Every query returns engine-independent
values, so each one oracle-checks against plain ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# (alias, numerator, denominator): discrete percentile p selects the
# value at row ceil(p*n) = (num*n + den - 1) DIV den — all-integer, so
# Spark and DuckDB agree bit-for-bit (interpolated quantile_cont would
# hang the hash on last-bit float rounding).
_PCTS = [("p50_cents", 1, 2), ("p90_cents", 9, 10), ("p99_cents", 99, 100)]


def _typed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )


_EV_CTE = """
ev AS (
  SELECT event_id, user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
"""


# ---------------------------------------------------------------- q36

def _pct_oracle() -> str:
    sel = ",\n  ".join(
        f"MAX(CASE WHEN rn = (n * {num} + {den - 1}) // {den} "
        f"THEN cents END) AS {alias}"
        for alias, num, den in _PCTS
    )
    return f"""
WITH {_EV_CTE},
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type,
  {sel},
  CAST(MAX(n) AS BIGINT) AS n_events
FROM ranked GROUP BY event_type
"""


@query("q36_value_percentiles", oracle=_pct_oracle())
def q36_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete p50/p90/p99 per event type via ranking windows —
    row_number + count over the same partition, one shuffle, then the
    selected ranks fold into one row per type with conditional MAX.
    Discrete (value-at-rank) rather than interpolated: all-integer
    selection is engine-portable, and at scale it reads one sorted
    pass instead of an exact-quantile buffer."""
    ev = _typed_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn")
                == F.expr(f"(n * {num} + {den - 1}) DIV {den}"),
                F.col("cents"),
            )
        ).alias(alias)
        for alias, num, den in _PCTS
    ]
    return ranked.groupBy("event_type").agg(
        *picks, F.max("n").cast("long").alias("n_events")
    )


# ---------------------------------------------------------------- q37

def _pivot_oracle() -> str:
    cols = ",\n  ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN cents END) "
        f"AS BIGINT) AS {t}_cents"
        for t in _EVENT_TYPES
    )
    return f"""
WITH {_EV_CTE},
dma_map AS (
  SELECT c.c_custkey AS u_key, n.n_name AS dma
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT dma,
  {cols}
FROM ev JOIN dma_map ON ev.user_id = dma_map.u_key
GROUP BY dma
"""


@query("q37_pivot_event_matrix", oracle=_pivot_oracle())
def q37_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DMA x event-type value matrix via native pivot with an
    EXPLICIT value list — without it Spark runs an extra distinct
    job and the column set becomes data-dependent (schema drift on
    late-arriving types). The dim joins broadcast; the pivot itself
    is one hash aggregate producing 5 columns, not 5 passes."""
    ev = _typed_events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("u_key"), "c_nationkey"
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", F.col("n_name").alias("dma")
    )
    dma_map = F.broadcast(
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("u_key", "dma")
    )
    pivoted = (
        ev.join(dma_map, ev.user_id == dma_map.u_key)
        .groupBy("dma")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("cents"))
    )
    return pivoted.select(
        "dma",
        *[F.col(t).cast("long").alias(f"{t}_cents") for t in _EVENT_TYPES],
    )


# ---------------------------------------------------------------- q54

_JSON_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ev GROUP BY 1
"""


@query("q54_json_props_extract", oracle=_JSON_ORACLE)
def q54_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` column and aggregate. ``get_json_object`` is a JVM
    path-evaluator (no schema inference pass, no UDF); at 100 TB
    prefer ``from_json`` with an explicit schema when extracting many
    fields (one parse instead of N path scans) — single-field pulls
    like this stay with the cheaper path evaluator."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------- q55

_DECILE_ORACLE = f"""
WITH {_EV_CTE},
d AS (
  SELECT event_type, cents,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY cents, event_id) AS decile
  FROM ev
)
SELECT event_type, CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents
FROM d GROUP BY 1, 2
"""


@query("q55_value_deciles", oracle=_DECILE_ORACLE)
def q55_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value deciles via NTILE — equi-COUNT bucketing (vs
    q36's value-at-rank selection). The unique (cents, event_id)
    ordering makes tile assignment engine-deterministic; one window
    shuffle, then an additive rollup per (type, decile)."""
    ev = _typed_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    return (
        ev.select(
            "event_type",
            "cents",
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# ---------------------------------------------------------------- q56

_GAP_ORACLE = f"""
WITH {_EV_CTE},
ts AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events
),
gaps AS (
  SELECT user_id,
         lead(ts_sec) OVER (PARTITION BY user_id
                            ORDER BY ts_sec, event_id) - ts_sec
           AS gap_s
  FROM ts
)
SELECT user_id,
       CAST(count(gap_s) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       CAST(sum(gap_s) AS BIGINT) AS total_gap_s
FROM gaps GROUP BY 1
"""


@query("q56_inter_event_gaps", oracle=_GAP_ORACLE)
def q56_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking inter-event gap stats per user via LEAD (the
    mirror of sessionization's LAG; completes the offset-window
    family). Window and the subsequent groupBy share the user_id
    partitioning, so the rollup adds no second shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from .core import _epoch_seconds

    ts = ev.select(
        "user_id", "event_id", _epoch_seconds(ev, "ts").alias("ts_sec")
    )
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    gaps = ts.select(
        "user_id",
        (F.lead("ts_sec").over(w) - F.col("ts_sec")).alias("gap_s"),
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        F.sum("gap_s").cast("long").alias("total_gap_s"),
    )


# ---------------------------------------------------------------- q57

_ROLLING_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
daily AS (
  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
)
SELECT event_type, day, n,
       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rolling_7d
FROM daily
"""


@query("q57_rolling_7day_volume", oracle=_ROLLING_ORACLE)
def q57_rolling_7day_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-7-day event volume per type: daily pre-aggregation
    first (the window then runs over ~types x days rows, not raw
    events), then an explicit RANGE frame keyed on the integer day —
    value-based, so calendar gaps are handled without densification.
    Covers the explicit-frame window surface (SURVEY §2.6 lists it
    absent from the reference)."""
    from .core import _epoch_seconds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = (
        ev.select(
            "event_type",
            _epoch_seconds(ev, "ts").alias("ts_sec"),
        )
        .select(
            "event_type", F.expr("ts_sec DIV 86400").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).cast("long").alias("rolling_7d"),
    )


# ---------------------------------------------------------------- q82

_WINSOR_ORACLE = f"""
WITH {_EV_CTE},
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
pcts AS (
  SELECT event_type,
         CAST(max(n) AS BIGINT) AS n_rows,
         max(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END)
           AS p05_cents,
         max(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END)
           AS p95_cents
  FROM ranked GROUP BY 1
)
SELECT r.event_type, p.n_rows, p.p05_cents, p.p95_cents,
       CAST(sum(least(greatest(r.cents, p.p05_cents), p.p95_cents))
         AS BIGINT) AS winsorized_sum_cents,
       CAST(sum(CASE WHEN r.cents < p.p05_cents THEN 1 ELSE 0 END)
         AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN r.cents > p.p95_cents THEN 1 ELSE 0 END)
         AS BIGINT) AS n_clipped_high
FROM ranked r JOIN pcts p USING (event_type)
GROUP BY 1, 2, 3, 4
"""


@query("q82_winsorized_stats", oracle=_WINSOR_ORACLE)
def q82_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (percentile-clipped) robust aggregates per group:
    exact p05/p95 by rank selection (q36's all-integer technique),
    broadcast the tiny per-group stats back, clip with
    least/greatest, re-aggregate — the canonical
    compute-stats-then-rewrite-the-data shape every outlier-robust
    training pipeline needs. One window shuffle on event_type, one
    broadcast join; at 100 TB with heavy group skew swap the exact
    rank pass for q78's mergeable histogram quantiles (same clip
    path, sketch-bounded stats pass)."""
    from pyspark.sql import Window

    ev = _typed_events(spark, sf_dir).select(
        "event_type", "event_id", "cents"
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    cw = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    ranked = ranked.localCheckpoint(eager=True)  # reused: pcts + clip
    t05 = F.expr("(n * 5 + 99) DIV 100")
    t95 = F.expr("(n * 95 + 99) DIV 100")
    pcts = ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max(F.when(F.col("rn") == t05, F.col("cents"))).alias(
            "p05_cents"
        ),
        F.max(F.when(F.col("rn") == t95, F.col("cents"))).alias(
            "p95_cents"
        ),
    )
    clipped = ranked.join(F.broadcast(pcts), "event_type").select(
        "event_type",
        "n_rows",
        "p05_cents",
        "p95_cents",
        F.least(
            F.greatest(F.col("cents"), F.col("p05_cents")),
            F.col("p95_cents"),
        ).alias("wc"),
        (F.col("cents") < F.col("p05_cents")).cast("long").alias("lo"),
        (F.col("cents") > F.col("p95_cents")).cast("long").alias("hi"),
    )
    return clipped.groupBy(
        "event_type", "n_rows", "p05_cents", "p95_cents"
    ).agg(
        F.sum("wc").cast("long").alias("winsorized_sum_cents"),
        F.sum("lo").cast("long").alias("n_clipped_low"),
        F.sum("hi").cast("long").alias("n_clipped_high"),
    )


# ---------------------------------------------------------------- q94

_OHLC_ORACLE = """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT event_type, ts_sec // 86400 AS day, ts_sec, event_id, cents
  FROM ev
),
ranked AS (
  SELECT event_type, day, cents,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY ts_sec, event_id) AS rn_open,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY ts_sec DESC, event_id DESC)
           AS rn_close
  FROM d
)
SELECT event_type, day,
       CAST(count(*) AS BIGINT) AS n_events,
       max(CASE WHEN rn_open = 1 THEN cents END) AS open_cents,
       max(CASE WHEN rn_close = 1 THEN cents END) AS close_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents
FROM ranked GROUP BY 1, 2
"""


@query("q94_daily_ohlc", oracle=_OHLC_ORACLE)
def q94_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-by-time aggregation (the OHLC shape): open = value
    of the EARLIEST event in the (type, day) group, close = latest,
    plus min/max — all in ONE hash aggregate using ordered-struct
    min/max (min of (ts, id, cents) structs picks the open row), no
    ranking window over the events at all. The oracle computes the
    same rows with explicit rank windows, pinning the struct
    tie-break semantics. At 100 TB this is the difference between a
    map-side-combinable aggregate and a full sort per group."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from .core import _epoch_seconds

    d = ev.select(
        "event_id",
        "event_type",
        _epoch_seconds(ev, "ts").alias("ts_sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).select(
        "event_type",
        F.expr("ts_sec DIV 86400").alias("day"),
        "ts_sec",
        "event_id",
        "cents",
    )
    open_s = F.struct("ts_sec", "event_id", "cents")
    return d.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(open_s)["cents"].alias("open_cents"),
        F.max(open_s)["cents"].alias("close_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
    )


# ---------------------------------------------------------------- q99

_VARIANT_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(CASE WHEN k % 2 = 0 THEN k END) AS BIGINT) AS sum_even_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ev GROUP BY 1
"""


@query("q99_variant_extract", oracle=_VARIANT_ORACLE)
def q99_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark
    4's binary semi-structured encoding — the engine-native answer to
    Snowflake's VARIANT): ``parse_json`` once into a variant column,
    then typed ``try_variant_get`` field pulls. Unlike q54's
    per-path string evaluator, the parse cost is paid ONCE however
    many fields are extracted, and the binary encoding pushes
    through shuffles ~2-8x smaller than raw JSON text — the right
    default when a props blob yields several columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.try_variant_get("v", "$.k", "long")
    proj = ev.select("event_type", k.alias("k"))
    return proj.groupBy("event_type").agg(
        F.count("k").cast("long").alias("n_with_k"),
        F.sum(F.when(F.col("k") % 2 == 0, F.col("k")))
        .cast("long")
        .alias("sum_even_k"),
        F.max("k").cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------- q101

_DENSE_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
daily AS (
  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events
  FROM ev GROUP BY 1, 2
),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
grid AS (
  SELECT t.event_type, CAST(d.day AS BIGINT) AS day
  FROM (SELECT DISTINCT event_type FROM ev) t,
       span s, unnest(range(s.lo, s.hi + 1)) AS d(day)
)
SELECT g.event_type, g.day,
       CAST(coalesce(dl.n_events, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN dl.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_gap
FROM grid g LEFT JOIN daily dl
  ON g.event_type = dl.event_type AND g.day = dl.day
"""


@query("q101_calendar_densification", oracle=_DENSE_ORACLE)
def q101_calendar_densification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap-filled daily series: every (type, day) cell of the
    observed calendar span exists, zeros where no events landed —
    what every downstream window/forecast consumer assumes. The
    event-grain work is the one daily aggregate; the join that
    densifies it broadcasts the DAILY side, and that is safe at any
    corpus size: daily is the aggregate at exactly (type, day) grain,
    so its row count is bounded by the grid's |types| x |days| — the
    broadcast never grows with raw event volume. (Broadcasting the
    grid instead is not an option Catalyst accepts here: the grid is
    the preserved side of the left-outer join, and BroadcastHashJoin
    only builds the non-preserved side.) The is_gap flag doubles as
    the missing-feed-day monitor next to q86's volume anomalies."""
    from .core import _epoch_seconds

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = raw.select(
        "event_type", _epoch_seconds(raw, "ts").alias("ts_sec")
    ).select("event_type", F.expr("ts_sec DIV 86400").alias("day"))
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    lo, hi = ev.agg(F.min("day"), F.max("day")).collect()[0]
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(int(lo), int(hi) + 1).select(
                F.col("id").alias("day")
            )
        )
    )
    return grid.join(F.broadcast(daily), ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("n_events").isNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_gap"),
    )
