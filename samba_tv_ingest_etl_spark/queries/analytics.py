"""Beyond-reference analytics surface over the engine's sketch,
sampling and packing operators: portable distinct and histogram
sketches, deterministic train/test splits and samples, and a
two-phase global cumulative sum.

The reference's SQL never needed these (SURVEY §2.5-§2.7), but a
100 TB training-data pipeline does: sketches for cheap cardinality
tracking across rollups, hash-splits for reproducible train/val/test
partitioning, and a global running total with no single-partition
exchange. All outputs are integer/string-exact so every query
oracle-checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketch as SK
from . import query

_K = 256

# DuckDB twin of operators/sketch.portable_hash60
_H60 = "('0x' || substr(sha256(CAST({col} AS VARCHAR)), 1, 15))::BIGINT"


# ---------------------------------------------------------------- q41

_SKETCH_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT event_type, {_H60.format(col="user_id")} AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM d
),
per AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS sketch_size,
         CAST(max(h) AS BIGINT) AS kth_min_hash
  FROM r WHERE rn <= {_K} GROUP BY event_type
),
g AS (SELECT DISTINCT h FROM d),
rg AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM g),
tot AS (
  SELECT '*all*' AS event_type,
         CAST(count(*) AS BIGINT) AS sketch_size,
         CAST(max(h) AS BIGINT) AS kth_min_hash
  FROM rg WHERE rn <= {_K}
)
SELECT * FROM per UNION ALL SELECT * FROM tot
"""


@query("q41_kmv_distinct_sketch", oracle=_SKETCH_ORACLE)
def q41_kmv_distinct_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type KMV distinct-user sketch plus the '*all*' row
    produced by MERGING the per-type sketches (not by rescanning
    events) — the oracle computes the global sketch directly from the
    data, so the hash-match proves merge == rescan, the property that
    makes sketch rollups free at 100 TB."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "user_id"
    )
    per = SK.kmv_sketch(
        ev, keys=["event_type"], col="user_id", k=_K
    )
    per = per.localCheckpoint(eager=True)  # reused by merge; tiny (5 rows x k longs), GC-owned
    total = SK.kmv_merge(per, keys=[], k=_K).select(
        F.lit("*all*").alias("event_type"),
        "sketch_size",
        "kth_min_hash",
    )
    return (
        per.select("event_type", "sketch_size", "kth_min_hash")
        .unionByName(total)
    )

# ---------------------------------------------------------------- q42

_SPLITS = {"train": 90, "val": 5, "test": 5}

_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, n_chars,
         {_H60.format(col="doc_id")} % 100 AS bkt
  FROM documents
)
SELECT CASE WHEN bkt < 90 THEN 'train'
            WHEN bkt < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM b GROUP BY 1
"""


@query("q42_train_test_split", oracle=_SPLIT_ORACLE)
def q42_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 document split keyed on doc_id (see
    operators/sampling.py — rand(seed) is partition-dependent and
    engine-private; the hash split is neither). The checked output
    aggregates per split so the oracle pins every row's assignment
    via the count/min/max/char-sum fingerprint."""
    from ..operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    return (
        hash_split(docs, "doc_id", _SPLITS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------- q43

_SAMPLE_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE {_H60.format(col="event_id")} % 10 < 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(cents) AS BIGINT) AS sampled_cents
FROM s GROUP BY 1
"""


@query("q43_stratified_sample", oracle=_SAMPLE_ORACLE)
def q43_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% event sample keyed on event_id, aggregated
    per stratum. The sample predicate is a narrow filter — no
    shuffle, pushdown-eligible — so at 100 TB it costs a scan, not a
    repartition."""
    from ..operators.sampling import stratified_sample

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        stratified_sample(ev, "event_id", num=1, den=10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum("cents").cast("long").alias("sampled_cents"),
        )
    )


# ---------------------------------------------------------------- q78

_HIST_W = 500  # cents per bin

_HIST_QUANT_SELECT = """
  SELECT {label} AS event_type,
         CAST(max(total) AS BIGINT) AS n_rows,
         CAST(min(CASE WHEN cum >= (total * 1 + 1) // 2
                       THEN bin * {w} END) AS BIGINT) AS p50_cents,
         CAST(min(CASE WHEN cum >= (total * 9 + 9) // 10
                       THEN bin * {w} END) AS BIGINT) AS p90_cents,
         CAST(min(CASE WHEN cum >= (total * 99 + 99) // 100
                       THEN bin * {w} END) AS BIGINT) AS p99_cents
  FROM {src}{group}
"""

_HIST_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
h AS (
  SELECT event_type,
         CAST(floor(CAST(cents AS DOUBLE) / {_HIST_W}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM h
),
g AS (
  SELECT bin, n,
         SUM(n) OVER (ORDER BY bin) AS cum,
         SUM(n) OVER () AS total
  FROM (SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM h GROUP BY 1)
)
{_HIST_QUANT_SELECT.format(label="event_type", w=_HIST_W, src="c",
                           group=" GROUP BY event_type")}
UNION ALL
{_HIST_QUANT_SELECT.format(label="'*all*'", w=_HIST_W, src="g",
                           group="")}
"""


@query("q78_histogram_quantile_sketch", oracle=_HIST_ORACLE)
def q78_histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable fixed-bin histogram sketch + value-at-quantile
    estimates (p50/p90/p99 as bin lower edges): the approximate-
    quantile twin of q41's KMV — per-event-type histograms roll up
    by ADDITION, and the '*all*' row is produced by MERGING the
    per-type sketches while the oracle computes it directly from the
    data, so the hash-match proves merge == rescan. Sketch size is
    O(types x bins), independent of row count; the quantile window
    runs over histogram rows only."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    probs = [("p50_cents", 1, 2), ("p90_cents", 9, 10),
             ("p99_cents", 99, 100)]
    hist = SK.histogram_sketch(
        ev, keys=["event_type"], cents_col="cents", bin_width=_HIST_W
    )
    hist = hist.localCheckpoint(eager=True)  # reused: per-type + merge; tiny
    per = SK.histogram_quantile_bins(
        hist, keys=["event_type"], bin_width=_HIST_W, probs=probs
    )
    merged = SK.histogram_merge(hist, keys=[])
    total = SK.histogram_quantile_bins(
        merged, keys=[], bin_width=_HIST_W, probs=probs
    ).select(F.lit("*all*").alias("event_type"), "n_rows",
             *[p[0] for p in probs])
    return per.select(
        "event_type", "n_rows", *[p[0] for p in probs]
    ).unionByName(total)


# ---------------------------------------------------------------- q90

_MAU_K = 128
_MAU_WINDOW = 28

_MAU_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         {_H60.format(col="user_id")} AS h
  FROM events
),
days AS (SELECT DISTINCT day FROM ev),
win AS (
  SELECT d.day AS target_day, e.h
  FROM days d JOIN ev e
    ON e.day BETWEEN d.day - {_MAU_WINDOW - 1} AND d.day
),
dedup AS (SELECT DISTINCT target_day, h FROM win),
ranked AS (
  SELECT target_day, h,
         row_number() OVER (PARTITION BY target_day ORDER BY h) AS rn
  FROM dedup
)
SELECT target_day,
       CAST(count(*) AS BIGINT) AS sketch_size,
       CAST(max(h) AS BIGINT) AS kth_min_hash
FROM ranked WHERE rn <= {_MAU_K}
GROUP BY 1
"""


@query("q90_rolling_active_user_sketch", oracle=_MAU_ORACLE)
def q90_rolling_active_user_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling 28-day active-user sketches (the MAU curve): build ONE
    KMV sketch per day from raw events, then every day's trailing
    window is a pure SKETCH MERGE — 28 tiny sorted-hash arrays, no
    second scan of the event table, and merging is exact (q41's
    property), so the oracle can compute each window directly from
    raw data and still hash-match. This is how rolling distinct
    survives 100 TB: the event-grain work is one day-keyed sketch
    pass; the sliding window runs over days x k longs."""
    from ..operators import sketch as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from .core import _epoch_seconds

    ue = (
        ev.select(
            _epoch_seconds(ev, "ts").alias("ts_sec"), "user_id"
        )
        .select(
            F.expr("ts_sec DIV 86400").alias("day"), "user_id"
        )
    )
    daily = SK.kmv_sketch(ue, keys=["day"], col="user_id", k=_MAU_K)
    daily = daily.localCheckpoint(eager=True)  # reused 28x; days x k longs
    days = daily.select(F.col("day").alias("target_day")).distinct()
    fan = daily.select(
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(_MAU_WINDOW - 1)
            )
        ).alias("target_day"),
        "sketch",
    ).join(F.broadcast(days), "target_day")  # clip to observed days
    merged = SK.kmv_merge(fan, keys=["target_day"], k=_MAU_K)
    return merged.select(
        "target_day", "sketch_size", "kth_min_hash"
    )


# ---------------------------------------------------------------- q103

_GROUP_SPLIT_ORACLE = f"""
WITH s AS (
  SELECT user_id, event_id,
         CASE WHEN {_H60.format(col="user_id")} % 100 < 80
              THEN 'train'
              WHEN {_H60.format(col="user_id")} % 100 < 90
              THEN 'val' ELSE 'test' END AS split
  FROM events
),
per AS (
  SELECT split,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM s GROUP BY 1
),
tot AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS total_users
  FROM s
)
SELECT p.split, p.n_events, p.n_users,
       CAST((SELECT sum(n_users) FROM per) - t.total_users AS BIGINT)
         AS n_straddling_users
FROM per p, tot t
"""


@query("q103_group_aware_split", oracle=_GROUP_SPLIT_ORACLE)
def q103_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: EVENTS are split by their
    USER's hash, so every user's history lands in exactly one split —
    the grouped-data discipline that prevents per-user leakage
    (q96's content-hash lesson at entity grain). The artifact pins
    n_straddling_users == 0: summed per-split distinct users equals
    the global distinct count. Split assignment is a narrow map; the
    check is two small aggregates."""
    from ..operators.sampling import hash_split

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id"
    )
    s = hash_split(
        ev, "user_id", {"train": 80, "val": 10, "test": 10}
    )
    per = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    per = per.localCheckpoint(eager=True)  # reused: rows + straddle sum
    total = ev.select("user_id").distinct().count()
    straddle = per.agg(
        (F.sum("n_users") - F.lit(int(total))).cast("long").alias("v")
    ).collect()[0]["v"]
    return per.withColumn(
        "n_straddling_users", F.lit(int(straddle)).cast("long")
    )


# ---------------------------------------------------------------- q104

_PARETO_ORACLE = """
WITH s AS (
  SELECT o_custkey AS user_id,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
           AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
r AS (
  SELECT user_id, cents,
         CAST(row_number() OVER (ORDER BY cents DESC, user_id)
           AS BIGINT) AS rank,
         SUM(cents) OVER (ORDER BY cents DESC, user_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents,
         SUM(cents) OVER () AS total
  FROM s
)
SELECT user_id, cents, rank,
       CAST(cum_cents * 1000000 // total AS BIGINT) AS cum_share_ppm,
       CAST(CASE WHEN (cum_cents - cents) * 5 < total * 4
                 THEN 1 ELSE 0 END AS BIGINT) AS in_top80
FROM r
"""


@query("q104_revenue_concentration", oracle=_PARETO_ORACLE)
def q104_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto / concentration curve: customers ranked by revenue,
    cumulative share in integer ppm, and the 'top 80%' flag (a
    customer is in the head while the revenue BEFORE it is under
    80% of total). The event-grain work is one per-customer
    aggregate; the global order over CUSTOMER grain (unbounded at
    100x) comes from the two-phase ``global_cumsum_multi`` — range
    exchange on (cents DESC, user_id), per-partition window, then
    #partitions longs to the driver become broadcast offsets. Rank
    and cumulative revenue share the single pass (one extra long per
    partition); the grand total is the last offset's closing
    accumulator, read back here as one bounded aggregate over the
    checkpointed pass. No single-partition exchange anywhere."""
    from ..operators.packing import global_cumsum_multi

    s = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    placed = global_cumsum_multi(
        s.withColumn("_one", F.lit(1).cast("long")),
        [("cents", "cum_before"), ("_one", "n_before")],
        [F.col("cents").desc(), F.col("user_id")],
    )
    total = int(
        placed.agg(F.sum("cents").alias("t")).collect()[0]["t"] or 0
    )
    r = placed.select(
        "user_id",
        "cents",
        (F.col("n_before") + 1).cast("long").alias("rank"),
        (F.col("cum_before") + F.col("cents")).alias("cum_cents"),
        F.lit(total).cast("long").alias("total"),
    )
    return r.select(
        "user_id",
        "cents",
        "rank",
        F.expr("cum_cents * 1000000 DIV total")
        .cast("long")
        .alias("cum_share_ppm"),
        F.when(
            (F.col("cum_cents") - F.col("cents")) * 5
            < F.col("total") * 4,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("in_top80"),
    )
