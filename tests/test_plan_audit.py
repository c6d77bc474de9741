"""Plan auditor: anti-pattern detection + the engine-wide invariant
that NO registered query plans a cartesian product or row-Python."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark import queries as Q
from samba_tv_ingest_etl_spark.plans.audit import (
    assert_scale_clean,
    audit_plan,
)

from .conftest import SF_DIR

# Streaming parity queries execute a full stream inside the query fn
# (minutes each) just to produce the DataFrame to audit; their
# *returned* plan is a trivial parquet read-back. Skip the cost.
_SKIP = {
    "q31_streaming_sessionization",
    "q66_streaming_dedup_window_counts",
    "q70_stream_stream_attribution",
    "q72_streaming_session_window",
    "q93_stream_static_enrichment",
    # DAG-replay queries: rebuild a scratch warehouse (~60-90 s) to
    # return a read-back; covered by their own oracle rows.
    "q61_incremental_equals_backfill",
}

# Queries whose single-partition windows run over a BOUNDED grain —
# the input cardinality is fixed by construction, not by corpus size,
# so the global funnel is O(1) rows no matter the scale factor. Every
# exception is named with its grain; anything not listed here that
# windows over an unlimited SinglePartition exchange fails the audit
# (the q102 regression class).
_ALLOW_SP_WINDOW = {
    # day grain: <= #days in the data window rows reach the window
    "q60_cumulative_reach_curve": frozenset({"single_partition_window"}),
    # histogram-sketch grain: O(event_types x bins) rows, row-count
    # independent by sketch construction
    "q78_histogram_quantile_sketch": frozenset(
        {"single_partition_window"}
    ),
}


def test_detects_cartesian_product(spark):
    # both sides must exceed the broadcast threshold or the planner
    # quietly upgrades the cross join to BroadcastNestedLoopJoin
    a = spark.range(3_000_000)
    b = spark.range(3_000_000).withColumnRenamed("id", "id2")
    bad = a.crossJoin(b)  # neither side broadcast -> cartesian
    codes = {f.code for f in audit_plan(bad) if f.level == "error"}
    assert "cartesian_product" in codes
    with pytest.raises(AssertionError):
        assert_scale_clean(bad)


def test_detects_row_python_udf(spark):
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    bad = spark.range(100).select(slow("id").alias("y"))
    codes = {f.code for f in audit_plan(bad) if f.level == "error"}
    assert "row_python_udf" in codes


def test_broadcast_nlj_is_warning_not_error(spark):
    a = spark.range(10_000)
    tiny = spark.range(3).withColumnRenamed("id", "id2")
    df = a.crossJoin(F.broadcast(tiny))
    findings = audit_plan(df)
    assert not [f for f in findings if f.level == "error"]
    assert "broadcast_nested_loop" in {
        f.code for f in findings if f.level == "warn"
    }


def test_clean_plan_passes(spark):
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("g"))
        .agg(F.sum("id").alias("s"))
    )
    assert_scale_clean(df)


@pytest.mark.parametrize(
    "name",
    sorted(n for n in Q.registry() if n not in _SKIP),
)
def test_no_registered_query_has_scale_errors(spark, name):
    """Engine-wide invariant: zero cartesian products and zero
    row-at-a-time Python across the whole query surface."""
    df = Q.registry()[name](spark, SF_DIR)
    assert_scale_clean(df, allow=_ALLOW_SP_WINDOW.get(name, frozenset()))


def test_detects_corpus_grain_single_partition_window(spark):
    """Regression for the q102 class: a rank window over the whole
    input (no limit before it) must fail the audit as an error, not
    slide through as a warning."""
    from pyspark.sql import Window

    rows = spark.range(100_000).withColumn("w", F.col("id") % 97)
    bad = rows.withColumn(
        "rank", F.row_number().over(Window.orderBy("w", "id"))
    )
    codes = {f.code for f in audit_plan(bad) if f.level == "error"}
    assert "single_partition_window" in codes
    with pytest.raises(AssertionError):
        assert_scale_clean(bad)


def test_keyed_window_over_single_partition_join_branch_passes(spark):
    """Walk-scoping regression (r7 advice): a PARTITIONED window
    above a join whose other branch contains an unrelated
    ``Exchange SinglePartition`` (here repartition(1) on the build
    side) must NOT be attributed that exchange — the window's input
    partitioning is the hash exchange directly beneath it."""
    from pyspark.sql import Window

    a = spark.range(10_000).withColumn("k", F.col("id") % 10)
    b = (
        spark.range(100)
        .withColumnRenamed("id", "bid")
        .withColumn("k", F.col("bid") % 10)
        .repartition(1)  # renders as Exchange SinglePartition
    )
    df = a.join(b, "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    codes = {f.code for f in audit_plan(df) if f.level == "error"}
    assert "single_partition_window" not in codes


def test_reused_single_partition_exchange_is_still_flagged(spark):
    """Walk-scoping regression (r7 advice), false-negative side: when
    exchange reuse replaces the second global window's exchange with
    a ``ReusedExchange ... SinglePartition`` leaf, that window must
    still be flagged if the real exchange it reuses is unbounded."""
    from pyspark.sql import Window

    rows = spark.range(100_000).withColumn("w", F.col("id") % 97)
    ranked = rows.withColumn(
        "rank", F.row_number().over(Window.orderBy("w", "id"))
    )
    both = ranked.union(ranked)  # identical subtrees -> reuse
    plan = both._jdf.queryExecution().executedPlan().toString()
    findings = [
        f for f in audit_plan(both)
        if f.level == "error" and f.code == "single_partition_window"
    ]
    assert findings, "unbounded global window must stay flagged"
    if "ReusedExchange" in plan and "SinglePartition" in plan:
        # reuse kicked in: BOTH windows must be counted (parse the
        # leading count out of the detail — a bare substring check
        # would match any digit anywhere, r8 advice)
        m = re.match(r"^(\d+) ", findings[0].detail)
        assert m and int(m.group(1)) == 2


def test_topk_then_rank_window_passes(spark):
    """The sanctioned shape (q117/q102): orderBy().limit(k) bounds
    the window input to k rows — TakeOrderedAndProject feeds the
    window, and the audit must accept it."""
    from pyspark.sql import Window

    rows = spark.range(100_000).withColumn("w", F.col("id") % 97)
    topk = rows.orderBy("w", "id").limit(50)
    good = topk.withColumn(
        "rank", F.row_number().over(Window.orderBy("w", "id"))
    )
    codes = {f.code for f in audit_plan(good) if f.level == "error"}
    assert "single_partition_window" not in codes
    assert_scale_clean(good)


def test_reused_exchange_resolved_by_plan_id():
    """Reuse-resolution regression (r8 advice): a window over a
    ReusedExchange that references a BOUNDED (post-limit) single
    partition exchange must not be flagged merely because an
    UNRELATED unbounded SinglePartition exchange exists elsewhere in
    the plan. The reuse line's [plan_id=N] tag resolves to its real
    exchange; only that exchange's boundedness matters."""
    from samba_tv_ingest_etl_spark.plans.audit import (
        _unbounded_single_partition_windows,
    )

    plan = "\n".join(
        [
            "Union",
            # branch 1: bounded global window (top-k-then-rank)
            ":- Window [row_number()]",
            ":  +- Sort [a ASC], false, 0",
            ":     +- Exchange SinglePartition, ENSURE_REQUIREMENTS,"
            " [plan_id=7]",
            ":        +- GlobalLimit 50",
            ":           +- Range (0, 100, step=1, splits=8)",
            # branch 2: same bounded window shape through reuse
            ":- Window [row_number()]",
            ":  +- Sort [a ASC], false, 0",
            ":     +- ReusedExchange [a], Exchange SinglePartition,"
            " ENSURE_REQUIREMENTS, [plan_id=7]",
            # branch 3: an unrelated UNBOUNDED single-partition
            # exchange (no window above it — e.g. a repartition(1)
            # sink) that must not poison branch 2's judgement
            "+- Exchange SinglePartition, REPARTITION_BY_NUM,"
            " [plan_id=9]",
            "   +- Range (0, 100000, step=1, splits=8)",
        ]
    )
    assert _unbounded_single_partition_windows(plan) == 0

    # false-negative side: reuse of an UNBOUNDED exchange stays
    # flagged even when a bounded single-partition exchange exists
    plan_bad = plan.replace("GlobalLimit 50", "Project [a]").replace(
        "+- Exchange SinglePartition, REPARTITION_BY_NUM, [plan_id=9]\n"
        "   +- Range (0, 100000, step=1, splits=8)",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
        "   +- GlobalLimit 50\n"
        "      +- Range (0, 100000, step=1, splits=8)",
    )
    assert _unbounded_single_partition_windows(plan_bad) == 2
