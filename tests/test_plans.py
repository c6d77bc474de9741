"""Physical-plan assertions — the scale contract, pinned as tests.

Each test inspects ``explain`` output for the properties that keep an
operator viable at 100 TB: filters/column pruning reaching the parquet
scan, broadcast joins on small sides, a single exchange feeding
sessionization's windows + aggregation, and no Python evaluation nodes
in JVM-path operators."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark import queries as Q

from .conftest import SF_DIR


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def registry(spark):
    return Q.registry()


def test_q01_filter_and_columns_pushed_to_scan(spark, registry):
    df = registry["q01_scan_cast_project"](spark, SF_DIR)
    plan = formatted(df)
    # predicate pushdown into the parquet scan
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan
    # column pruning: the 16-column lineitem scan reads only the 6
    # referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(read_cols) == {
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    }


def test_sessionize_single_exchange(spark, registry):
    """Both window functions and the final aggregation must reuse ONE
    shuffle on the session keys (EnsureRequirements reuse — BASELINE
    intent 'single shuffle for sessionize+aggregate')."""
    df = registry["q14_sessions"](spark, SF_DIR)
    plan = plan_of(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, got {n_exchanges}:\n{plan}"


def test_q14_no_python_in_plan(spark, registry):
    """Sessionization is pure JVM — no Python/pandas evaluation."""
    plan = plan_of(registry["q14_sessions"](spark, SF_DIR))
    assert "Python" not in plan and "ArrowEval" not in plan


def test_panel_attribution_no_join_no_shuffle(spark, registry):
    """The array-strategy panel attribution is map-side only: no join,
    no exchange introduced by the attribution itself."""
    from samba_tv_ingest_etl_spark.operators.panels import (
        attribute_panels,
        panel_windows,
    )
    from samba_tv_ingest_etl_spark.queries.core import _event_dates

    dates = _event_dates(spark, SF_DIR)
    pw = panel_windows(dates)
    out = attribute_panels(dates, pw)  # array strategy
    plan = plan_of(out)
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_merge_antijoin_broadcasts_small_target_keys(spark, registry):
    """q16's anti-join: the distinct key side is broadcastable; assert
    the join is not a cartesian/nested-loop disaster."""
    plan = plan_of(registry["q16_insert_only_merge"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_affected_key_semijoin_broadcast(spark, registry):
    """q17: key selection uses broadcast semi/anti joins (the keys
    side is the small incremental slice)."""
    plan = plan_of(registry["q17_affected_key_recompute"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_topk_bruteforce_broadcasts_queries(spark, registry):
    """q25: the query side must broadcast — the corpus is never
    shuffled for scoring, only for the per-query top-k window."""
    plan = plan_of(registry["q25_ann_topk_bruteforce"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_weighted_events_is_plain_equijoin(spark):
    """The geo-weight join (J1) stays an equi-join (hashable keys) —
    no nested loop from the null-filter rewrite."""
    from samba_tv_ingest_etl_spark.operators.weighting import weighted_events
    from tests import samba_fixtures as fx

    ev = fx.acr(spark).withColumn("panel_monday", F.col("metadata_date"))
    out = weighted_events(ev, fx.geo_weights(spark))
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_exact_dedup_partial_aggregation(spark, registry):
    """q20: hash aggregate with a map-side partial pass (shuffle
    carries pre-aggregated (hash, min_id, count), not raw rows)."""
    plan = plan_of(registry["q20_exact_dedup"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_watermark_filter_prunes_partitions(spark, tmp_path):
    """A metadata_date-derived partition filter on a yyyy/mm/dd
    partitioned table prunes at the source (BASELINE intent: read only
    new data per run)."""
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3 + 2020).cast("int").alias("yyyy"),
    )
    path = str(tmp_path / "t")
    df.write.partitionBy("yyyy").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("yyyy") == 2021)
    plan = formatted(scan)
    assert "PartitionFilters: [" in plan
    assert "(yyyy" in plan.split("PartitionFilters:")[1][:200]


def test_ivf_assignment_is_map_side_only(spark):
    """IVF cluster assignment is one Arrow map over the corpus with
    the codebook in its closure — no join, no exchange: it scales as
    a map over the corpus however large."""
    from samba_tv_ingest_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = S.quantize(emb).filter(F.col("norm2") > 0)
    cents = S.kmeans_centroids(q, k=4, iters=1)
    plan = plan_of(
        S._assign_pandas_routed(q, cents, S.coarse_route(cents), None)
    )
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_ivf_probe_scores_corpus_in_place(spark, registry):
    """q32: queries are routed on the driver and ride the scoring
    kernel, so nothing joins them to the corpus: the corpus is scored
    in place, and the only hash exchange is the final per-query
    top-k merge's."""
    plan = plan_of(registry["q32_ann_topk_ivf"](spark, SF_DIR))
    assert "Join" not in plan
    assert re.findall(r"Exchange hashpartitioning\((\w+)#", plan) == [
        "query_id"
    ]


def test_rollup_reuses_per_hh_without_cache_pin(spark, registry):
    """q33: the materialized per-household table feeds every rollup
    level (the levels scan the localCheckpoint'd RDD — "Scan
    ExistingRDD" — instead of recomputing the session-grain shuffle
    per level). localCheckpoint, not persist: GC-owned, so repeated
    rollup calls can't accumulate session-lifetime CacheManager pins.
    (The DMA dim join is hint-forced broadcast in the query source —
    ``F.broadcast(dma_map)`` — and now executes inside the eager
    checkpoint job, so it is no longer visible in this final plan.)"""
    spark.catalog.clearCache()  # isolate from other tests' caches
    plan = plan_of(registry["q33_reach_frequency_rollup"](spark, SF_DIR))
    assert plan.count("Scan ExistingRDD") >= 2
    # and no lingering CacheManager entry: the reuse is checkpoint-
    # based, not cache-based
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "rollup must not pin CacheManager entries"


def test_sample_and_split_are_shuffle_free_before_agg(spark, registry):
    """q42/q43: the split/sample assignment is a narrow projection or
    filter — the ONLY exchange is the final tiny aggregation's."""
    for name in ("q42_train_test_split", "q43_stratified_sample"):
        plan = plan_of(registry[name](spark, SF_DIR))
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_ex == 1, (name, n_ex)
        assert "Python" not in plan, name


def test_funnel_single_user_shuffle(spark, registry):
    """q50: conditional-min funnel = one exchange on user_id plus the
    final single-partition rollup; no window, no join."""
    plan = plan_of(registry["q50_ordered_funnel"](spark, SF_DIR))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_pii_scan_stays_jvm_side(spark, registry):
    """q53: regexp counting is codegen'd JVM work over a narrow scan —
    no Python nodes, no shuffle before the single rollup."""
    plan = plan_of(registry["q53_pii_scan"](spark, SF_DIR))
    assert "Python" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_mixture_sample_no_corpus_shuffle(spark, registry):
    """q68: the kept-rows path is a broadcast-rates join + narrow hash
    filter; hash exchanges exist only for the tiny per-source
    aggregates, never keyed on doc_id."""
    plan = plan_of(registry["q68_data_mixture_sample"](spark, SF_DIR))
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in keys, keys
    assert "BroadcastHashJoin" in plan


def test_semdedup_pair_join_on_cluster(spark, registry):
    """q76: the within-cluster prune is ONE grouped Arrow kernel
    keyed on the cluster id — exactly one hash exchange on
    ``cluster`` feeding FlatMapGroupsInPandas, no pair join and
    never an unkeyed cross product (pair rows must not exist in the
    plan at all: the kernel emits the per-doc aggregate directly).
    At corpus scale the exchange is co-located with the index's
    partition key; the cluster key is the scale guarantee."""
    plan = plan_of(registry["q76_semdedup_drops"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert re.search(r"hashpartitioning\(cluster", plan), plan
    # the old formulation's pair join must stay gone
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan
    ), plan


def test_classifier_scoring_is_narrow_jvm_map(spark, registry):
    """q79: model application is one codegen'd projection — no
    Python workers, no join, and no KEYED shuffle. The only exchange
    allowed is the round-robin input widening `_documents` adds when
    a fixture-scale parquet arrives under-split (skipped at fleet
    size) — scoring itself must never repartition by key."""
    plan = plan_of(registry["q79_hashed_linear_classifier"](spark, SF_DIR))
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "RoundRobinPartitioning", plan
    assert "Python" not in plan
    assert "Join" not in plan


def test_curriculum_rank_no_single_partition_window(spark, registry):
    """q87: the global total order comes from the two-phase cumsum —
    no Exchange SinglePartition anywhere in the plan."""
    plan = plan_of(registry["q87_curriculum_order"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan


def test_ingest_dag_timezones(spark, tmp_path):
    """Dual-timezone cron fidelity (ingest-dag.sql:3 America/New_York
    vs etl-dag.sql:3 UTC): the two DAGs' daily fires must drift with
    US DST — 56 min of ingest->ETL headroom under EDT, and the ingest
    fire landing 4 min AFTER the ETL root under EST (a preserved
    reference quirk)."""
    import datetime as dt

    from samba_tv_ingest_etl_spark.plans.dag import (
        TaskDag,
        resolve_daily_fire,
    )
    from samba_tv_ingest_etl_spark.sources.ingest import (
        INGEST_CRON,
        INGEST_TZ,
        build_ingest_dag,
    )

    utc = dt.timezone.utc
    # US DST ended 2025-11-02: the day before is EDT, the day after EST
    summer = dt.date(2025, 11, 1)
    winter = dt.date(2025, 11, 3)
    ing_s = resolve_daily_fire(INGEST_CRON, INGEST_TZ, summer)
    ing_w = resolve_daily_fire(INGEST_CRON, INGEST_TZ, winter)
    etl_s = resolve_daily_fire("0 5 * * *", "UTC", summer)
    etl_w = resolve_daily_fire("0 5 * * *", "UTC", winter)
    assert ing_s == dt.datetime(2025, 11, 1, 4, 4, tzinfo=utc)
    assert ing_w == dt.datetime(2025, 11, 3, 5, 4, tzinfo=utc)
    # the same local minute resolves 4h vs 5h after local midnight UTC
    assert (etl_s - ing_s) == dt.timedelta(minutes=56)
    assert (ing_w - etl_w) == dt.timedelta(minutes=4)  # ETL beats ingest!

    # the builder carries the zone as a typed field, reference-flat
    dag = build_ingest_dag(
        spark, str(tmp_path / "stage"), str(tmp_path / "wh"),
        str(tmp_path / "ledger"),
    )
    shown = {t["name"]: t for t in dag.show()}
    assert set(shown) == {"stb_ingest", "acr_ingest", "geo_weights_ingest"}
    for t in shown.values():
        assert t["schedule"] == "4 0 * * *"
        assert t["timezone"] == "America/New_York"
        assert t["after"] == []

    # Snowflake-style inline-zone strings split into the typed field
    d2 = TaskDag()
    t = d2.add("root", lambda: None, schedule="0 5 * * * UTC")
    assert (t.schedule, t.timezone) == ("0 5 * * *", "UTC")
    with pytest.raises(ValueError, match="embeds zone"):
        d2.add("x", lambda: None, schedule="0 5 * * * UTC",
               timezone="America/New_York")
    with pytest.raises(ValueError, match="fixed daily"):
        resolve_daily_fire("*/5 * * * *", "UTC", summer)
