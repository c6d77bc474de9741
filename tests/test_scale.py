"""Join skew at runtime: AQE must split a hot join partition, both in
the real weighting pipeline and in a minimal sort-merge join, without
changing the result."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skew_in_real_weighting_pipeline(spark, tmp_path):
    """The production hazard the reference's data makes likely (a
    popular device piling events onto one smba_id): run the REAL
    pipeline — q61's feed derivation (_samba_feeds, unmodified) ->
    union -> panel attribution -> geo weighting -> sessionize — over
    a 1.2M-event corpus where ONE device carries ~10% of all events,
    and assert AQE splits the weighting join's hot partition at
    runtime (skew=true in the final adaptive plan), with results
    identical to the unsplit plan. Complements
    test_aqe_splits_skewed_join_partition (toy-join mechanism only).

    Probe discipline, learned the hard way: the consumer must be the
    FULL pipeline. A narrow probe (count-style) lets Catalyst prune
    the join shuffle down to its keys, and the hot device's keys-only
    rows are so self-similar that lz4 compressed a 13x-row hot
    partition to 1.3x the median's BYTES — byte-based skew detection
    correctly saw nothing worth splitting for that consumer. With
    sessionize consuming the full rows the same 10% hot key clears
    the bar."""
    import time

    from samba_tv_ingest_etl_spark.plans.backfill import (
        build_viewing_sessions,
    )
    from samba_tv_ingest_etl_spark.operators.panels import (
        attribute_panels, panel_windows,
    )
    from samba_tv_ingest_etl_spark.operators.union_events import (
        raw_viewing_events,
    )
    from samba_tv_ingest_etl_spark.operators.weighting import (
        weighted_events,
    )
    from samba_tv_ingest_etl_spark.queries.core import _samba_feeds

    n = 1_200_000
    base_s = 1_700_000_000 - (1_700_000_000 % 86_400)
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        # hash-spread timestamps: the feed derivation dedups on
        # (household, second), so arithmetic ts cycles would silently
        # dedup the hot key away
        F.timestamp_seconds(
            F.lit(base_s)
            + F.pmod(F.hash((F.col("id") * 7 + 3).cast("long")),
                     F.lit(5 * 86_400))
        ).alias("ts"),
        # hot device: ~10% of events on user 0. pmod(id,10)<1, NOT
        # id%3-style: the feed derivation thins on event_id%3, and a
        # hot rule sharing that modulus makes the whole kept corpus
        # the hot device
        F.when(F.pmod(F.col("id"), F.lit(10)) < 1, F.lit(0))
        .otherwise(F.pmod(F.hash(F.col("id")), F.lit(15_000)))
        .cast("long")
        .alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ["click", "error", "purchase", "signup", "view"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("id") * 7, F.lit(561))).cast("double").alias("value"),
        F.lit('{"k":1}').alias("props"),
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))

    def sessions():
        acr, stb, geo = _samba_feeds(spark, str(tmp_path))
        raw = raw_viewing_events(acr, stb)
        with_panel = attribute_panels(raw, panel_windows(geo))
        return build_viewing_sessions(weighted_events(with_panel, geo))

    def checksum():
        return sessions().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("total_duration").alias("dur"),
            F.sum(F.crc32(F.concat_ws(
                "|", "hh_id", "title", "content_id",
                F.col("session_start_ts").cast("string"),
            ))).alias("h"),
        ).collect()[0]

    confs = {
        # fixture-sized thresholds (production defaults are 256MB/
        # 64MB/1MB — same DETECTION RULE, scaled to fixture bytes)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # enough reduce partitions that the ~10% hot key towers over
        # the median partition (~3%); at the test session's default 8,
        # the median partition holds 12.5% of rows and a 10% key is
        # literally below median — undetectable by definition
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        probe = sessions().groupBy(
            F.spark_partition_id().alias("p")
        ).count()
        t0 = time.perf_counter()
        n_sessions = sum(r["count"] for r in probe.collect())
        t_on = time.perf_counter() - t0
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert n_sessions > 0

        ref_on = checksum()
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t0 = time.perf_counter()
        ref_off = checksum()
        t_off = time.perf_counter() - t0
        assert tuple(ref_on) == tuple(ref_off)
        print(
            f"\nskew pipeline (~10% of events on one device): "
            f"{t_on:.2f}s with split, {t_off:.2f}s without; "
            f"sessions={ref_on['n']}"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """Mechanism check for the pipeline test above: with AQE skew-join
    on, a sort-merge join whose left side piles onto one hot key gets
    its oversized partition SPLIT at runtime (the final adaptive plan
    marks the join skew=true). Thresholds are lowered so
    the fixture-sized skew triggers the same code path a 100 TB hot
    key would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # half the rows on one key: the hot post-shuffle partition is
        # ~4x the median, clearing the factor=2 detection bar
        left = spark.range(300_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        # cheap projection so the collect below moves counts, not rows
        joined = (
            left.join(right, "k")
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
        )
        # execute THIS df's own QueryExecution (count()/noop would
        # plan a fresh one and leave this plan isFinalPlan=false)
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
