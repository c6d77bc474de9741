"""Recall contract of the shipped banded ANN (r9 verdict #2): the
defaults re-picked from the measured frontier (SCALING_r10.md) must
keep recall@10 >= 0.8 on the fixture corpus, and
the banded OR-construction must dominate the single-bucket reference
it replaced — if either pin breaks, the defaults regressed and the
frontier needs re-measuring before shipping."""

from __future__ import annotations

import pyspark.sql.functions as F

from samba_tv_ingest_etl_spark.operators import similarity as S

SF_DIR = "/root/testdata/sf0.001"


def _recall(exact, approx) -> float:
    hits = exact.join(
        approx.select("query_id", "cand_id"),
        ["query_id", "cand_id"],
        "left_semi",
    ).count()
    return hits / exact.count()


def test_banded_defaults_meet_recall_target(spark):
    q = (
        S.quantize(
            spark.read.parquet(SF_DIR + "/embeddings.parquet")
        )
        .filter(F.col("norm2") > 0)
        .localCheckpoint(eager=True)
    )
    probes = q.filter(F.col("vec_id") < 10)
    exact = (
        S.topk_bruteforce(q, probes, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    banded = S.topk_lsh_banded(q, probes, k=10)  # shipped defaults
    r_banded = _recall(exact, banded)
    # measured 0.83 at sf0.001 (0.87 sf0.01, 0.91 sf0.1) — the pin is
    # the stated target, not the point estimate
    assert r_banded >= 0.8, f"shipped banded recall {r_banded}"
    single = S.topk_lsh(q, probes, k=10, planes=8)
    r_single = _recall(exact, single)
    assert r_banded > r_single, (r_banded, r_single)


def test_banded_subset_of_bruteforce_scores(spark):
    """Approximation soundness: every banded result row must carry
    the SAME cos_scaled the exact scorer assigns that pair — banding
    can only restrict the candidate set, never change a score."""
    q = (
        S.quantize(
            spark.read.parquet(SF_DIR + "/embeddings.parquet")
        )
        .filter(F.col("norm2") > 0)
        .localCheckpoint(eager=True)
    )
    probes = q.filter(F.col("vec_id") < 5)
    exact = S.topk_bruteforce(q, probes, k=10_000)  # all pairs scored
    banded = S.topk_lsh_banded(q, probes, k=10)
    mismatches = (
        banded.select("query_id", "cand_id", "cos_scaled")
        .join(
            exact.select(
                "query_id",
                "cand_id",
                F.col("cos_scaled").alias("cos_exact"),
            ),
            ["query_id", "cand_id"],
        )
        .filter(F.col("cos_scaled") != F.col("cos_exact"))
        .count()
    )
    assert mismatches == 0
