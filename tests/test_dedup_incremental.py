"""Persisted band-index backend for incremental MinHash dedup
(r9 verdict #1): the index side is read AT REST instead of re-signed
per increment, and the determinism contract that makes that safe —
signing sides separately ≡ signing the union — is pinned here as the
incremental≡backfill property ported to dedup (SURVEY §5's property
family: increment N then N+1 against the persisted index must equal
one wholesale pass over everything)."""

from __future__ import annotations

import pyspark.sql.functions as F

from samba_tv_ingest_etl_spark.operators import dedup as D

NGRAM = 3
PCT = 50


def _docs(spark, sf_dir="/root/testdata/sf0.001"):
    d = spark.read.parquet(sf_dir + "/documents.parquet").select(
        "doc_id", "text"
    )
    # plant near-dups across batch boundaries: every 7th doc
    # reappears with a much larger id and a two-word suffix
    planted = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing suffix")).alias(
            "text"
        ),
    )
    return d.unionByName(planted)


def _survivor_ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def _wholesale(sh):
    """One q22-style pass over the full corpus: min-id survivors of
    the uncapped band join."""
    signed = D.minhash_signatures(
        sh.filter(F.col("set_size") > 0), hash_mode="sha2"
    )
    pairs = D.minhash_lsh_pairs(signed, threshold_pct=PCT)
    return _survivor_ids(
        D.keep_min_id(sh.select("doc_id"), pairs)
    )


def test_increments_equal_wholesale(spark, tmp_path):
    """The incremental≡backfill property at dedup grain: build the
    index from batch 1, run batches 2 and 3 as increments (each
    appending EVERY seen doc — dropped docs still shadow later
    arrivals), and the union of per-batch survivors must equal one
    wholesale min-id pass over the whole corpus. Holds because
    batches arrive in id order and per-doc sha2 signatures make
    split-side banding identical to whole-corpus banding."""
    sh = D.shingle_docs(_docs(spark), ngram=NGRAM).localCheckpoint(
        eager=True
    )
    ids = sorted(r["doc_id"] for r in sh.select("doc_id").collect())
    c1, c2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    b1 = sh.filter(F.col("doc_id") <= c1)
    b2 = sh.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2))
    b3 = sh.filter(F.col("doc_id") > c2)

    path = str(tmp_path / "band_index")
    D.write_band_index(b1, path)
    # batch 1 has no prior index: its survivors are the wholesale
    # min-id pass over itself (intra-batch rule only)
    s1 = _wholesale(b1)
    s2 = _survivor_ids(
        D.dedup_increment_against_index(b2, path, threshold_pct=PCT)
    )
    s3 = _survivor_ids(
        D.dedup_increment_against_index(b3, path, threshold_pct=PCT)
    )
    assert s1 | s2 | s3 == _wholesale(sh)


def test_append_is_idempotent(spark, tmp_path):
    """A retried append (crash between the docs/ and bands/ writes,
    then a re-run) must not change any later increment's survivors —
    duplicate index rows are absorbed by the candidate distinct."""
    sh = D.shingle_docs(_docs(spark), ngram=NGRAM).localCheckpoint(
        eager=True
    )
    new_sh = sh.filter(F.col("doc_id") >= 1_000_000)
    idx_sh = sh.filter(F.col("doc_id") < 1_000_000)
    path = str(tmp_path / "band_index")
    D.write_band_index(idx_sh, path)
    once = _survivor_ids(
        D.dedup_increment_against_index(
            new_sh, path, threshold_pct=PCT, append=False
        )
    )
    # double-append the index's own rows (the worst retry: the whole
    # corpus twice), then re-run the increment
    signed_idx = D.minhash_signatures(
        idx_sh.filter(F.col("set_size") > 0), hash_mode="sha2"
    )
    D.append_band_index(signed_idx, path)
    again = _survivor_ids(
        D.dedup_increment_against_index(
            new_sh, path, threshold_pct=PCT, append=False
        )
    )
    assert again == once


def test_append_rejects_width_mismatch(spark, tmp_path):
    """num_perm/bands are the index's persisted identity (meta/, the
    r11-advice discipline ported from the vector index): an append
    at a different signature width would mix slice layouts in one
    bands/ directory and silently empty the band join — it must
    raise a named error instead."""
    import pytest

    sh = D.shingle_docs(_docs(spark), ngram=NGRAM)
    path = str(tmp_path / "bindex")
    D.write_band_index(sh.filter(F.col("doc_id") < 1_000_000), path)
    signed = D.minhash_signatures(
        sh.filter(F.col("doc_id") >= 1_000_000).filter(
            F.col("set_size") > 0
        ),
        num_perm=64,
        hash_mode="sha2",
    )
    with pytest.raises(ValueError, match="identity"):
        D.append_band_index(signed, path, num_perm=64, bands=8)


def test_double_match_empties_and_replay_equal_wholesale(spark, tmp_path):
    """One batch doc is a near-dup of BOTH an indexed doc and a
    smaller-id batch doc (both candidate paths hit it), next to
    empty-shingle docs, and the batch's append is replayed (the crash
    window between the index append and the caller's commit). The
    first run and the replay must both return exactly the wholesale
    min-id survivors of the batch, row for row."""
    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wise owls watch from an old oak tree at dusk"
    )
    planted_idx = spark.createDataFrame(
        [(900_000, base)], "doc_id long, text string"
    )
    planted_new = spark.createDataFrame(
        [
            (3_000_000, base + " omega"),       # near-dup of 900_000
            (3_000_001, base + " omega zeta"),  # of 900_000 AND 3_000_000
            (3_000_002, "x"),                   # empty shingle sets
            (3_000_003, "y z"),
        ],
        "doc_id long, text string",
    )
    docs = _docs(spark)
    idx_sh = D.shingle_docs(
        docs.filter(F.col("doc_id") < 1_000_000).unionByName(planted_idx),
        ngram=NGRAM,
    ).localCheckpoint(eager=True)
    new_sh = D.shingle_docs(
        docs.filter(F.col("doc_id") >= 1_000_000).unionByName(planted_new),
        ngram=NGRAM,
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "band_index")
    D.write_band_index(idx_sh, path)

    def rows(df):
        return sorted((r["doc_id"], r["set_size"]) for r in df.collect())

    first = rows(
        D.dedup_increment_against_index(new_sh, path, threshold_pct=PCT)
    )
    replay = rows(
        D.dedup_increment_against_index(new_sh, path, threshold_pct=PCT)
    )
    new_ids = _survivor_ids(new_sh)
    want = _wholesale(idx_sh.unionByName(new_sh)) & new_ids
    assert first == replay
    assert {d for d, _ in first} == want
    assert 3_000_001 not in want and 3_000_000 not in want
    assert {3_000_002, 3_000_003} <= want
    # every survivor keeps its own set size; empties pass through at 0
    sizes = {r["doc_id"]: r["set_size"] for r in new_sh.collect()}
    assert all(sizes[d] == n for d, n in first)
