"""LLM-data-pipeline queries (beyond-reference surface, SURVEY §7
phase 5): dedup family, text analysis — over the driver's
``documents`` table.

Oracle portability strategy: no engine-native hash functions in
checked outputs. Shingles/tokens are dictionary-encoded via a global
sorted rank (``row_number`` over the distinct vocabulary — identical
in Spark and DuckDB because both sort strings by binary UTF-8), then
mixed with affine/polynomial arithmetic mod the Mersenne prime
2^31-1. All similarity decisions are integer comparisons
(``common*100 >= pct*union``), never float.

Near-dup queries plant deterministic duplicates in-query (exact
copies / 80%-prefix copies of every 20th/25th doc) so the checked
result exercises the operators on guaranteed positives on top of the
corpus's natural near-dups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as X
from . import query

_P = X.HASH_P
_TOKEN_RE = X.TOKEN_SPLIT_RE
_NGRAM = 3
_JACCARD_PCT = 50
# skew guard: shingles shared by more docs than this are dropped from
# candidate generation (verification stays exact — see
# operators/dedup.jaccard_pairs). 5 exercises the cap on the test
# corpus (max shingle df at sf0.01 is 9) without losing any pair.
_STOP_SHINGLE_DF = 5

# ---------------------------------------------------------------- corpora

# Planted-id space for every corpus whose OUTPUT is keyed on (or
# joined by) planted doc_ids: +1e12, far above any natural doc_id at
# every measured sf (sf10 reaches 524,999, which collided with the
# conventional +400000 space and killed the sf10 run via the q115
# guard). Corpora that need TWO disjoint planted spaces use
# _SPAN_OFFSET and 2*_SPAN_OFFSET. Guarded at use sites: natural ids
# must stay below _SPAN_OFFSET or two documents silently merge in
# every doc_id-keyed stage.
_SPAN_OFFSET = 1_000_000_000_000

def _guarded_doc_id(label: str):
    """doc_id passed through the planted-space collision guard: raises
    loudly if a natural id ever reaches _SPAN_OFFSET (the sf10 run
    proved this fires rather than silently merging documents)."""
    return F.when(
        F.col("doc_id").between(0, _SPAN_OFFSET - 1), F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{label} doc_id collides with planted id space: "),
                F.col("doc_id").cast("string"),
            )
        )
    )


# exact-copy corpus (q20, q23): every 25th doc duplicated verbatim.
# Planted ids at +_SPAN_OFFSET per the hygiene rule above — the old
# +200000 space collided with natural doc_ids at sf10 (max 524,999).
_COPY_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET}, text FROM documents
  WHERE doc_id % 25 = 0
)
"""

# prefix-copy corpus (q21, q22): every 20th doc re-appears as its
# 80%-prefix (a high-Jaccard near-dup, never byte-identical).
# Planted ids at +_SPAN_OFFSET (the old +100000 space collided with
# natural ids at sf10).
_PREFIX_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET},
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))
  FROM documents WHERE doc_id % 20 = 0
)
"""


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, widened to the session's parallelism when
    it arrives under-split: a fixture-scale corpus parquet is a
    single row group (unsplittable by maxPartitionBytes), and every
    downstream tokenize/quality/hash pass is CPU-bound, so 1-4 input
    splits would serialize the work on as many cores (measured: the
    exchange costs ~0.2 s at sf1 and cut q21/q22-style text chains
    2-4x). At fleet size inputs out-split the cores and the exchange
    is skipped; results never depend on placement (every consumer is
    oracle-deterministic). Split check = file metadata
    (``sources/splits.py``), not a plan-to-RDD conversion."""
    from ..sources.splits import widen_to_cores

    return widen_to_cores(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _copy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("copy_corpus").alias("doc_id"), "text"
    )
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
            "text",
        )
    )


def _prefix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("prefix_corpus").alias("doc_id"), "text"
    )
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
            F.expr(
                "substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))"
            ).alias("text"),
        )
    )


# shared oracle CTE: tokens -> distinct 3-gram shingles -> sizes
_SHINGLE_SQL = rf"""
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_NGRAM} THEN
           list_distinct(list_transform(range(1, len(toks) - {_NGRAM - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
         ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks
),
sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM shingled),
ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized)
"""

# capped exact-Jaccard pairs (mirrors jaccard_pairs with
# stop_shingle_df): candidacy requires sharing >= 1 sub-threshold
# shingle; common/union are still computed over the FULL shingle sets
_CAPPED_PAIRS_SQL = f"""
hot AS (
  SELECT shingle FROM ex GROUP BY shingle
  HAVING count(*) > {_STOP_SHINGLE_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE a.shingle NOT IN (SELECT shingle FROM hot)
),
allpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.set_size AS size_a, b.set_size AS size_b,
         CAST(count(*) AS BIGINT) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT p.* FROM allpairs p
  JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
)
"""


# ---------------------------------------------------------------- q20

@query(
    "q20_exact_dedup",
    oracle=f"""
WITH {_COPY_SQL}
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
FROM corpus GROUP BY text
""",
)
def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha2(text), keep min doc_id.
    One narrow shuffle (hash + id, not the document bytes)."""
    return D.exact_dedup(_copy_corpus(spark, sf_dir))


# ---------------------------------------------------------------- q21

@query(
    "q21_ngram_jaccard_pairs",
    oracle=f"""
WITH {_PREFIX_SQL}, {_SHINGLE_SQL}, {_CAPPED_PAIRS_SQL}
SELECT doc_a, doc_b, common,
       CAST(size_a + size_b - common AS BIGINT) AS union_size
FROM pairs
WHERE common * 100 >= {_JACCARD_PCT} * (size_a + size_b - common)
""",
)
def q21_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard set-similarity self-join: explode on
    shingle, count shared shingles per pair, integer threshold
    compare. A τ-similar pair must share a sub-threshold shingle
    (stop_shingle_df caps hot-key skew in candidate generation;
    common/union stay exact — see jaccard_pairs)."""
    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    return D.jaccard_pairs(
        sh, threshold_pct=_JACCARD_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("union_size").cast("long").alias("union_size"),
    )


# ---------------------------------------------------------------- q22

def _minhash_dropped_sql() -> str:
    """hashed → sig → banded → cand → ver → dropped CTE chain — the
    WHOLESALE pairwise min-id MinHash rule (drop b iff some a < b
    band-collides at Jaccard >= τ). Follows the ``corpus`` +
    ``_SHINGLE_SQL`` CTEs; shared verbatim by q22 and the q137
    curation-DAG oracle (increments over id-monotone batches
    accumulate to exactly this wholesale rule)."""
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(D._minhash_coeffs(D.MINHASH_PERMS))
    )
    rows = D.MINHASH_PERMS // D.MINHASH_BANDS
    return f"""
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(sha256(shingle), 1, 15)) AS BIGINT)
           % {_P} AS r
  FROM ex
),
perms(i, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, p.i, min((p.a * r + p.b) % {_P}) AS mh
  FROM hashed CROSS JOIN perms p
  GROUP BY doc_id, p.i
),
banded AS (
  SELECT doc_id, i // {rows} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key
              AND a.doc_id < b.doc_id
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         sa.set_size + sb.set_size
           - len(list_intersect(sa.shingles, sb.shingles)) AS u
  FROM cand c
  JOIN sized sa ON sa.doc_id = c.doc_a
  JOIN sized sb ON sb.doc_id = c.doc_b
),
dropped AS (
  SELECT DISTINCT doc_b FROM ver
  WHERE u > 0 AND common * 100 >= {_JACCARD_PCT} * u
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_PREFIX_SQL}, {_SHINGLE_SQL},
{_minhash_dropped_sql().lstrip()}
SELECT c.doc_id FROM corpus c
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_b = c.doc_id)
"""


@query("q22_minhash_lsh_dedup", oracle=_minhash_oracle())
def q22_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH dedup survivors: 16-perm signature over
    sha256-hashed shingles (portable, vocabulary-free — see
    ``minhash_signatures``), 4x4 banding, candidates verified with
    exact Jaccard, min-id survivor rule. The signature is O(1) per
    doc; the band self-join replaces the shingle explode at scale."""
    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    signed = D.minhash_signatures(sh, hash_mode="sha2")
    pairs = D.minhash_lsh_pairs(signed, threshold_pct=_JACCARD_PCT)
    corpus = _prefix_corpus(spark, sf_dir).select("doc_id")
    return D.keep_min_id(corpus, pairs)


# ---------------------------------------------------------------- q129


def _incremental_minhash_oracle() -> str:
    perms = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(D._minhash_coeffs(D.MINHASH_PERMS))
    )
    rows = D.MINHASH_PERMS // D.MINHASH_BANDS
    return f"""
WITH {_PREFIX_SQL}, {_SHINGLE_SQL},
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(sha256(shingle), 1, 15)) AS BIGINT)
           % {_P} AS r
  FROM ex
),
perms(i, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, p.i, min((p.a * r + p.b) % {_P}) AS mh
  FROM hashed CROSS JOIN perms p
  GROUP BY doc_id, p.i
),
banded AS (
  SELECT doc_id, i // {rows} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS match_id
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE b.doc_id >= {_SPAN_OFFSET}
    AND (a.doc_id < {_SPAN_OFFSET} OR a.doc_id < b.doc_id)
),
ver AS (
  SELECT c.new_id,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         sa.set_size + sb.set_size
           - len(list_intersect(sa.shingles, sb.shingles)) AS u
  FROM cand c
  JOIN sized sa ON sa.doc_id = c.new_id
  JOIN sized sb ON sb.doc_id = c.match_id
),
dropped AS (
  SELECT DISTINCT new_id FROM ver
  WHERE u > 0 AND common * 100 >= {_JACCARD_PCT} * u
)
SELECT s.doc_id, CAST(s.set_size AS BIGINT) AS set_size
FROM sized s
WHERE s.doc_id >= {_SPAN_OFFSET}
  AND s.doc_id NOT IN (SELECT new_id FROM dropped)
"""


@query(
    "q129_indexed_incremental_dedup",
    oracle=_incremental_minhash_oracle(),
)
def q129_indexed_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental MinHash dedup through the PERSISTED band index —
    a NEW batch deduped against the existing corpus, the production
    shape at fleet size (you never re-dedup 100 TB daily; you band
    the index once, at rest, and join each day's batch against it).
    Batch = the planted docs (>= +1e12, the prefix near-dups), index
    = the natural corpus, signed and banded ONCE and written at rest
    (dedup.write_band_index — docs/ + band-partitioned bands/); the
    increment (dedup.dedup_increment_against_index, append=False)
    reads it back instead of re-signing — per-increment work is
    O(|batch|) signing + one hash-filtered scan of bands/ + one
    id-pruned scan of docs/, never an O(corpus) sha256 pass. A new
    doc survives only if it near-dups no indexed doc and no
    smaller-id batch doc.
    Signatures are per-doc deterministic, so split-side signing is
    bit-identical to q22's whole-corpus pass — the oracle pins that
    equivalence with the same sha256 minima, and so proves that
    persistence round-trips signatures, band keys, and shingle sets
    exactly (tests/test_dedup_incremental.py pins the
    multi-increment ≡ wholesale property)."""
    import tempfile

    corpus = _prefix_corpus(spark, sf_dir)
    sh = D.shingle_docs(corpus, ngram=_NGRAM)
    new_sh = sh.filter(F.col("doc_id") >= _SPAN_OFFSET)
    idx_sh = sh.filter(F.col("doc_id") < _SPAN_OFFSET)
    # the increment returns driver-held survivors, so the index can go
    # before the caller collects
    with tempfile.TemporaryDirectory(prefix="q129_band_index_") as path:
        D.write_band_index(idx_sh, path)
        survivors = D.dedup_increment_against_index(
            new_sh, path, threshold_pct=_JACCARD_PCT, append=False
        )
    return survivors.select(
        "doc_id", F.col("set_size").cast("long").alias("set_size")
    )


# ---------------------------------------------------------------- q132


@query(
    "q132_streaming_dedup_against_index",
    oracle=_incremental_minhash_oracle(),
)
def q132_streaming_dedup_against_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q129 as a STREAM: the planted batch arrives as two staged
    parquet files drained by one availableNow run
    (maxFilesPerTrigger=1 → two micro-batches), each deduped against
    the at-rest band index via the replay-safe foreachBatch handler
    (streaming/dedup.DedupAgainstIndexBatch) and appended to it, so
    batch 2 sees batch 1's docs — the continuous-arrival production
    shape of the reference's incremental DAG (etl-dag.sql:33-46).
    Shares q129's oracle VERBATIM — but NOT unconditionally:
    the increments ≡ wholesale property needs the split to be
    ID-MONOTONE and processed ascending (the index side dominates at
    ANY id, so a high-id doc processed before its low-id near-dup
    would survive and then shadow it — the wholesale min-id rule
    inverted). Hence the batch splits at its median id, with BOTH
    halves non-empty (the r10 parity split was degenerate: every
    planted id is even, so its odd file was empty and the
    new-x-prior-batch path never ran), and the LOW half is staged
    first — the file source orders micro-batches by file timestamp,
    which sequential writes make the write order. Under that
    discipline the DuckDB hash match proves the whole chain —
    persistence round-trip, per-batch exclusion, exactly-once sink —
    end to end. Survivor set_size is recomputed by re-shingling the
    sink output, pinning the text round-trip too."""
    import tempfile

    from ..streaming.dedup import dedup_stream_against_index
    from ..streaming.ingest import read_feed_stream

    corpus = _prefix_corpus(spark, sf_dir)
    sh = D.shingle_docs(corpus, ngram=_NGRAM)
    idx_sh = sh.filter(F.col("doc_id") < _SPAN_OFFSET)
    new = corpus.filter(F.col("doc_id") >= _SPAN_OFFSET)

    tmp = tempfile.mkdtemp(prefix="q132_")
    idx = f"{tmp}/band_index"
    stage, out, ckpt = f"{tmp}/stage", f"{tmp}/out", f"{tmp}/ckpt"
    D.write_band_index(idx_sh, idx)
    # two stage files = two micro-batches. The split is ID-MONOTONE
    # at the batch's median id (exact quantile — a bounded scalar
    # pull) and the low half is written FIRST: see the docstring for
    # why both are load-bearing. Both halves are non-empty whenever
    # the batch has >= 2 distinct ids, so the new-x-prior-batch
    # candidate path genuinely runs.
    mid = new.approxQuantile("doc_id", [0.5], 0.0)[0]
    for pred in (F.col("doc_id") <= mid, F.col("doc_id") > mid):
        new.filter(pred).coalesce(1).write.mode("append").parquet(stage)
    q = dedup_stream_against_index(
        read_feed_stream(
            spark, stage, new.schema, max_files_per_trigger=1
        ),
        idx,
        out,
        ckpt,
        ngram=_NGRAM,
        threshold_pct=_JACCARD_PCT,
    )
    q.awaitTermination()
    survived = spark.read.parquet(out).select("doc_id", "text")
    return D.shingle_docs(survived, ngram=_NGRAM).select(
        "doc_id", F.col("set_size").cast("long").alias("set_size")
    )


# ---------------------------------------------------------------- q108

# hot-bucket cap for the capped LSH variant: bounds a band bucket's
# candidate contribution to width*cap (measured in SCALING_r6.md: the
# prefix corpus grows duplicate-cluster sizes with the corpus, so the
# UNCAPPED band join's candidate pairs grow quadratically — 0.31 ->
# 1.60 -> 15.7 candidates/doc across sf0.1/sf1/sf10)
_LSH_BUCKET_CAP = 16


def _minhash_capped_oracle(
    corpus_sql: str | None = None, cap: int | None = None
) -> str:
    """Parametrized so a pytest can run the SAME rank-rule SQL on a
    constructed corpus whose buckets EXCEED the cap: at driver-parity
    scale every bucket fits under q108's cap (capped == uncapped), so
    the over-cap branch would otherwise be pinned only Spark-vs-Spark
    (``test_dedup_skew.py::test_bucket_cap_rank_rule_matches_duckdb``
    closes that)."""
    corpus_sql = _PREFIX_SQL if corpus_sql is None else corpus_sql
    cap = _LSH_BUCKET_CAP if cap is None else cap
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(D._minhash_coeffs(D.MINHASH_PERMS))
    )
    rows = D.MINHASH_PERMS // D.MINHASH_BANDS
    return f"""
WITH {corpus_sql}, {_SHINGLE_SQL},
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(sha256(shingle), 1, 15)) AS BIGINT)
           % {_P} AS r
  FROM ex
),
perms(i, a, b) AS (VALUES {perms}),
sig AS (
  SELECT doc_id, p.i, min((p.a * r + p.b) % {_P}) AS mh
  FROM hashed CROSS JOIN perms p
  GROUP BY doc_id, p.i
),
banded AS (
  SELECT doc_id, i // {rows} AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
),
ranked AS (
  SELECT doc_id, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY doc_id)
           AS rk
  FROM banded
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ranked a
  JOIN banded b ON a.band = b.band AND a.key = b.key
              AND a.doc_id < b.doc_id
  WHERE a.rk <= {cap}
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS common,
         sa.set_size + sb.set_size
           - len(list_intersect(sa.shingles, sb.shingles)) AS u
  FROM cand c
  JOIN sized sa ON sa.doc_id = c.doc_a
  JOIN sized sb ON sb.doc_id = c.doc_b
),
dropped AS (
  SELECT DISTINCT doc_b FROM ver
  WHERE u > 0 AND common * 100 >= {_JACCARD_PCT} * u
)
SELECT c.doc_id FROM corpus c
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_b = c.doc_id)
"""


@query("q108_minhash_lsh_capped", oracle=_minhash_capped_oracle())
def q108_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH dedup survivors with the hot-bucket width cap —
    q22's scale-safe form. lsh_band_stats measured the uncapped band
    join quadratic on this workload (duplicate-cluster sizes grow
    with the corpus: max bucket width 16/93/831 at sf0.1/1/10), so
    the candidate-source side of each band bucket is capped to the 16
    smallest ids: per-bucket pairs drop from C(m,2) to m*cap,
    linear in m, while every member of a true-duplicate bucket still
    pairs with the bucket head the min-id survivor rule needs. The
    oracle implements the identical rank rule, so the capped
    semantics — not just the fixture result — are pinned."""
    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    signed = D.minhash_signatures(sh, hash_mode="sha2")
    pairs = D.minhash_lsh_pairs(
        signed,
        threshold_pct=_JACCARD_PCT,
        max_bucket_width=_LSH_BUCKET_CAP,
    )
    corpus = _prefix_corpus(spark, sf_dir).select("doc_id")
    return D.keep_min_id(corpus, pairs)


# ---------------------------------------------------------------- q23

def _simhash_oracle() -> str:
    a, b = 1_103_515_245, 12_345
    bits = D.SIMHASH_BITS
    bands = D.SIMHASH_BANDS
    width = bits // bands
    mask = (1 << width) - 1
    votes = ", ".join(
        f"CAST(sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" AS BIGINT) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    return rf"""
WITH {_COPY_SQL},
toks AS (
  SELECT doc_id,
         list_distinct(
           list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                       t -> t <> '')) AS toks
  FROM corpus
),
tok_ex AS (SELECT doc_id, unnest(toks) AS token FROM toks),
vocab AS (
  SELECT token, row_number() OVER (ORDER BY token) AS r
  FROM (SELECT DISTINCT token FROM tok_ex)
),
hashed AS (
  SELECT t.doc_id, ({a} * v.r + {b}) % {_P} AS h
  FROM tok_ex t JOIN vocab v USING (token)
),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
fps AS (SELECT doc_id, {fp} AS fingerprint FROM votes),
banded2 AS (
  SELECT doc_id, fingerprint, i AS band,
         (fingerprint >> (i * {width})) & {mask} AS key
  FROM fps, unnest(range(0, {bands})) AS t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fingerprint AS fp_a, b.fingerprint AS fp_b
  FROM banded2 a
  JOIN banded2 b ON a.band = b.band AND a.key = b.key
               AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {bands - 1}
"""


@query("q23_simhash_pairs", oracle=_simhash_oracle())
def q23_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit fingerprint from token-rank
    votes, pigeonhole 4x8-bit banding (lossless for hamming <= 3)."""
    fps = D.simhash_fingerprints(_copy_corpus(spark, sf_dir))
    return D.simhash_pairs(fps).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------- q27

def _stop_list(lang: str) -> str:
    return "[" + ", ".join(f"'{s}'" for s in X.STOPWORDS[lang]) + "]"


@query(
    "q27_text_quality",
    oracle=rf"""
WITH corpus AS (SELECT doc_id, text FROM documents),
toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN len(toks) > 0 THEN floor(
         list_sum(list_transform(toks, t -> length(t))) * 1000000.0
           / len(toks)) ELSE 0 END AS BIGINT) AS mean_token_len_ppm,
       CAST(CASE WHEN length(text) > 0 THEN floor(
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1000000.0
           / length(text)) ELSE 0 END AS BIGINT) AS punct_ratio_ppm,
       CAST(CASE WHEN len(toks) > 0 THEN floor(
         len(list_filter(toks, t -> list_contains({_stop_list('en')}, t)))
           * 1000000.0 / len(toks)) ELSE 0 END AS BIGINT)
         AS stopword_ratio_ppm
FROM toks
""",
)
def q27_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality stats (token count, mean token length, punct /
    stopword ratios) as ppm integers — pure JVM expressions."""
    return X.text_quality(_documents(spark, sf_dir))


# ---------------------------------------------------------------- q28

@query(
    "q28_language_id",
    oracle=rf"""
WITH corpus AS (SELECT doc_id, text, lang FROM documents),
toks AS (
  SELECT doc_id, text, lang,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
hits AS (
  SELECT doc_id, text, lang,
         len(list_filter(toks, t -> list_contains({_stop_list('en')}, t))) AS hen,
         len(list_filter(toks, t -> list_contains({_stop_list('de')}, t))) AS hde,
         len(list_filter(toks, t -> list_contains({_stop_list('es')}, t))) AS hes,
         len(list_filter(toks, t -> list_contains({_stop_list('fr')}, t))) AS hfr
  FROM toks
)
SELECT doc_id, lang,
       CASE WHEN regexp_matches(text, '{X.CJK_RE}') THEN 'zh'
            WHEN greatest(hen, hde, hes, hfr) = 0 THEN 'und'
            WHEN hen >= hde AND hen >= hes AND hen >= hfr THEN 'en'
            WHEN hde >= hes AND hde >= hfr THEN 'de'
            WHEN hes >= hfr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM hits
""",
)
def q28_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID with CJK override and deterministic
    tie-break (list order). Returns the truth column too, so the
    result doubles as an accuracy table."""
    docs = _documents(spark, sf_dir)
    pred = X.language_id(docs)
    return docs.select("doc_id", "lang").join(pred, "doc_id").select(
        "doc_id", "lang", "lang_pred"
    )


# ---------------------------------------------------------------- q29

def _fingerprint_oracle() -> str:
    a, b = 1_103_515_245, 12_345
    base = 1_000_003
    # explicit 4-term polynomial, acc_i+1 = (acc_i * B + r) mod P
    poly = (
        f"((((CAST(rk[i] AS BIGINT) * {base} + rk[i+1]) % {_P}) * {base}"
        f" + rk[i+2]) % {_P} * {base} + rk[i+3]) % {_P}"
    )
    return rf"""
WITH corpus AS (SELECT doc_id, text FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
pos_ex AS (
  SELECT doc_id, i AS pos, toks[i] AS token
  FROM toks, unnest(range(1, len(toks) + 1)) AS t(i)
),
vocab AS (
  SELECT token, row_number() OVER (ORDER BY token) AS r
  FROM (SELECT DISTINCT token FROM pos_ex)
),
ranked AS (
  SELECT p.doc_id, p.pos, v.r FROM pos_ex p JOIN vocab v USING (token)
),
gathered AS (
  SELECT doc_id, array_agg(r ORDER BY pos) AS rk FROM ranked GROUP BY doc_id
),
hashes AS (
  SELECT doc_id,
         CASE WHEN len(rk) >= 4 THEN
           list_transform(range(1, len(rk) - 2),
             i -> (({poly}) * {a} + {b}) % {_P})
         ELSE CAST([] AS BIGINT[]) END AS hs
  FROM gathered
)
SELECT doc_id,
       CAST(coalesce(list_min(hs), -1) AS BIGINT) AS fp_min,
       CAST(coalesce(list_max(hs), -1) AS BIGINT) AS fp_max,
       CAST(CASE WHEN len(hs) > 0
            THEN list_sum(hs) % {_P} ELSE -1 END AS BIGINT) AS fp_sum,
       CAST(len(list_distinct(hs)) AS BIGINT) AS fp_distinct
FROM hashes
"""


@query("q29_doc_fingerprint", oracle=_fingerprint_oracle())
def q29_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (4-gram polynomial) document sketch: (min, max,
    sum mod P, distinct count) over the hash sequence."""
    docs = _documents(spark, sf_dir)
    vocab = X.vocab_ranks(
        docs.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    )
    return X.fingerprint_sketch(docs, vocab)


# ---------------------------------------------------------------- q34

_CUR_MIN_TOKENS = 20
_CUR_MAX_PUNCT_PPM = 100_000


@query(
    "q34_corpus_curation",
    oracle=rf"""
WITH corpus AS (SELECT doc_id, text FROM documents),
canon AS (
  SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text
),
toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM canon
),
stats AS (
  SELECT doc_id, text, toks,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN length(text) > 0 THEN floor(
           length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1000000.0
             / length(text)) ELSE 0 END AS BIGINT) AS punct_ratio_ppm,
         CAST(CASE WHEN len(toks) > 0 THEN floor(
           len(list_filter(toks, t -> list_contains({_stop_list('en')}, t)))
             * 1000000.0 / len(toks)) ELSE 0 END AS BIGINT)
           AS stopword_ratio_ppm
  FROM toks
),
hits AS (
  SELECT s.*,
         len(list_filter(toks, t -> list_contains({_stop_list('en')}, t))) AS hen,
         len(list_filter(toks, t -> list_contains({_stop_list('de')}, t))) AS hde,
         len(list_filter(toks, t -> list_contains({_stop_list('es')}, t))) AS hes,
         len(list_filter(toks, t -> list_contains({_stop_list('fr')}, t))) AS hfr
  FROM stats s
),
pred AS (
  SELECT doc_id, n_tokens, punct_ratio_ppm, stopword_ratio_ppm,
         CASE WHEN regexp_matches(text, '{X.CJK_RE}') THEN 'zh'
              WHEN greatest(hen, hde, hes, hfr) = 0 THEN 'und'
              WHEN hen >= hde AND hen >= hes AND hen >= hfr THEN 'en'
              WHEN hde >= hes AND hde >= hfr THEN 'de'
              WHEN hes >= hfr THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM hits
)
SELECT doc_id, n_tokens, punct_ratio_ppm, stopword_ratio_ppm, lang_pred
FROM pred
WHERE n_tokens >= {_CUR_MIN_TOKENS}
  AND punct_ratio_ppm <= {_CUR_MAX_PUNCT_PPM}
  AND lang_pred = 'en'
""",
)
def q34_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline — exact dedup
    (keep lowest doc_id) -> quality gate (length + punctuation) ->
    language gate (predicted en) — built ONLY from the engine's
    operators, end-to-end in one Catalyst plan. Each stage is checked
    in isolation by q20/q27/q28; this query pins their composition.
    The dedup shuffle carries sha2 digests, the gates are map-side
    JVM expressions, and the semi-join back to survivors broadcasts
    at dim scale."""
    docs = _documents(spark, sf_dir)
    survivors = D.exact_dedup(docs).select("doc_id")
    kept = docs.join(survivors, "doc_id", "left_semi")
    quality = X.text_quality(kept).select(
        "doc_id", "n_tokens", "punct_ratio_ppm", "stopword_ratio_ppm"
    )
    lang = X.language_id(kept)
    return (
        kept.select("doc_id")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("n_tokens") >= _CUR_MIN_TOKENS)
            & (F.col("punct_ratio_ppm") <= _CUR_MAX_PUNCT_PPM)
            & (F.col("lang_pred") == "en")
        )
        .select(
            "doc_id", "n_tokens", "punct_ratio_ppm",
            "stopword_ratio_ppm", "lang_pred",
        )
    )


# ---------------------------------------------------------------- q24-q26

_DIM = 64
# synthetic embeddings top out near cos ~0.5; tau=0.35 yields a real
# (non-empty) near-dup set to check
_COS_PCT = 35
_LSH_PLANES = 8

# quantized-embedding CTE: integer milliunits, exact int64 norms
_QUANT_SQL = """
qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
),
quant AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
  FROM qv
  WHERE list_sum(list_transform(q, v -> v * v)) > 0
)
"""

_DOT_SQL = (
    f"CAST(list_sum(list_transform(range(1, {_DIM + 1}),"
    " i -> a.q[i] * b.q[i])) AS BIGINT)"
)


def _cos_scaled_sql(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST(floor(1000000 * CAST({dot} AS DOUBLE) / "
        f"sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))) AS BIGINT)"
    )


def _embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized embeddings, widened to session parallelism when the
    parquet arrives under-split — same rationale as ``_documents``:
    quantization HOFs, hyperplane bits and the Arrow matmul kernels
    are all CPU-bound map passes whose parallelism equals input
    splits, and a fixture-scale embeddings file is one row group.
    Skipped at fleet size; placement never affects results."""
    from ..operators.similarity import quantize
    from ..sources.splits import widen_to_cores

    emb = widen_to_cores(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    return quantize(emb).filter(F.col("norm2") > 0)


@query(
    "q24_embedding_neardup_pairs",
    oracle=f"""
WITH {_QUANT_SQL},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DOT_SQL} AS dot, a.norm2 AS n_a, b.norm2 AS n_b
  FROM quant a JOIN quant b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       {_cos_scaled_sql('dot', 'n_a', 'n_b')} AS cos_scaled
FROM pairs
WHERE dot > 0
  AND dot * dot * 10000 >= {_COS_PCT * _COS_PCT} * n_a * n_b
""",
)
def q24_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at tau=0.35: quantized-integer
    dot products so the similarity decision is exact integer
    arithmetic in every engine. Computed as a blocked int64 numpy
    matmul (identical result to the expression-based
    ``cosine_pairs`` — same oracle). Block count derives from the
    corpus row count (metadata-only parquet count) so a block-pair
    task's dot matrix stays ~``TARGET_BLOCK_ROWS``² at any corpus
    size — the fixed default was a ~4 GB/task allocation at sf10."""
    from ..operators.similarity import (
        cosine_pairs_blocked, derived_block_count,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    return cosine_pairs_blocked(
        _embeddings_q(spark, sf_dir),
        threshold_pct=_COS_PCT,
        n_blocks=derived_block_count(n),
    )


@query(
    "q25_ann_topk_bruteforce",
    oracle=f"""
WITH {_QUANT_SQL},
queries AS (SELECT * FROM quant WHERE vec_id < 10),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM queries a JOIN quant b ON b.vec_id <> a.vec_id
),
ranked AS (
  SELECT query_id, cand_id, cos_scaled,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_scaled DESC, cand_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, rank, cos_scaled FROM ranked WHERE rank <= 10
""",
)
def q25_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id<10: broadcast the
    queries, scan the corpus once, per-query row_number window with
    deterministic (score, id) tie-break."""
    from ..operators.similarity import topk_bruteforce

    q = _embeddings_q(spark, sf_dir)
    out = topk_bruteforce(q, q.filter(F.col("vec_id") < 10), k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_oracle() -> str:
    # deterministic hyperplane weight for (plane p, dim d):
    # ((p*64 + d) * 2654435761) % 2^31 - 2^30
    return f"""
WITH {_QUANT_SQL},
bits AS (
  SELECT vec_id, q, norm2, p.i AS plane,
         CASE WHEN CAST(list_sum(list_transform(range(0, {_DIM}),
           d -> q[d + 1] * (((p.i * {_DIM} + d) * 2654435761)
                            % 2147483648 - 1073741824)))
           AS BIGINT) >= 0 THEN 1 ELSE 0 END AS bit
  FROM quant, unnest(range(0, {_LSH_PLANES})) AS p(i)
),
bucketed AS (
  SELECT vec_id, any_value(q) AS q, any_value(norm2) AS norm2,
         CAST(sum(bit * (1 << plane)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
),
queries AS (SELECT * FROM bucketed WHERE vec_id < 10),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM queries a
  JOIN bucketed b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT query_id, cand_id, cos_scaled,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_scaled DESC, cand_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, rank, cos_scaled FROM ranked WHERE rank <= 10
"""


@query("q26_ann_topk_lsh", oracle=_lsh_oracle())
def q26_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via 8-bit hyperplane-LSH bucketing:
    candidates restricted to the query's bucket (the scale path — at
    fleet size the bucket is the partition key). Hyperplanes are
    deterministic integer arithmetic, so even this approximate
    operator is oracle-checkable."""
    from ..operators.similarity import topk_lsh

    q = _embeddings_q(spark, sf_dir)
    out = topk_lsh(
        q, q.filter(F.col("vec_id") < 10), k=10,
        planes=_LSH_PLANES, dim=_DIM,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q130

# shipped banded-ANN configuration — the measured frontier's pick
# (operators.similarity.LSH_TOPK_PLANES/BANDS, SCALING_r10.md): the
# only grid point with recall@10 >= 0.8 at both measured scales
_LSH_TOPK_PLANES = 48
_LSH_TOPK_BANDS = 16


def _banded_bits_sql(planes: int, bands: int) -> str:
    """bits -> bucket -> per-band keys CTEs for ``planes`` hyperplane
    bits cut into ``bands`` groups — the SQL mirror of
    ``lsh_buckets`` + ``_band_keys``."""
    r = planes // bands
    mask = (1 << r) - 1
    return f"""
bits AS (
  SELECT vec_id, q, norm2, p.i AS plane,
         CASE WHEN CAST(list_sum(list_transform(range(0, {_DIM}),
           d -> q[d + 1] * (((p.i * {_DIM} + d) * 2654435761)
                            % 2147483648 - 1073741824)))
           AS BIGINT) >= 0 THEN 1 ELSE 0 END AS bit
  FROM quant, unnest(range(0, {planes})) AS p(i)
),
bucketed AS (
  SELECT vec_id, any_value(q) AS q, any_value(norm2) AS norm2,
         CAST(sum(bit * (1::BIGINT << plane)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
),
bands AS (
  SELECT vec_id, b.i AS band,
         (bucket >> (b.i * {r})) & {mask} AS key
  FROM bucketed, unnest(range(0, {bands})) AS b(i)
)"""


def _lsh_banded_oracle() -> str:
    return f"""
WITH {_QUANT_SQL},
{_banded_bits_sql(_LSH_TOPK_PLANES, _LSH_TOPK_BANDS)},
qb AS (SELECT * FROM bands WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS cand_id
  FROM qb a JOIN bands c ON c.band = a.band AND c.key = a.key
  WHERE c.vec_id <> a.vec_id
),
scored AS (
  SELECT cd.query_id, cd.cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM cand cd
  JOIN quant a ON a.vec_id = cd.query_id
  JOIN quant b ON b.vec_id = cd.cand_id
),
ranked AS (
  SELECT query_id, cand_id, cos_scaled,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_scaled DESC, cand_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, cand_id, rank, cos_scaled FROM ranked WHERE rank <= 10
"""


@query("q130_ann_topk_lsh_banded", oracle=_lsh_banded_oracle())
def q130_ann_topk_lsh_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate top-10 via the banded OR-construction over
    hyperplane bits — the SHIPPED ANN configuration for this corpus's
    low-similarity regime (r9 verdict #2 closed): q26's single-bucket
    AND-matching measured recall@10 ~5-7%, so the defaults were
    re-picked from the measured frontier (SCALING_r10.md) —
    (48 planes, 16 bands) is the only grid point
    with recall >= 0.8 at BOTH measured scales (0.886 at sf0.1,
    0.922 at sf1), at ~0.7x brute-force candidate cost; the same
    frontier records IVF reaching 0.818 at ~0.15x cost once n >= 20k
    (the at-scale router's cheap path). q125 audits this exact
    configuration; q26 remains the single-bucket reference."""
    from ..operators.similarity import topk_lsh_banded

    q = _embeddings_q(spark, sf_dir)
    out = topk_lsh_banded(
        q, q.filter(F.col("vec_id") < 10), k=10,
        planes=_LSH_TOPK_PLANES, bands=_LSH_TOPK_BANDS, dim=_DIM,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q136


@query("q136_ann_banded_index_persisted", oracle=_lsh_banded_oracle())
def q136_ann_banded_index_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q130 through the PERSISTED vector-grain band index — the last
    inline dedup/ANN surface moved to rest (r10 verdict #1): the
    corpus's hyperplane signatures are computed ONCE and written
    band-partitioned, key-sorted
    (similarity.write_vector_band_index — docs/ + bands/), and the
    probe signs only the query batch, prunes bands/ by the probe's
    key literals (row-group stats over the sorted files), fetches
    payloads via one streamed column-pruned probe of docs/, and
    ranks — never an O(corpus) signing pass per call. Shares q130's
    oracle VERBATIM: hyperplane bits are per-row deterministic, so
    the at-rest path must produce byte-identical top-k, and the
    DuckDB hash match proves the persistence round-trips signatures,
    band keys, and payloads exactly
    (tests/test_vector_band_index.py pins indexed≡inline,
    append≡wholesale, and duplicate-append probe neutrality)."""
    import tempfile

    from ..operators.similarity import (
        topk_lsh_banded_indexed,
        write_vector_band_index,
    )

    q = _embeddings_q(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q136_band_index_")
    write_vector_band_index(
        q, path, planes=_LSH_TOPK_PLANES, bands=_LSH_TOPK_BANDS,
        dim=_DIM,
    )
    out = topk_lsh_banded_indexed(
        spark, path, q.filter(F.col("vec_id") < 10), k=10,
        planes=_LSH_TOPK_PLANES, bands=_LSH_TOPK_BANDS, dim=_DIM,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# Cluster counts DERIVE from corpus size (operators.similarity
# .derived_cluster_count): k = max(kmin, ceil(n / target)), keeping
# mean cluster membership <= target at any scale — a fixed k would
# let per-cluster pair candidates grow O((n/k)^2) (unbounded at
# 100 TB). The oracle computes the SAME integer formula from
# count(*), so Spark and DuckDB derive identical k at every sf.
# Targets are chosen so the historical constants (IVF k=8, SemDeDup
# k=32) are reproduced exactly at the n=500 fixture corpora.
_IVF_KMIN = 8
_IVF_TARGET = 64  # probing path: fewer, larger clusters (nprobe=2)
_IVF_ITERS = 2
_IVF_NPROBE = 2
# bounded-sample training: Lloyd steps see hash_bucket(vec_id, 4) < 1
# (~25% of the corpus); assignment & probing stay full-corpus. The
# rule is a pure function of vec_id -> the oracle reproduces it.
_IVF_SAMPLE = (1, 4)
# two-level routed assignment: with k ∝ n the flat nearest-centroid
# pass is O(n·k) = O(n²/target) — the engine's named scale
# bottleneck. Vectors route through the 4 nearest of ⌈√k⌉ coarse
# cells (cells = a 1-step integer Lloyd over the centroids
# themselves), then argmin only over those cells' centroids:
# O(n·√k). Every step is exact-int / correctly-rounded IEEE, so the
# oracle unrolls the routing too (operators.similarity.coarse_route).
# Width 4 measured at sf0.1 (k=125, 12 cells): exact-argmin agreement
# 0.67/0.81/0.90 at rw 2/3/4 for ~(1+rw)√k dots vs k — rw=4 keeps
# ~7x the flat cost at k=1250 while holding 90% exactness; extra
# coarse Lloyd steps measured <2pp and were not worth a larger oracle.
_ROUTE_WIDTH = 4


def _ivf_dist_sql(qa: str, qc: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {_DIM + 1}),"
        f" i -> ({qa}[i] - {qc}[i]) * ({qa}[i] - {qc}[i])))"
        " AS BIGINT)"
    )


def _ivf_assign_parts(
    kmin: int = _IVF_KMIN, target: int = _IVF_TARGET
) -> list[str]:
    """Shared oracle prefix: unrolled deterministic k-means (init = k
    lowest SAMPLED vec_ids, 2 Lloyd steps over the hash sample,
    floor-average centroids) ending in the full-corpus assignment CTE
    ``m{_IVF_ITERS}`` (vec_id, q, norm2, c). Training reads ``tquant``
    (the deterministic ~num/den hash sample mirroring
    ``operators.sampling.hash_bucket``); the final assignment reads
    the full ``quant``. k is DERIVED from the corpus count inside the
    SQL (``kp`` CTE) with the same integer formula as
    ``operators.similarity.derived_cluster_count``. Reused by the q32
    (IVF probe) and q76 (SemDeDup prune) oracles — one trained index,
    two consumers."""
    num, den = _IVF_SAMPLE
    parts = [
        _QUANT_SQL,
        f"""
kp AS (
  SELECT GREATEST({kmin}, (count(*) + {target} - 1) // {target}) AS k
  FROM quant
)""",
        f"""
tquant AS (
  SELECT * FROM quant
  WHERE CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15))
             AS BIGINT) % {den} < {num}
)""",
        """
cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c,
         q AS cq
  FROM (SELECT vec_id, q FROM tquant ORDER BY vec_id
        LIMIT (SELECT k FROM kp))
)""",
    ]
    for it in range(_IVF_ITERS):
        # Lloyd steps assign the training sample against cents{it},
        # then recompute floor-average centroids
        parts.append(f"""
a{it} AS (
  SELECT vec_id, q, norm2, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
  FROM (SELECT a.vec_id, a.q, a.norm2, s.c,
               {_ivf_dist_sql('a.q', 's.cq')} AS dist
        FROM tquant a, cents{it} s)
),
m{it} AS (SELECT vec_id, q, norm2, c FROM a{it} WHERE rn = 1)""")
        parts.append(f"""
cents{it + 1} AS (
  SELECT c, list(av ORDER BY i) AS cq
  FROM (SELECT c, t.i,
               CAST(floor(CAST(SUM(q[t.i]) AS DOUBLE) / COUNT(*))
                 AS BIGINT) AS av
        FROM m{it}, unnest(range(1, {_DIM + 1})) AS t(i)
        GROUP BY c, t.i)
  GROUP BY c
)""")
    # full-corpus index assignment goes through two-level routing
    # (operators.similarity.coarse_route / _assign_pandas_routed):
    # mc = ceil-sqrt of the LIVE centroid count (integer-exact via a
    # floor(sqrt) fixed up with an integer CASE — an off-by-one double
    # sqrt cannot diverge the engines), cells = 1-step integer Lloyd
    # over the centroids (init = mc lowest-id centroids, floor-average
    # recompute, ties -> lowest cell id, empty cells dropped), each
    # vector routes to its _ROUTE_WIDTH nearest LIVE cells and argmins
    # over only their member centroids.
    last = _IVF_ITERS
    parts.append(f"""
mcp AS (
  SELECT GREATEST(1, CASE
           WHEN s - 1 >= 1 AND (s - 1) * (s - 1) >= k THEN s - 1
           WHEN s * s >= k THEN s
           ELSE s + 1 END) AS mc
  FROM (SELECT k, CAST(floor(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS s
        FROM (SELECT count(*) AS k FROM cents{last}))
)""")
    parts.append(f"""
gc0 AS (
  SELECT CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT) AS g,
         cq AS gq
  FROM (SELECT c, cq FROM cents{last} ORDER BY c
        LIMIT (SELECT mc FROM mcp))
)""")
    parts.append(f"""
ga0 AS (
  SELECT c, cq, g,
         row_number() OVER (PARTITION BY c ORDER BY dist, g) AS rn
  FROM (SELECT a.c, a.cq, s.g,
               {_ivf_dist_sql('a.cq', 's.gq')} AS dist
        FROM cents{last} a, gc0 s)
),
gm0 AS (SELECT c, cq, g FROM ga0 WHERE rn = 1)""")
    parts.append(f"""
gc1 AS (
  SELECT g, list(av ORDER BY i) AS gq
  FROM (SELECT g, t.i,
               CAST(floor(CAST(SUM(cq[t.i]) AS DOUBLE) / COUNT(*))
                 AS BIGINT) AS av
        FROM gm0, unnest(range(1, {_DIM + 1})) AS t(i)
        GROUP BY g, t.i)
  GROUP BY g
)""")
    parts.append(f"""
ga1 AS (
  SELECT c, g,
         row_number() OVER (PARTITION BY c ORDER BY dist, g) AS rn
  FROM (SELECT a.c, s.g,
               {_ivf_dist_sql('a.cq', 's.gq')} AS dist
        FROM cents{last} a, gc1 s)
),
gm1 AS (SELECT c, g FROM ga1 WHERE rn = 1)""")
    parts.append("""
glive AS (
  SELECT s.g, s.gq FROM gc1 s
  WHERE s.g IN (SELECT g FROM gm1)
)""")
    parts.append(f"""
vroute AS (
  SELECT vec_id, q, norm2, g FROM (
    SELECT vec_id, q, norm2, g,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, g) AS rn
    FROM (SELECT a.vec_id, a.q, a.norm2, s.g,
                 {_ivf_dist_sql('a.q', 's.gq')} AS dist
          FROM quant a, glive s))
  WHERE rn <= {_ROUTE_WIDTH}
)""")
    parts.append(f"""
a{last} AS (
  SELECT vec_id, q, norm2, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
  FROM (SELECT v.vec_id, v.q, v.norm2, s.c,
               {_ivf_dist_sql('v.q', 's.cq')} AS dist
        FROM vroute v
        JOIN gm1 mem ON mem.g = v.g
        JOIN cents{last} s ON s.c = mem.c)
),
m{last} AS (SELECT vec_id, q, norm2, c FROM a{last} WHERE rn = 1)""")
    return parts


def _ivf_oracle() -> str:
    """Trained index (``_ivf_assign_parts``) + nprobe=2 probing — the
    whole approximate ANN pipeline reproduced in SQL for a full
    value-hash check."""
    parts = _ivf_assign_parts()
    last = _IVF_ITERS
    parts.append(f"""
queries AS (SELECT * FROM quant WHERE vec_id < 10),
qp AS (
  SELECT query_id, c FROM (
    SELECT query_id, c,
           row_number() OVER (PARTITION BY query_id
             ORDER BY dist, c) AS rn
    FROM (SELECT a.vec_id AS query_id, s.c,
                 {_ivf_dist_sql('a.q', 's.cq')} AS dist
          FROM queries a, cents{last} s))
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, b.vec_id AS cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM qp p
  JOIN m{last} b ON b.c = p.c AND b.vec_id <> p.query_id
  JOIN queries a ON a.vec_id = p.query_id
),
ranked AS (
  SELECT query_id, cand_id, cos_scaled,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_scaled DESC, cand_id) AS BIGINT) AS rank
  FROM scored
)""")
    return (
        "WITH "
        + ",".join(p.strip().rstrip(",") for p in parts)
        + f"\nSELECT query_id, cand_id, rank, cos_scaled "
        f"FROM ranked WHERE rank <= 10"
    )


@query("q32_ann_topk_ivf", oracle=_ivf_oracle())
def q32_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-index ANN: IVF coarse quantizer from a deterministic
    integer k-means (k derived from corpus size — mean cluster
    membership stays <= {_IVF_TARGET}; 2 Lloyd steps), nprobe=2. The
    data-adaptive counterpart to q26's fixed hyperplanes — at fleet
    scale the cluster id is the corpus partition key and a query
    touches nprobe partitions instead of the whole corpus."""
    from ..operators.similarity import derived_cluster_count, topk_ivf

    # metadata-only parquet count: no column decode, no shuffle
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    out = topk_ivf(
        q, q.filter(F.col("vec_id") < 10),
        k=10,
        n_centroids=derived_cluster_count(n, _IVF_KMIN, _IVF_TARGET),
        iters=_IVF_ITERS,
        nprobe=_IVF_NPROBE, dim=_DIM, train_sample=_IVF_SAMPLE,
        route_width=_ROUTE_WIDTH,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q133


@query("q133_ivf_index_persisted", oracle=_ivf_oracle())
def q133_ivf_index_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q32 through the PERSISTED IVF index (the q129 treatment on
    the ANN side): codebook trained once and written at rest with
    the cluster-partitioned corpus (similarity.write_ivf_index),
    probe reads the codebook plus ONLY the probed cluster
    partitions — the probed-cluster IN filter prunes directories at
    the file listing, so per-probe cost is independent of corpus
    size instead of q32's train+assign pass per call. The probe
    routes through every cell (probe_cells=None), so it reads the
    whole codebook and selects exactly q32's probes. Shares q32's
    oracle VERBATIM: probe/score is the same shared stage, so the
    DuckDB hash match proves the persistence round-trips codebook
    and assignments exactly (tests/test_ivf_index.py pins
    indexed≡inline, append≡wholesale, and the partition pruning)."""
    import tempfile

    from ..operators.similarity import (
        derived_cluster_count,
        topk_ivf_indexed_hier,
        write_ivf_index,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q133_ivf_index_")
    write_ivf_index(
        q, path,
        n_centroids=derived_cluster_count(n, _IVF_KMIN, _IVF_TARGET),
        iters=_IVF_ITERS, dim=_DIM, train_sample=_IVF_SAMPLE,
        route_width=_ROUTE_WIDTH,
    )
    out = topk_ivf_indexed_hier(
        spark, path, q.filter(F.col("vec_id") < 10),
        k=10, nprobe=_IVF_NPROBE, probe_cells=None,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q134


@query("q134_ivf_index_append", oracle=_ivf_oracle())
def q134_ivf_index_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The IVF daily-increment shape: index written from HALF the
    corpus, the other half APPENDED under the frozen codebook
    (similarity.append_ivf_index — one assignment pass over the
    batch, no retrain, no corpus re-assign), then probed. The
    codebook is trained on the full corpus's deterministic sample
    exactly as q32 does, so assignment-per-row determinism makes the
    parts-then-append index bit-identical to the wholesale one —
    which is why this query can share q32's oracle verbatim, and the
    hash match IS the proof the append path loses nothing."""
    import tempfile

    from ..operators.similarity import (
        append_ivf_index,
        derived_cluster_count,
        kmeans_centroids,
        topk_ivf_indexed_hier,
        write_ivf_index,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    cents = kmeans_centroids(
        q, k=derived_cluster_count(n, _IVF_KMIN, _IVF_TARGET),
        iters=_IVF_ITERS, dim=_DIM, train_sample=_IVF_SAMPLE,
    )
    path = tempfile.mkdtemp(prefix="q134_ivf_index_")
    write_ivf_index(
        q.filter(F.col("vec_id") % 2 == 0), path,
        cents=cents, route_width=_ROUTE_WIDTH,
    )
    append_ivf_index(
        q.filter(F.col("vec_id") % 2 == 1), path,
        route_width=_ROUTE_WIDTH,
    )
    out = topk_ivf_indexed_hier(
        spark, path, q.filter(F.col("vec_id") < 10),
        k=10, nprobe=_IVF_NPROBE, probe_cells=None,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q76

# SemDeDup wants MANY small clusters (bounded n_c -> bounded pair
# candidates); the probe path (q32) wants few (nprobe covers recall).
# Hence the smaller target membership; both derive from corpus size.
_SEM_KMIN = 32
_SEM_TARGET = 16


def _semdedup_oracle() -> str:
    """Same trained index as q32 (``_ivf_assign_parts``), consumed by
    the SemDeDup prune: within-cluster pairs a<b at cosine >= tau;
    the dropped side aggregated per (vec_id, cluster)."""
    parts = _ivf_assign_parts(kmin=_SEM_KMIN, target=_SEM_TARGET)
    last = _IVF_ITERS
    parts.append(f"""
pairs AS (
  SELECT b.vec_id AS id_b, b.c AS cluster,
         {_DOT_SQL} AS dot, a.norm2 AS n_a, b.norm2 AS n_b
  FROM m{last} a
  JOIN m{last} b ON a.c = b.c AND a.vec_id < b.vec_id
)""")
    return (
        "WITH "
        + ",".join(p.strip().rstrip(",") for p in parts)
        + f"""
SELECT id_b AS vec_id, cluster,
       CAST(count(*) AS BIGINT) AS n_dominators,
       max({_cos_scaled_sql('dot', 'n_a', 'n_b')}) AS max_cos_scaled
FROM pairs
WHERE dot > 0
  AND dot * dot * 10000 >= {_COS_PCT * _COS_PCT} * n_a * n_b
GROUP BY 1, 2"""
    )


@query("q76_semdedup_drops", oracle=_semdedup_oracle())
def q76_semdedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540):
    cluster embeddings with the same trained quantizer as q32, then
    drop any doc with a lower-id near-dup (cos >= tau=0.35) in its
    cluster. Returns the dropped docs with evidence columns. The
    scale win over q24's all-pairs: candidates are bounded per
    cluster (k derives from corpus size, pinning mean membership at
    <= {_SEM_TARGET}) and the pair join is co-located on the index's
    partition key."""
    from ..operators.similarity import derived_cluster_count, semdedup_drops

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    return semdedup_drops(
        _embeddings_q(spark, sf_dir),
        threshold_pct=_COS_PCT,
        n_centroids=derived_cluster_count(n, _SEM_KMIN, _SEM_TARGET),
        iters=_IVF_ITERS,
        dim=_DIM,
        train_sample=_IVF_SAMPLE,
        route_width=_ROUTE_WIDTH,
    )


# ---------------------------------------------------------------- q109

@query("q109_semdedup_split_prune", oracle=_semdedup_oracle())
def q109_semdedup_split_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q76 driven through the oversized-cluster SPLIT path: an
    aggressively small ``max_cluster_rows`` forces every cluster
    beyond 10 members to shard into ``hash(vec_id) % g`` block-pair tasks
    (``on_oversized='split'``), whose per-doc dominator partials
    re-aggregate with order-free sum/max. The result is bit-identical
    to the unsplit prune by construction, so this shares q76's
    oracle — making the graceful-degradation path itself
    driver-checkable, not just pytest-pinned."""
    from ..operators.similarity import derived_cluster_count, semdedup_drops

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    return semdedup_drops(
        _embeddings_q(spark, sf_dir),
        threshold_pct=_COS_PCT,
        n_centroids=derived_cluster_count(n, _SEM_KMIN, _SEM_TARGET),
        iters=_IVF_ITERS,
        dim=_DIM,
        train_sample=_IVF_SAMPLE,
        route_width=_ROUTE_WIDTH,
        max_cluster_rows=10,
        on_oversized="split",
    )


# ---------------------------------------------------------------- q135

# incremental SemDeDup batch split: every 5th vector is the "new"
# batch, the rest is the standing indexed corpus
_SEM_INCR_MOD = 5


def _semdedup_incr_oracle() -> str:
    """Same trained-and-routed assignment as q76 (``_ivf_assign_
    parts`` with the SemDeDup k), consumed by the INCREMENT rule: a
    new doc (vec_id % {_SEM_INCR_MOD} == 0) is dropped iff a
    near-dup shares its cluster and is indexed (any id) or a
    smaller-id batch member; survivors are the rest of the batch."""
    parts = _ivf_assign_parts(kmin=_SEM_KMIN, target=_SEM_TARGET)
    last = _IVF_ITERS
    parts.append(f"""
cand AS (
  SELECT b.vec_id AS new_id, {_DOT_SQL} AS dot,
         a.norm2 AS n_a, b.norm2 AS n_b
  FROM m{last} a
  JOIN m{last} b
    ON a.c = b.c
   AND b.vec_id % {_SEM_INCR_MOD} = 0
   AND (a.vec_id % {_SEM_INCR_MOD} <> 0 OR a.vec_id < b.vec_id)
),
dropped AS (
  SELECT DISTINCT new_id FROM cand
  WHERE dot > 0
    AND dot * dot * 10000 >= {_COS_PCT * _COS_PCT} * n_a * n_b
)""")
    return (
        "WITH "
        + ",".join(p.strip().rstrip(",") for p in parts)
        + f"""
SELECT vec_id, c AS cluster FROM m{last}
WHERE vec_id % {_SEM_INCR_MOD} = 0
  AND vec_id NOT IN (SELECT new_id FROM dropped)"""
    )


@query("q135_semdedup_increment", oracle=_semdedup_incr_oracle())
def q135_semdedup_increment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup against the persisted IVF index — the
    third consumer of the q133/q134 index and the embedding-side
    twin of q129's incremental MinHash: the standing corpus is
    clustered AT REST, and a daily batch is assigned under the
    frozen codebook, compared only against its own clusters'
    members (partition-pruned read + broadcast batch), and appended.
    A batch doc survives unless a cosine-τ near-dup is indexed or a
    smaller-id batch member shares its cluster
    (similarity.semdedup_increment_against_index). The codebook is
    trained on the full corpus's deterministic sample exactly as
    q76, so the oracle reproduces assignments bit-for-bit and the
    hash match pins the whole incremental chain."""
    import tempfile

    from ..operators.similarity import (
        derived_cluster_count,
        kmeans_centroids,
        semdedup_increment_against_index,
        write_ivf_index,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    cents = kmeans_centroids(
        q, k=derived_cluster_count(n, _SEM_KMIN, _SEM_TARGET),
        iters=_IVF_ITERS, dim=_DIM, train_sample=_IVF_SAMPLE,
    )
    path = tempfile.mkdtemp(prefix="q135_ivf_index_")
    write_ivf_index(
        q.filter(F.col("vec_id") % _SEM_INCR_MOD != 0), path,
        cents=cents, route_width=_ROUTE_WIDTH,
    )
    return semdedup_increment_against_index(
        q.filter(F.col("vec_id") % _SEM_INCR_MOD == 0), path,
        threshold_pct=_COS_PCT, route_width=_ROUTE_WIDTH,
    )


# ---------------------------------------------------------------- q30

@query(
    "q30_multimodal_features",
    oracle="""
WITH media AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
           AS media_type
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
       CAST(list_sum(list_transform(range(1, length(hx) // 2 + 1),
         i -> strpos('123456789ABCDEF', substr(hx, 2*i-1, 1)) * 16
            + strpos('123456789ABCDEF', substr(hx, 2*i, 1))))
         AS BIGINT) AS byte_sum,
       CAST(8 AS BIGINT) AS feat_dim
FROM media
""",
)
def q30_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads + Arrow-batched
    mapInPandas feature extraction (decode stubbed with a
    deterministic byte-bucket fake — the Spark-side schema,
    batching and partition-preserving execution are real)."""
    from ..operators.multimodal import attach_payload, extract_features

    media = attach_payload(_documents(spark, sf_dir))
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "byte_sum",
        F.size("feature").cast("long").alias("feat_dim"),
    )

# ---------------------------------------------------------------- q46

_TOP_TERMS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM documents
),
ex AS (SELECT doc_id, unnest(toks) AS token FROM toks),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
ranked AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.token ASC)
           AS rnk
  FROM tf t JOIN dfreq d USING (token)
)
SELECT doc_id, token, tf, df, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


@query("q46_top_characteristic_terms", oracle=_TOP_TERMS_ORACLE)
def q46_top_characteristic_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 characteristic terms per document, ranked by term
    frequency with rarity (ascending document frequency) then the
    term itself as tie-breaks — the integer-exact core of TF-IDF
    (a float idf weight would change ordering only within exact-tf
    ties, which the df tie-break already resolves by rarity; staying
    integer keeps the output engine-portable, see the date/float
    conventions in queries/__init__).

    Plan: tokens projected once, exploded in a separate select (the
    Generate barrier stops Catalyst re-inlining the split per
    element); tf is one groupBy(doc, token); df re-aggregates tf's
    output (already distinct per doc — no count_distinct Expand);
    the tf-df join shuffles on token; the final top-3 is a bounded
    rank window per doc."""
    docs = _documents(spark, sf_dir)
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    ex = toks.select("doc_id", F.explode("toks").alias("token"))
    tf = ex.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # tf feeds two different exchanges (hash(doc_id,token) for the
    # join, hash(token) for dfreq) so ReusedExchange can't apply and
    # the subtree would compute twice. Measured at sf0.1 (10
    # alternating trials each, r3): lazy localCheckpoint median
    # 0.82 s vs recompute 0.89 s vs persist() 1.20 s — persist loses
    # to both (CacheManager materialization costs more than the
    # scan+explode+agg it saves), checkpoint wins because blocks are
    # written once and owned by the RDD (GC-cleaned, no CacheManager
    # entry). Single-machine call: on a multi-executor cluster,
    # localCheckpoint truncates lineage (an executor loss fails the
    # job) — there, recompute or a parquet checkpoint of tf is the
    # right shape if more consumers appear.
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "tf", "df", "rnk")
    )

# ---------------------------------------------------------------- q48

_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_PREFIX_SQL}, {_SHINGLE_SQL}, {_CAPPED_PAIRS_SQL},
edges AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE common * 100 >= {_JACCARD_PCT} * (size_a + size_b - common)
),
sym AS (
  SELECT doc_a AS n, doc_b AS m FROM edges
  UNION SELECT doc_b, doc_a FROM edges
),
reach(n, r) AS (
  SELECT DISTINCT n, n FROM sym
  UNION
  SELECT s.m, reach.r FROM reach JOIN sym s ON reach.n = s.n
)
SELECT n AS doc_id,
       CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY n
"""


@query("q48_dedup_components", oracle=_COMPONENTS_ORACLE)
def q48_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS from q21's Jaccard pair graph:
    iterative min-label propagation (operators/components.py) — the
    'keep one per component' step a dedup pipeline actually executes;
    pairs alone under-count when dups chain (a~b, b~c, but a!~c).
    The oracle walks the same graph with a recursive CTE, so the
    hash-match pins the fixed point, not just one propagation
    round."""
    from ..operators.components import connected_components

    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    pairs = D.jaccard_pairs(
        sh, threshold_pct=_JACCARD_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select("doc_a", "doc_b")
    return connected_components(
        pairs, src="doc_a", dst="doc_b"
    ).select(F.col("node").alias("doc_id"), "component")

# ---------------------------------------------------------------- q52

_REPETITION_ORACLE = rf"""
WITH corpus AS (SELECT doc_id, text FROM documents),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
bg AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END
           AS bg_total,
         CASE WHEN len(toks) >= 2 THEN
           len(list_distinct(list_transform(range(1, len(toks)),
             i -> concat_ws(' ', toks[i], toks[i+1]))))
         ELSE 0 END AS bg_distinct
  FROM toks
),
tf AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_tf
  FROM (SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
        GROUP BY doc_id, token)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN b.bg_total > 0 THEN floor(
         (b.bg_total - b.bg_distinct) * 1000000.0 / b.bg_total)
         ELSE 0 END AS BIGINT) AS dup_bigram_ppm,
       CAST(CASE WHEN b.n_tokens > 0 THEN floor(
         coalesce(t.top_tf, 0) * 1000000.0 / b.n_tokens)
         ELSE 0 END AS BIGINT) AS top_token_ppm,
       CAST(CASE WHEN b.n_tokens < 50 THEN 1 ELSE 0 END AS BIGINT)
         AS flag_too_short
FROM bg b LEFT JOIN tf t USING (doc_id)
"""


@query("q52_repetition_quality", oracle=_REPETITION_ORACLE)
def q52_repetition_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1):
    duplicate-bigram fraction and top-token dominance, ppm-floor
    integers. Bigram stats are pure HOF expressions on the projected
    token array (distinct-count via the same word_shingles used for
    Jaccard — total is just size-1, so NO bigram explode); only the
    top-token stat shuffles (explode + per-doc max), keyed on
    (doc_id, token) — even spread."""
    toks = _documents(spark, sf_dir).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    bg = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.greatest(F.size("toks") - 1, F.lit(0)).alias("bg_total"),
        F.size(X.word_shingles(F.col("toks"), 2)).alias("bg_distinct"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_tf"))
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        den > 0, F.floor(num * F.lit(1_000_000.0) / den)
    ).otherwise(0).cast("long")
    return bg.join(tf, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        ppm(
            (F.col("bg_total") - F.col("bg_distinct")),
            F.col("bg_total"),
        ).alias("dup_bigram_ppm"),
        ppm(F.coalesce("top_tf", F.lit(0)), F.col("n_tokens")).alias(
            "top_token_ppm"
        ),
        F.when(F.col("n_tokens") < 50, 1)
        .otherwise(0)
        .cast("long")
        .alias("flag_too_short"),
    )


# ---------------------------------------------------------------- q53

# every 40th doc gets a deterministic contact line appended so the
# scan is non-vacuous (the synthetic corpus contains no natural PII)
_PII_SQL = """
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 40 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or user' || CAST(doc_id AS VARCHAR)
                || '@test.org today'
         ELSE text END AS text
  FROM documents
)
"""

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"

_PII_ORACLE = f"""
WITH {_PII_SQL},
per_doc AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '{_EMAIL_RE}'))
              AS BIGINT) AS n_emails
  FROM corpus
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii,
       CAST(sum(n_emails) AS BIGINT) AS n_emails_total,
       CAST(max(n_emails) AS BIGINT) AS max_emails_per_doc
FROM per_doc
"""


@query("q53_pii_scan", oracle=_PII_ORACLE)
def q53_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII audit: per-doc email-pattern counts rolled up to
    corpus totals — the pre-redaction measurement step of a training
    pipeline. Narrow scan + regexp_count (JVM codegen, no UDF); the
    regex is RE2/Java-portable (no backrefs/lookaround) so DuckDB
    counts identically."""
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or user"),
                F.col("doc_id").cast("string"),
                F.lit("@test.org today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    per_doc = docs.select(
        F.regexp_count(F.lower("text"), F.lit(_EMAIL_RE)).alias(
            "n_emails"
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_emails") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_pii"),
        F.sum("n_emails").cast("long").alias("n_emails_total"),
        F.max("n_emails").cast("long").alias("max_emails_per_doc"),
    )

# ---------------------------------------------------------------- q58

_PREP_ORACLE = rf"""
WITH {_PII_SQL},
dedup AS (
  SELECT min(doc_id) AS doc_id, first(text) AS text
  FROM corpus GROUP BY text
),
toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM dedup
),
stats AS (
  SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars,
         CASE WHEN len(toks) >= 2 THEN
           len(toks) - 1
           - len(list_distinct(list_transform(range(1, len(toks)),
               i -> concat_ws(' ', toks[i], toks[i+1]))))
         ELSE 0 END AS dup_bigrams,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END
           AS total_bigrams,
         len(regexp_extract_all(lower(text), '{_EMAIL_RE}'))
           AS n_emails
  FROM toks
),
kept AS (
  SELECT doc_id, n_tokens, n_chars
  FROM stats
  WHERE n_tokens >= 50
    AND n_emails = 0
    AND dup_bigrams * 5 < total_bigrams
),
split AS (
  SELECT *,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT % 100 AS bkt
  FROM kept
)
SELECT CASE WHEN bkt < 90 THEN 'train'
            WHEN bkt < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM split GROUP BY 1
"""


@query("q58_training_data_prep", oracle=_PREP_ORACLE)
def q58_training_data_prep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end corpus preparation as ONE Catalyst plan: per-doc
    stats computed NARROWLY first (tokenize once, in the scan
    stage), then exact dedup as a rank window over sha2(text) —
    so the only wide exchange carries ~60-byte stat rows, never
    document bytes (a groupBy(text) dedup-first formulation
    measured 3x slower at sf0.1 purely from shuffling text) —
    then quality gates (length >= 50 tokens, duplicate-bigram
    fraction < 20%), PII gate (zero email hits; q53's injected
    corpus keeps it non-vacuous), deterministic 90/5/5 hash split,
    per-split token/char accounting. Every stage reuses an operator
    proven by its own oracle query (q20/q52/q53/q42). Duplicate
    docs pay tokenization twice — the right trade when the dup
    fraction is small; flip stages for dup-heavy feeds."""
    from ..operators.sampling import hash_split

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or user"),
                F.col("doc_id").cast("string"),
                F.lit("@test.org today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = docs.select(
        "doc_id",
        F.sha2("text", 256).alias("_h"),
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.lower("text"), F.lit(_EMAIL_RE)).alias(
            "n_emails"
        ),
        X.tokens(F.col("text")).alias("toks"),
    )
    stats = toks.select(
        "doc_id",
        "_h",
        "n_chars",
        "n_emails",
        F.size("toks").cast("long").alias("n_tokens"),
        F.greatest(F.size("toks") - 1, F.lit(0)).alias(
            "total_bigrams"
        ),
        (
            F.greatest(F.size("toks") - 1, F.lit(0))
            - F.size(X.word_shingles(F.col("toks"), 2))
        ).alias("dup_bigrams"),
    )
    w = Window.partitionBy("_h").orderBy("doc_id")
    dedup = (
        stats.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_h")
    )
    kept = dedup.filter(
        (F.col("n_tokens") >= 50)
        & (F.col("n_emails") == 0)
        & (F.col("dup_bigrams") * 5 < F.col("total_bigrams"))
    )
    return (
        hash_split(kept, "doc_id", {"train": 90, "val": 5, "test": 5})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )

# ---------------------------------------------------------------- q59

_FUZZY_ORACLE = f"""
WITH {_PREFIX_SQL},
keyed AS (
  SELECT doc_id, substr(lower(text), 1, 12) AS blk,
         substr(text, 1, 60) AS head
  FROM corpus
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
FROM keyed a JOIN keyed b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 5
"""


@query("q59_fuzzy_blocked_match", oracle=_FUZZY_ORACLE)
def q59_fuzzy_blocked_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Record-linkage-style fuzzy matching: block on a 12-char
    lowercase prefix, then exact Levenshtein on 60-char heads within
    each block. Blocking bounds the self-join to same-key pairs —
    the standard O(n²)-avoidance for edit-distance joins (the
    quadratic cost survives only inside a block, which dedup-shaped
    data keeps tiny); distance runs on bounded 60-char heads so the
    DP cost per pair is a constant, JVM-side (no UDF)."""
    corpus = _prefix_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id",
        F.substring(F.lower("text"), 1, 12).alias("blk"),
        F.substring("text", 1, 60).alias("head"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein("a.head", "b.head")
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
    )


# ---------------------------------------------------------------- q62

_DECON_NGRAM = 5
_DECON_MIN_SHARED = 3
# eval split under a FIXED id cap (≤ _Q62_EVAL_CAP/20 = 10k docs no
# matter how large the corpus) — the q122/q123 _EVAL_MAX_ID treatment
# (r9 advice applied to q127; same flaw here): a bare % 20 split is
# corpus-proportional, so its exploded gram side grows linearly and
# eventually trips contamination's EVAL_GRAM_BUDGET_ROWS raise while
# the docstring claims the eval side is benchmark-sized.
_Q62_EVAL_CAP = 200_000


@query(
    "q62_benchmark_decontamination",
    oracle=rf"""
WITH evals AS (
  SELECT doc_id AS eval_id,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents WHERE doc_id % 20 = 0 AND doc_id < {_Q62_EVAL_CAP}
),
td AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM documents
),
sd AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_DECON_NGRAM} THEN
           list_distinct(list_transform(
             range(1, len(toks) - {_DECON_NGRAM - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                            toks[i+3], toks[i+4])))
         ELSE CAST([] AS VARCHAR[]) END AS sh
  FROM td
),
te AS (
  SELECT eval_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM evals
),
se AS (
  SELECT eval_id,
         CASE WHEN len(toks) >= {_DECON_NGRAM} THEN
           list_distinct(list_transform(
             range(1, len(toks) - {_DECON_NGRAM - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                            toks[i+3], toks[i+4])))
         ELSE CAST([] AS VARCHAR[]) END AS sh
  FROM te
),
xd AS (SELECT doc_id, unnest(sh) AS g FROM sd),
xe AS (SELECT eval_id, unnest(sh) AS g FROM se)
SELECT xd.doc_id, xe.eval_id,
       CAST(count(*) AS BIGINT) AS shared_ngrams
FROM xd JOIN xe ON xd.g = xe.g
GROUP BY xd.doc_id, xe.eval_id
HAVING count(*) >= {_DECON_MIN_SHARED}
""",
)
def q62_benchmark_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing >=
    {min_shared} distinct 5-grams with an eval set (here: 80%
    prefixes of every 20th doc UNDER THE FIXED id cap _Q62_EVAL_CAP —
    planted positives, plus whatever natural near-dups cross the
    line). Eval side broadcast — the corpus never shuffles — and
    bounded by construction via the cap, enforced by the operator's
    gram-budget raise (operators/contamination.py)."""
    from ..operators.contamination import contamination

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    evals = docs.filter(
        (F.col("doc_id") % 20 == 0) & (F.col("doc_id") < _Q62_EVAL_CAP)
    ).select(
        F.col("doc_id").alias("eval_id"),
        F.expr(
            "substring(text, 1, CAST(floor(length(text) * 0.8) AS INT))"
        ).alias("text"),
    )
    return contamination(
        docs, evals, ngram=_DECON_NGRAM, min_shared=_DECON_MIN_SHARED
    )


# ---------------------------------------------------------------- q63

_BOILER_CHUNK = 8
_BOILER_MIN_DF = 2


@query(
    "q63_boilerplate_chunks",
    oracle=rf"""
WITH {_PREFIX_SQL},
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM corpus
),
chunked AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(floor(len(toks) / {_BOILER_CHUNK}) AS INT)),
           i -> array_to_string(
             toks[(i*{_BOILER_CHUNK}+1):(i*{_BOILER_CHUNK}+{_BOILER_CHUNK})],
             ' ')) AS chunks
  FROM toks
  WHERE len(toks) >= {_BOILER_CHUNK}
),
inst AS (SELECT doc_id, unnest(chunks) AS chunk FROM chunked),
dfs AS (
  SELECT chunk FROM (SELECT DISTINCT doc_id, chunk FROM inst)
  GROUP BY chunk HAVING count(*) >= {_BOILER_MIN_DF}
),
marked AS (
  SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_boiler_chunks
  FROM inst i JOIN dfs d ON i.chunk = d.chunk
  GROUP BY i.doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM inst
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_chunks,
       CAST(COALESCE(m.n_boiler_chunks, 0) AS BIGINT) AS n_boiler_chunks,
       CAST(floor(COALESCE(m.n_boiler_chunks, 0) * 1000000.0 / t.n_chunks)
            AS BIGINT) AS boiler_ppm
FROM totals t LEFT JOIN marked m ON t.doc_id = m.doc_id
""",
)
def q63_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection over fixed-width token chunks on the
    prefix-copy corpus (planted near-dups guarantee df >= 2 chunks).
    The df count shuffles sha2 digests, never chunk text
    (operators/contamination.py)."""
    from ..operators.contamination import boilerplate_chunks

    return boilerplate_chunks(
        _prefix_corpus(spark, sf_dir),
        chunk=_BOILER_CHUNK,
        min_df=_BOILER_MIN_DF,
    )


# ---------------------------------------------------------------- q64


@query(
    "q64_token_stats",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(list_sum(list_transform(toks,
              t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS BIGINT)
         AS bpe_est_tokens,
       CASE WHEN len(toks) > 0 THEN
         CAST(floor(COALESCE(list_sum(list_transform(toks,
                t -> length(t))), 0) * 1000000.0 / len(toks)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS chars_per_token_ppm
FROM toks
""",
)
def q64_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for data budgeting: whitespace tokens + BPE-ish
    subword estimate (ceil(len/4) pieces per word) — one aggregate
    HOF over the materialized token array, no explode, no shuffle
    (operators/text.token_stats)."""
    return X.token_stats(_documents(spark, sf_dir))


# ---------------------------------------------------------------- q65

_RESIZE_W = 32
_RESIZE_H = 32
_N_FRAMES = 4


@query(
    "q65_multimodal_resize_frames",
    oracle=f"""
WITH media AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
           AS media_type
  FROM documents
)
SELECT doc_id, media_type,
       CAST(CASE WHEN media_type = 'image'
                 THEN least(n, {_RESIZE_W * _RESIZE_H}) ELSE n END
            AS BIGINT) AS resized_bytes,
       CAST(CASE WHEN media_type = 'video'
                 THEN least({_N_FRAMES}, n) ELSE 0 END
            AS BIGINT) AS n_frames,
       CAST(CASE WHEN media_type = 'video'
                 THEN least({_N_FRAMES}, n) *
                      (CASE WHEN n >= {_N_FRAMES}
                            THEN n // {_N_FRAMES} ELSE 1 END)
                 ELSE 0 END
            AS BIGINT) AS frame_bytes
FROM media
""",
)
def q65_multimodal_resize_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multimodal transform plumbing: resize (1:1 payload transform)
    and video frame sampling (1:N fan-out), both Arrow-batched
    mapInPandas with deterministic byte-level fakes behind the codec
    boundary. The oracle checks the SIZE arithmetic of both
    transforms — the part expressible without the codec — so the
    batch shapes, fan-out row counts, and pass-through rules are all
    pinned."""
    from ..operators.multimodal import (
        attach_payload,
        resize_images,
        sample_frames,
    )

    media = attach_payload(_documents(spark, sf_dir))
    resized = resize_images(media, _RESIZE_W, _RESIZE_H).select(
        "doc_id", "media_type", F.col("n_bytes").alias("resized_bytes")
    )
    frames = (
        sample_frames(media, _N_FRAMES)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum("n_bytes").cast("long").alias("frame_bytes"),
        )
    )
    return resized.join(frames, "doc_id", "left").select(
        "doc_id",
        "media_type",
        "resized_bytes",
        F.coalesce("n_frames", F.lit(0)).cast("long").alias("n_frames"),
        F.coalesce("frame_bytes", F.lit(0)).cast("long").alias("frame_bytes"),
    )


# ---------------------------------------------------------------- q67

_SEQ_LEN = 256


@query(
    "q67_sequence_packing",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
                '{_TOKEN_RE}'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
ne AS (SELECT * FROM toks WHERE n_tokens > 0),
placed AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
  FROM ne
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {_SEQ_LEN} AS seq_first,
       (start_offset + n_tokens - 1) // {_SEQ_LEN} AS seq_last,
       (start_offset + n_tokens - 1) // {_SEQ_LEN}
         - start_offset // {_SEQ_LEN} + 1 AS n_seqs
FROM placed
""",
)
def q67_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: lay the corpus end to end
    in doc_id order, cut every {seq_len} tokens, report each doc's
    placement (start offset, first/last sequence, span). The global
    exclusive prefix sum runs two-phase (range partitions + offset
    broadcast, operators/packing.py) — the oracle's naive
    ORDER-BY-everything window is exactly the single-reducer plan
    the operator avoids."""
    from ..operators.packing import pack_sequences

    docs = _documents(spark, sf_dir)
    toked = docs.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    # doc_id is dense -> DIV bucketing is monotone and uniform: the
    # whole cumsum costs ONE hash exchange (see global_cumsum)
    return pack_sequences(
        toked, seq_len=_SEQ_LEN,
        bucket_of=F.expr("doc_id DIV 1024"),
    ).select(
        "doc_id", "n_tokens", "start_offset",
        "seq_first", "seq_last", "n_seqs",
    )


# ---------------------------------------------------------------- q68

_MIX_W = {"src0": 4, "src1": 2}
_MIX_DEN = 10_000


@query(
    "q68_data_mixture_sample",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
                '{_TOKEN_RE}'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
avail AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens,
         CAST(CASE WHEN source = 'src0' THEN 4
                   WHEN source = 'src1' THEN 2
                   ELSE 1 END AS BIGINT) AS w
  FROM toks GROUP BY 1
),
mm AS (SELECT min(avail_tokens * {_MIX_DEN} // w) AS m FROM avail),
rates AS (
  SELECT source, avail_tokens,
         least({_MIX_DEN}, m * w // avail_tokens) AS keep_den
  FROM avail, mm
),
kept AS (
  SELECT t.source,
         CAST(count(*) AS BIGINT) AS kept_docs,
         CAST(sum(t.n_tokens) AS BIGINT) AS kept_tokens
  FROM toks t JOIN rates r USING (source)
  WHERE ('0x' || substr(sha256(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % {_MIX_DEN} < r.keep_den
  GROUP BY 1
)
SELECT r.source, r.avail_tokens,
       CAST(r.keep_den AS BIGINT) AS keep_den,
       CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM rates r LEFT JOIN kept k USING (source)
""",
)
def q68_data_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture construction: keep the largest corpus whose
    per-source token shares match the target weights (src0:4, src1:2,
    rest 1) — the binding source stays whole, the others are
    deterministically hash-downsampled (operators/sampling.py
    mixture_sample; integer-exact, so the oracle reproduces every
    kept doc). Checked output is the per-source accounting."""
    from ..operators.sampling import mixture_rates, mixture_sample

    docs = _documents(spark, sf_dir)
    toked = docs.select(
        "doc_id",
        "source",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    rates = mixture_rates(
        toked, "source", _MIX_W, token_col="n_tokens", den=_MIX_DEN
    )
    kept = mixture_sample(
        toked, "source", _MIX_W, token_col="n_tokens",
        key_col="doc_id", den=_MIX_DEN, rates=rates,
    )
    per = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_tokens").cast("long").alias("kept_tokens"),
    )
    # rates (not the survivors) carry keep_den: a source whose every
    # doc hashes out still reports its true rate, like the oracle
    return rates.join(per, "source", "left").select(
        "source",
        F.col("avail_tokens").cast("long").alias("avail_tokens"),
        F.col("keep_den").cast("long").alias("keep_den"),
        F.coalesce("kept_docs", F.lit(0)).cast("long").alias("kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
    )


# ---------------------------------------------------------------- q71


@query(
    "q71_shuffled_sequence_packing",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
                '{_TOKEN_RE}'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
ne AS (SELECT * FROM toks WHERE n_tokens > 0),
ordd AS (
  SELECT doc_id, n_tokens,
         upper(lpad(format('{{:x}}',
           ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         ), 16, '0')) || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ord
  FROM ne
),
placed AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_offset
  FROM ordd
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {_SEQ_LEN} AS seq_first,
       (start_offset + n_tokens - 1) // {_SEQ_LEN} AS seq_last,
       (start_offset + n_tokens - 1) // {_SEQ_LEN}
         - start_offset // {_SEQ_LEN} + 1 AS n_seqs
FROM placed
""",
)
def q71_shuffled_sequence_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The canonical last step of a training-data pipeline:
    DETERMINISTIC corpus shuffle (order by a stable key hash —
    reproducible across runs, engines, and partitionings, unlike
    orderBy(rand)) composed with concat-then-chunk packing. The sort
    key is padded hex(hash) + padded doc_id, a lexicographic total
    order even under hash collisions. Same two-phase cumsum as q67 —
    the range partitioner just sees the hash order instead of
    doc_id order."""
    from ..operators.packing import pack_sequences
    from ..operators.sketch import portable_hash60

    docs = _documents(spark, sf_dir)
    toked = docs.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    ordered = toked.withColumn(
        "ord",
        F.concat(
            F.lpad(F.hex(portable_hash60(F.col("doc_id"))), 16, "0"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ),
    )
    # the sort key is uniform fixed-width hex -> a 2-char prefix is a
    # monotone 256-way bucket: one hash exchange for the whole cumsum
    return pack_sequences(
        ordered, seq_len=_SEQ_LEN, order_col="ord",
        bucket_of=F.substring("ord", 1, 2),
    ).select(
        "doc_id", "n_tokens", "start_offset",
        "seq_first", "seq_last", "n_seqs",
    )


# ---------------------------------------------------------------- q74

_CAP_PER_SOURCE = 15


@query(
    "q74_per_source_cap",
    oracle=rf"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT,
                    doc_id) AS rk
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM ranked WHERE rk <= {_CAP_PER_SOURCE}
GROUP BY 1
""",
)
def q74_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping: every source contributes at most
    {cap} documents, chosen by deterministic hash rank
    (operators/sampling.group_cap) — rerun/repartition/engine-stable,
    unlike rand() reservoirs. Checked output is the per-source
    accounting fingerprint (count, char sum, id range pins the exact
    survivor set)."""
    from ..operators.sampling import group_cap

    docs = _documents(spark, sf_dir).select("doc_id", "source", "n_chars")
    kept = group_cap(
        docs, group_col="source", key_col="doc_id",
        max_per_group=_CAP_PER_SOURCE,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("kept_docs"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# ---------------------------------------------------------------- q75


@query("q75_dedup_components_star", oracle=_COMPONENTS_ORACLE)
def q75_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q48's dedup clusters computed by the large-star/small-star
    algorithm (connected_components_star, SoCC'14) instead of plain
    propagation — same recursive-CTE oracle, so the driver pins that
    both algorithms reach the identical fixed point. Star is the
    100 TB path for high-diameter graphs; on dup-shaped (low-
    diameter) graphs either works."""
    from ..operators.components import connected_components_star

    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    pairs = D.jaccard_pairs(
        sh, threshold_pct=_JACCARD_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select("doc_a", "doc_b")
    return connected_components_star(
        pairs, src="doc_a", dst="doc_b"
    ).select(F.col("node").alias("doc_id"), "component")


# ---------------------------------------------------------------- q79

_CLS_D = 256
_CLS_INTERCEPT = 1500

_CLS_W_SQL = (
    "((('0x' || substr(sha256(tok), 1, 15))::BIGINT % "
    f"{_CLS_D}) * 2654435761) % 2001 - 1000"
)

_CLS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {_CLS_INTERCEPT} + CAST(coalesce(list_sum(
           list_transform(toks, tok -> {_CLS_W_SQL})), 0) AS BIGINT)
           AS score_milli
  FROM t
)
SELECT doc_id, n_tokens, score_milli,
       CAST(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END AS BIGINT)
         AS quality_pass
FROM scored
"""


@query("q79_hashed_linear_classifier", oracle=_CLS_ORACLE)
def q79_hashed_linear_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-classifier scoring (fastText-shaped): hashed
    bag-of-words features -> linear weights -> per-doc score +
    pass/fail label, entirely inside one codegen'd map pass (no
    explode, no shuffle — ``operators/text.py::hashed_linear_score``).
    Weights here derive deterministically from the bucket id so the
    whole model application is value-hash-checked; a trained model
    drops into the same operator as a weight list."""
    from ..operators.text import derived_weights, hashed_linear_score

    docs = _documents(spark, sf_dir)
    return hashed_linear_score(
        docs,
        "doc_id",
        "text",
        weights=derived_weights(_CLS_D),
        intercept=_CLS_INTERCEPT,
    )


# ---------------------------------------------------------------- q83

_BPE_TOP = 20

_BPE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
           x -> x <> '')) AS word
  FROM documents
),
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY 1
),
pairs AS (
  SELECT substr(word, CAST(t.i AS INT), 2) AS pair, freq
  FROM wf, unnest(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
),
pc AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
  FROM pairs GROUP BY 1
)
SELECT pair, n_occurrences, rank FROM (
  SELECT pair, n_occurrences,
         CAST(row_number() OVER (
           ORDER BY n_occurrences DESC, pair) AS BIGINT) AS rank
  FROM pc)
WHERE rank <= {_BPE_TOP}
"""


@query("q83_bpe_pair_merges", oracle=_BPE_ORACLE)
def q83_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training: corpus -> word
    frequency table (the ONE corpus-grain shuffle), then adjacent
    symbol-pair counts weighted by word frequency computed on the
    VOCAB (|distinct words| rows, not corpus rows) — the reason BPE
    training scales: after wordcount, every Spark stage is
    vocab-sized. Top candidates ranked with a deterministic
    (count desc, pair) tie-break; iterating the real training loop
    re-derives the vocab with the winning pair merged."""
    from ..operators.text import tokens

    docs = _documents(spark, sf_dir)
    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substr(word, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (
        pairs.withColumn(
            "rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank") <= _BPE_TOP)
    )


# ---------------------------------------------------------------- q84

_POSTINGS_K = 10

_POSTINGS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
           x -> x <> '')) AS term
  FROM documents
),
td AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM t GROUP BY 1, 2
),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM td GROUP BY 1
),
ranked AS (
  SELECT term, doc_id,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM td
),
post AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS postings_head
  FROM ranked WHERE rn <= {_POSTINGS_K} GROUP BY 1
)
SELECT term, df, total_tf, postings_head
FROM stats JOIN post USING (term)
"""


@query("q84_inverted_index_postings", oracle=_POSTINGS_ORACLE)
def q84_inverted_index_postings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval-index build: term -> (document frequency, total term
    frequency, head of the sorted postings list). The scale
    discipline is CAP-BEFORE-COLLECT: posting heads are rank-filtered
    with a window BEFORE any collect_list, so no executor ever
    materializes a hot term's full posting list in one aggregation
    buffer (a full index write would instead keep (term, doc_id, tf)
    rows clustered by term — the flat layout IS the index; the
    capped head here is the driver-contract-sized summary)."""
    from pyspark.sql import Window

    from ..operators.text import tokens

    docs = _documents(spark, sf_dir)
    td = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    td = td.localCheckpoint(eager=True)  # reused: stats + postings head
    stats = td.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    post = (
        td.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _POSTINGS_K)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return stats.join(post, "term").select(
        "term", "df", "total_tf", "postings_head"
    )


# ---------------------------------------------------------------- q87

_CURRICULUM_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         {_CLS_INTERCEPT} + CAST(coalesce(list_sum(
           list_transform(toks, tok -> {_CLS_W_SQL})), 0) AS BIGINT)
           AS score_milli
  FROM t
)
SELECT doc_id, score_milli,
       CAST(row_number() OVER (ORDER BY score_milli, doc_id)
         AS BIGINT) AS curriculum_rank
FROM scored
"""


@query("q87_curriculum_order", oracle=_CURRICULUM_ORACLE)
def q87_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: rank the corpus easiest-first by the
    q79 classifier score WITHOUT a single-partition window — the
    (score, doc_id) order folds into one unique long key and the
    two-phase ``global_cumsum`` (operators/packing.py) turns an
    exclusive count-prefix into the global rank. The pattern every
    ordered-training-data export needs: total order over 100 TB with
    only range + hash exchanges (plan-asserted)."""
    from ..operators.packing import global_cumsum
    from ..operators.text import derived_weights, hashed_linear_score

    docs = _documents(spark, sf_dir)
    scored = hashed_linear_score(
        docs, "doc_id", "text",
        weights=derived_weights(_CLS_D), intercept=_CLS_INTERCEPT,
    ).select("doc_id", "score_milli")
    # unique monotone order key: (score, doc_id) -> one long.
    # Correctness precondition: 0 <= doc_id < 10^7 (else two docs can
    # collide on _ord / ranks corrupt silently) and score_milli >=
    # -2^21 (else the offset goes negative). Guarded PER ROW in the
    # same stage — no extra pass, no collect: out-of-range input
    # fails the job instead of mis-ranking. At >10^7 docs, widen the
    # multiplier (or switch the key to (score, doc_id) as a struct
    # order, which global_cumsum also supports via a packed key).
    checked_id = F.when(
        F.col("doc_id").between(0, 10_000_000 - 1)
        & (F.col("score_milli") >= -(1 << 21)),
        F.col("doc_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q87 order-key out of range: doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(" score_milli="),
                F.col("score_milli").cast("string"),
            )
        )
    )
    key = (
        (F.col("score_milli") + F.lit(1 << 21)) * F.lit(10_000_000)
        + checked_id
    ).alias("_ord")
    ranked = global_cumsum(
        scored.select("doc_id", "score_milli", key, F.lit(1).alias("_one")),
        value_col="_one",
        order_col="_ord",
        out_col="_rank0",
    )
    return ranked.select(
        "doc_id",
        "score_milli",
        (F.col("_rank0") + 1).cast("long").alias("curriculum_rank"),
    )


# ---------------------------------------------------------------- q91

_SURVIVOR_ORACLE = f"""
WITH {_COPY_SQL},
scored AS (
  SELECT c.doc_id, sha256(c.text) AS grp,
         {_CLS_INTERCEPT} + CAST(coalesce(list_sum(list_transform(
           list_filter(regexp_split_to_array(lower(c.text),
                       '{_TOKEN_RE}'), x -> x <> ''),
           tok -> {_CLS_W_SQL})), 0) AS BIGINT) AS score_milli
  FROM corpus c
),
ranked AS (
  SELECT grp, doc_id, score_milli,
         row_number() OVER (PARTITION BY grp
           ORDER BY score_milli DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM scored
)
SELECT substr(grp, 1, 16) AS group_key,
       CAST(n AS BIGINT) AS n_members,
       doc_id AS keeper_doc_id,
       score_milli AS keeper_score,
       CAST(n - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1 AND n > 1
"""


@query("q91_dedup_survivorship", oracle=_SURVIVOR_ORACLE)
def q91_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivorship: within each exact-duplicate
    group (sha2 of the text), keep the HIGHEST-quality member by the
    q79 classifier score (tiebreak: lowest doc_id) instead of q20's
    arbitrary min-id — the curation policy real pipelines want
    ('among copies, keep the best-scored one'). Shuffle carries
    (hash, id, score); the duplicate text bytes never move. Identical
    copies tie on score, so the id tiebreak decides deterministically;
    near-dup groups (q76) plug into the same window."""
    from pyspark.sql import Window

    from ..operators.text import derived_weights, hashed_linear_score

    corpus = _copy_corpus(spark, sf_dir)
    scored = hashed_linear_score(
        corpus, "doc_id", "text",
        weights=derived_weights(_CLS_D), intercept=_CLS_INTERCEPT,
    ).select("doc_id", "score_milli")
    grouped = corpus.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("grp")
    ).join(scored, "doc_id")
    w = Window.partitionBy("grp").orderBy(
        F.col("score_milli").desc(), F.col("doc_id")
    )
    cw = Window.partitionBy("grp")
    ranked = grouped.select(
        "grp",
        "doc_id",
        "score_milli",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("n") > 1)).select(
        F.substring("grp", 1, 16).alias("group_key"),
        F.col("n").cast("long").alias("n_members"),
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("score_milli").alias("keeper_score"),
        (F.col("n") - 1).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------- q92

def _shingle_chain_sql(prefix: str, src: str) -> str:
    """toks -> shingles -> exploded chain over ``src``, CTE names
    prefixed (the bipartite oracle needs the chain twice)."""
    return rf"""
{prefix}toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     t -> t <> '') AS toks
  FROM {src}
),
{prefix}shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_NGRAM} THEN
           list_distinct(list_transform(range(1, len(toks) - {_NGRAM - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
         ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM {prefix}toks
),
{prefix}ex AS (
  SELECT doc_id, len(shingles) AS set_size, unnest(shingles) AS shingle
  FROM {prefix}shingled
)"""


_INC_DEDUP_ORACLE = f"""
WITH hist AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + 300000 AS doc_id, text FROM documents
  WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 400000,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))
  FROM documents WHERE doc_id % 40 = 7
  UNION ALL
  SELECT doc_id + 500000, reverse(text)
  FROM documents WHERE doc_id % 30 = 11
),
exact AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM batch b JOIN hist h ON sha256(b.text) = sha256(h.text)
  GROUP BY 1
),
rest AS (
  SELECT * FROM batch
  WHERE doc_id NOT IN (SELECT doc_id FROM exact)
),
{_shingle_chain_sql('b', 'rest')},
{_shingle_chain_sql('h', 'hist')},
hot AS (
  SELECT shingle FROM hex GROUP BY shingle
  HAVING count(*) > {_STOP_SHINGLE_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS b_id, b.doc_id AS h_id
  FROM bex a JOIN hex b ON a.shingle = b.shingle
  WHERE a.shingle NOT IN (SELECT shingle FROM hot)
),
allp AS (
  SELECT a.doc_id AS b_id, b.doc_id AS h_id,
         a.set_size AS size_a, b.set_size AS size_b,
         CAST(count(*) AS BIGINT) AS common
  FROM bex a JOIN hex b ON a.shingle = b.shingle
  GROUP BY 1, 2, 3, 4
),
near AS (
  SELECT p.b_id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM allp p JOIN cand c ON p.b_id = c.b_id AND p.h_id = c.h_id
  WHERE p.common * 100 >= {_JACCARD_PCT}
        * (p.size_a + p.size_b - p.common)
  GROUP BY 1
)
SELECT doc_id, 'exact_dup' AS status, n_matches FROM exact
UNION ALL
SELECT doc_id, 'near_dup', n_matches FROM near
UNION ALL
SELECT doc_id, 'new', CAST(0 AS BIGINT) FROM rest
WHERE doc_id NOT IN (SELECT doc_id FROM near)
"""


@query("q92_incremental_dedup", oracle=_INC_DEDUP_ORACLE)
def q92_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the production shape:
    a new drop is checked against the historical corpus WITHOUT ever
    re-pairing the corpus with itself, so per-drop cost scales with
    the batch, not the archive. Exact phase: sha2 equi-join (shuffle
    carries hashes). Near phase: BIPARTITE shingle join batch x
    history with the hot-shingle candidacy cap (history-side df >
    {_STOP_SHINGLE_DF} excluded — same skew posture as q21);
    verification stays exact over full shingle sets. Each batch doc
    reports exact_dup / near_dup / new."""
    from ..operators.dedup import shingle_docs

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    hist = docs
    batch = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    ).unionByName(
        docs.filter(F.col("doc_id") % 40 == 7).select(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.expr(
                "substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))"
            ).alias("text"),
        )
    ).unionByName(
        # genuinely novel content (reversed text tokenizes to unseen
        # words) — exercises the 'new' verdict
        docs.filter(F.col("doc_id") % 30 == 11).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.reverse(F.col("text")).alias("text"),
        )
    )
    bh = batch.withColumn("sha", F.sha2("text", 256))
    hh = hist.select(F.sha2("text", 256).alias("sha"))
    exact = (
        bh.join(hh, "sha")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .select("doc_id", F.lit("exact_dup").alias("status"), "n_matches")
    )
    exact = exact.localCheckpoint(eager=True)  # reused: output + anti-join
    rest = batch.join(
        exact.select("doc_id"), "doc_id", "left_anti"
    )
    bex = shingle_docs(rest).select(
        F.col("doc_id").alias("b_id"),
        F.col("set_size").alias("size_a"),
        F.explode("shingles").alias("shingle"),
    )
    hex_ = shingle_docs(hist).select(
        F.col("doc_id").alias("h_id"),
        F.col("set_size").alias("size_b"),
        F.explode("shingles").alias("shingle"),
    )
    hex_ = hex_.localCheckpoint(eager=True)  # reused: hot + two joins
    hot = (
        hex_.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _STOP_SHINGLE_DF)
        .select("shingle")
    )
    cand = (
        bex.join(hex_, "shingle")
        .join(F.broadcast(hot), "shingle", "left_anti")
        .select("b_id", "h_id")
        .distinct()
    )
    allp = (
        bex.join(hex_, "shingle")
        .groupBy("b_id", "h_id", "size_a", "size_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    near = (
        allp.join(cand, ["b_id", "h_id"], "left_semi")
        .filter(
            F.col("common") * 100
            >= F.lit(_JACCARD_PCT)
            * (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .groupBy("b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .select(
            F.col("b_id").alias("doc_id"),
            F.lit("near_dup").alias("status"),
            "n_matches",
        )
    )
    near = near.localCheckpoint(eager=True)  # reused: output + anti-join
    new = rest.join(near.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id",
        F.lit("new").alias("status"),
        F.lit(0).cast("long").alias("n_matches"),
    )
    return exact.unionByName(near).unionByName(new)


# ---------------------------------------------------------------- q96

_H60_SQL = "('0x' || substr(sha256(CAST({col} AS VARCHAR)), 1, 15))::BIGINT"

_LEAKAGE_ORACLE = f"""
WITH {_COPY_SQL},
g AS (
  SELECT doc_id, sha256(text) AS grp,
         CASE WHEN {_H60_SQL.format(col='doc_id')} % 100 < 90
              THEN 'train'
              WHEN {_H60_SQL.format(col='doc_id')} % 100 < 95
              THEN 'val' ELSE 'test' END AS split_by_id,
         CASE WHEN {_H60_SQL.format(col='sha256(text)')} % 100 < 90
              THEN 'train'
              WHEN {_H60_SQL.format(col='sha256(text)')} % 100 < 95
              THEN 'val' ELSE 'test' END AS split_by_content
  FROM corpus
),
dup AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT split_by_id) AS BIGINT) AS k_id,
         CAST(count(DISTINCT split_by_content) AS BIGINT) AS k_content
  FROM g GROUP BY 1 HAVING count(*) > 1
)
SELECT 'by_doc_id' AS split_key,
       CAST(count(*) AS BIGINT) AS n_dup_groups,
       CAST(sum(CASE WHEN k_id > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddling
FROM dup
UNION ALL
SELECT 'by_content_hash',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN k_content > 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM dup
"""


@query("q96_split_leakage_audit", oracle=_LEAKAGE_ORACLE)
def q96_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit for train/test splits: count duplicate
    groups whose members land in DIFFERENT splits. Keyed on doc_id,
    verbatim copies straddle the boundary (the classic inflated-eval
    bug); keyed on the content hash, straddling is structurally zero
    — the same exact_dedup discipline (q20) applied to the split key.
    The query reports both, so the artifact shows the leak AND the
    fix."""
    from ..operators.sampling import hash_split

    corpus = _copy_corpus(spark, sf_dir).withColumn(
        "grp", F.sha2("text", 256)
    )
    split_id = hash_split(
        corpus, "doc_id", {"train": 90, "val": 5, "test": 5},
        split_col="split_by_id",
    )
    both = hash_split(
        split_id, "grp", {"train": 90, "val": 5, "test": 5},
        split_col="split_by_content",
    )
    dup = (
        both.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("split_by_id").cast("long").alias("k_id"),
            F.countDistinct("split_by_content")
            .cast("long")
            .alias("k_content"),
        )
        .filter(F.col("n_members") > 1)
    )
    dup = dup.localCheckpoint(eager=True)  # reused for both summary rows
    row = lambda label, kcol: dup.agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.sum(F.when(F.col(kcol) > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_straddling"),
    ).select(F.lit(label).alias("split_key"), "n_dup_groups", "n_straddling")
    return row("by_doc_id", "k_id").unionByName(
        row("by_content_hash", "k_content")
    )


# ---------------------------------------------------------------- q97

_CHUNK_C = 32   # tokens per chunk
_CHUNK_S = 24   # stride (8-token overlap)

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM t),
ch AS (
  SELECT doc_id, toks, n, CAST(s.start AS BIGINT) AS start
  FROM sized, unnest(range(1, n + 1, {_CHUNK_S})) AS s(start)
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_S} AS BIGINT) AS chunk_idx,
       start AS start_tok,
       CAST(least({_CHUNK_C}, n - start + 1) AS BIGINT)
         AS n_chunk_tokens,
       toks[CAST(start AS INT)] AS first_tok,
       toks[CAST(start + least({_CHUNK_C}, n - start + 1) - 1 AS INT)]
         AS last_tok
FROM ch
"""


@query("q97_doc_chunking", oracle=_CHUNK_ORACLE)
def q97_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-ingest chunking: every document split into {_CHUNK_C}-token
    windows at stride {_CHUNK_S} (8-token overlap), emitted as
    (doc_id, chunk_idx, bounds, first/last token). Pure narrow
    generate — tokenize once, explode the stride sequence, index into
    the materialized token array; no shuffle at all, so chunking
    100 TB is a map pass that parallelizes with the input splits.
    Complements q67's packing (concat-then-chunk across docs) with
    the per-doc overlapping variant retrieval indexes need."""
    from ..operators.text import tokens

    docs = _documents(spark, sf_dir)
    t = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks").cast("long"))
    ch = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(
                F.lit(1).cast("long"), F.col("n"), F.lit(_CHUNK_S)
            )
        ).alias("start"),
    )
    chunk_n = F.least(
        F.lit(_CHUNK_C), F.col("n") - F.col("start") + 1
    ).cast("long")
    return ch.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_S).cast("long").alias("chunk_idx"),
        F.col("start").alias("start_tok"),
        chunk_n.alias("n_chunk_tokens"),
        F.element_at("toks", F.col("start").cast("int")).alias(
            "first_tok"
        ),
        F.element_at(
            "toks", (F.col("start") + chunk_n - 1).cast("int")
        ).alias("last_tok"),
    )


# ---------------------------------------------------------------- q102

_WSAMPLE_K = 50

_WSAMPLE_ORACLE = f"""
WITH pri AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           // CAST(n_chars AS BIGINT) AS priority
  FROM documents
  WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, weight, priority,
         CAST(row_number() OVER (ORDER BY priority, doc_id)
           AS BIGINT) AS rank
  FROM pri
)
SELECT doc_id, weight, priority, rank
FROM ranked WHERE rank <= {_WSAMPLE_K}
"""


@query("q102_weighted_sample", oracle=_WSAMPLE_ORACLE)
def q102_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via sequential Poisson
    sampling (Ohlsson): priority = u / weight with u a uniform hash,
    keep the k smallest priorities — inclusion probability ~
    proportional to weight, yet fully deterministic (hash-derived u,
    integer division, id tie-break), so the sample survives retries,
    repartitioning and engine swaps, unlike any rand()-based
    reservoir. Priorities are a narrow map; selection is
    ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject, a
    per-partition top-k followed by a k-way merge, so no row outside
    the k survivors ever crosses a single-partition boundary. The
    rank window then runs over the k survivors only (k = 50), which
    is the bounded global funnel the plan audit allows."""
    from pyspark.sql import Window

    docs = _documents(spark, sf_dir).filter(
        F.col("n_chars") > 0
    )
    pri = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.expr(
            "CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256),"
            " 1, 15), 16, 10) AS BIGINT) DIV CAST(n_chars AS BIGINT)"
        ).alias("priority"),
    )
    topk = pri.orderBy("priority", "doc_id").limit(_WSAMPLE_K)
    w = Window.orderBy("priority", "doc_id")
    return topk.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


# ---------------------------------------------------------------- q110

# fractional repeat factors: 2.5 epochs of src0, 1.5 of src1, a
# deterministic 50% downsample of src2, everything else 1 epoch
_EPOCH_W = {"src0": (5, 2), "src1": (3, 2), "src2": (1, 2)}

_EPOCH_VALUES = ", ".join(
    f"('{s}', {n}, {d})" for s, (n, d) in _EPOCH_W.items()
)

_EPOCH_ORACLE = f"""
WITH cfg(source, num, den) AS (VALUES {_EPOCH_VALUES}),
n AS (
  SELECT d.doc_id, d.source, d.n_chars,
         coalesce(c.num, 1) // coalesce(c.den, 1)
         + CASE WHEN coalesce(c.num, 1) % coalesce(c.den, 1) > 0
                 AND ('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)),
                      1, 15))::BIGINT % coalesce(c.den, 1)
                     < coalesce(c.num, 1) % coalesce(c.den, 1)
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d LEFT JOIN cfg c USING (source)
),
cop AS (
  SELECT source, doc_id, n_chars,
         unnest(range(0, n_copies)) AS epoch
  FROM n WHERE n_copies > 0
)
SELECT source, CAST(epoch AS BIGINT) AS epoch,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM cop GROUP BY 1, 2
"""


@query("q110_epoch_upsample", oracle=_EPOCH_ORACLE)
def q110_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch materialization — the UPSAMPLING half of
    dataset mixing (q68 is the downsampling half): each doc yields
    floor(num/den) copies plus one hash-gated extra, so "2.5 epochs
    of src0" is realized exactly and deterministically
    (operators/sampling.epoch_upsample — portable 60-bit hash, no
    rand()). Narrow map + explode, no shuffle until the checked
    accounting aggregate; at 100 TB the explode feeds the writer
    directly. Checked per (source, epoch): doc count + id/char sums
    pin the exact extra-copy set, not just the rates."""
    from ..operators.sampling import epoch_upsample

    docs = _documents(spark, sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    up = epoch_upsample(docs, "source", _EPOCH_W, key_col="doc_id")
    return up.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------- q111

_TOKEN_BUDGET = 15_000  # ~half the fixture corpus's tokens

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         {_CLS_INTERCEPT} + CAST(coalesce(list_sum(
           list_transform(toks, tok -> {_CLS_W_SQL})), 0) AS BIGINT)
           AS score_milli
  FROM t
),
placed AS (
  SELECT doc_id, score_milli, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY score_milli DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM scored
)
SELECT doc_id, score_milli, n_tokens, cum_before
FROM placed WHERE cum_before + n_tokens <= {_TOKEN_BUDGET}
"""


@query("q111_token_budget_head", oracle=_BUDGET_ORACLE)
def q111_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: spend a fixed token budget on
    the highest-quality documents — order by (classifier score DESC,
    doc_id), lay docs end to end, keep every doc that fits entirely
    under the budget. The greedy best-first prefix every "train on
    the best N tokens" pipeline needs. Scale shape: the global order
    + exclusive prefix sum run through the two-phase
    ``global_cumsum`` (range + hash exchanges, never a
    single-partition window — same machinery as q87), and the budget
    cut is a narrow filter. Output pins each kept doc's exact offset,
    so the checked result proves the ORDER, not just the member
    set."""
    from ..operators.packing import global_cumsum
    from ..operators.text import derived_weights, hashed_linear_score

    docs = _documents(spark, sf_dir)
    scored = hashed_linear_score(
        docs, "doc_id", "text",
        weights=derived_weights(_CLS_D), intercept=_CLS_INTERCEPT,
    ).select("doc_id", "n_tokens", "score_milli")
    # unique monotone key for DESC score: larger score -> smaller
    # key. Range guards per row, as in q87 (out-of-range input fails
    # the job instead of silently mis-ranking).
    checked_id = F.when(
        F.col("doc_id").between(0, 10_000_000 - 1)
        & F.col("score_milli").between(-(1 << 21) + 1, 1 << 21),
        F.col("doc_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q111 order-key out of range: doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(" score_milli="),
                F.col("score_milli").cast("string"),
            )
        )
    )
    key = (
        (F.lit(1 << 21) - F.col("score_milli")) * F.lit(10_000_000)
        + checked_id
    ).alias("_ord")
    placed = global_cumsum(
        scored.select("doc_id", "score_milli", "n_tokens", key),
        value_col="n_tokens",
        order_col="_ord",
        out_col="cum_before",
    )
    return placed.filter(
        F.col("cum_before") + F.col("n_tokens") <= F.lit(_TOKEN_BUDGET)
    ).select("doc_id", "score_milli", "n_tokens", "cum_before")


# ---------------------------------------------------------------- q112

# planted repetition loops: every 30th doc re-appears with its first
# 5 whitespace tokens repeated 12x — a degenerate "stuck generator"
# document that trips both filter rules (the natural corpus never
# does: max top-bigram fraction is ~17% at sf0.01, thresholds 20%/30%)
_LOOP_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET},
         rtrim(repeat(array_to_string(
           list_slice(string_split(text, ' '), 1, 5), ' ') || ' ', 12))
  FROM documents WHERE doc_id % 30 = 0
)
"""

_REP_ORACLE = f"""
WITH {_LOOP_SQL},
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM corpus
),
g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM t WHERE len(toks) >= 2
),
a2 AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top,
         CAST(sum(c) AS BIGINT) AS n
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
  GROUP BY 1
),
g3 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                             || toks[i+2])) AS g
  FROM t WHERE len(toks) >= 3
),
a3 AS (
  SELECT doc_id,
         CAST(COALESCE(sum(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
           AS dup,
         CAST(sum(c) AS BIGINT) AS n
  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
  GROUP BY 1
)
SELECT c.doc_id,
       COALESCE(a2.n, 0) AS n_bigrams,
       COALESCE(a2.top, 0) AS top_bigram_n,
       COALESCE(a3.n, 0) AS n_trigrams,
       COALESCE(a3.dup, 0) AS dup_trigram_n,
       (COALESCE(a2.top, 0) * 5 <= COALESCE(a2.n, 0)
        AND COALESCE(a3.dup, 0) * 10 <= COALESCE(a3.n, 0) * 3) AS keep
FROM corpus c
LEFT JOIN a2 ON c.doc_id = a2.doc_id
LEFT JOIN a3 ON c.doc_id = a3.doc_id
"""


@query("q112_repetition_filters", oracle=_REP_ORACLE)
def q112_repetition_filters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Intra-document repetition filters (Gopher/MassiveText, Rae et
    al. 2021 table A1): per doc, the occurrence count of the most
    frequent word-2gram and the total occurrences in duplicated
    word-3grams; ``keep`` = top-2gram share <= 20% AND duplicated-
    3gram share <= 30% (exact integer comparisons, never float).
    Catches "stuck generator" / boilerplate-loop documents that
    doc-level dedup (q20-q23) can't see because each looping doc is
    globally unique.

    Scale shape: tokenize -> n-gram arrays -> per-row sorted-run
    ``aggregate`` (operators/text.repetition_counts) — every
    statistic is per-document, so the whole filter is a narrow map
    with ZERO shuffle and no explode; at 100 TB it pipelines with
    the scan. The oracle computes the same counts by explode +
    GROUP BY, pinning the run-counting kernel against a second
    engine's hash aggregate. Planted loop-docs live at +_SPAN_OFFSET
    (guarded): the output is doc_id-keyed and the oracle LEFT JOINs
    on doc_id, so a planted/natural collision would fan out rows."""
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q112").alias("doc_id"), "text"
    )
    planted = docs.filter(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + _SPAN_OFFSET).alias("doc_id"),
        F.expr(
            "rtrim(repeat(concat(array_join("
            "slice(split(text, ' '), 1, 5), ' '), ' '), 12))"
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    toks = corpus.select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    grams = toks.select(
        "doc_id",
        X.ngram_occurrences(F.col("toks"), 2).alias("g2"),
        X.ngram_occurrences(F.col("toks"), 3).alias("g3"),
    )
    counted = grams.select(
        "doc_id",
        F.size("g2").cast("long").alias("n_bigrams"),
        X.repetition_counts(F.col("g2")).alias("c2"),
        F.size("g3").cast("long").alias("n_trigrams"),
        X.repetition_counts(F.col("g3")).alias("c3"),
    )
    return counted.select(
        "doc_id",
        "n_bigrams",
        F.col("c2.top").alias("top_bigram_n"),
        "n_trigrams",
        F.col("c3.dup").alias("dup_trigram_n"),
        (
            (F.col("c2.top") * 5 <= F.col("n_bigrams"))
            & (F.col("c3.dup") * 10 <= F.col("n_trigrams") * 3)
        ).alias("keep"),
    )


# ---------------------------------------------------------------- q113

_REDACT_ORACLE = f"""
WITH {_PII_SQL},
red AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT)
           AS n_redacted,
         regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g')
           AS redacted_text
  FROM corpus
)
SELECT doc_id, n_redacted, redacted_text,
       CAST(len(regexp_extract_all(redacted_text, '{_EMAIL_RE}'))
            AS BIGINT) AS residual_pii
FROM red WHERE n_redacted > 0
"""


@query("q113_pii_redaction", oracle=_REDACT_ORACLE)
def q113_pii_redaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PII redaction transform — the output half of the q53 audit:
    every email-pattern match is replaced with a ``<EMAIL>`` token
    and the transformed text is emitted alongside a residual rescan
    that must count zero (the output self-checks). Shares q53's
    planted corpus and RE2/Java-portable regex. Narrow per-row
    ``regexp_replace`` map — JVM codegen, zero shuffle; at 100 TB it
    pipelines with the scan and feeds the writer directly. The
    checked rows are the redacted docs themselves (ids, counts, and
    full masked text), so the oracle pins the exact replacement
    semantics, not just the match counts."""
    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or user"),
                F.col("doc_id").cast("string"),
                F.lit("@test.org today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    red = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE))
        .cast("long")
        .alias("n_redacted"),
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>").alias(
            "redacted_text"
        ),
    )
    return red.filter(F.col("n_redacted") > 0).select(
        "doc_id",
        "n_redacted",
        "redacted_text",
        F.regexp_count(F.col("redacted_text"), F.lit(_EMAIL_RE))
        .cast("long")
        .alias("residual_pii"),
    )


# ---------------------------------------------------------------- q114

_SHARD_BYTES = 10_000  # ~16 shards over the fixture corpus

_SHARD_ORACLE = f"""
WITH placed AS (
  SELECT doc_id, n_chars,
         CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM documents
)
SELECT CAST(cum_before // {_SHARD_BYTES} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS shard_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM placed GROUP BY 1
"""


@query("q114_shard_manifest", oracle=_SHARD_ORACLE)
def q114_shard_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Size-targeted export sharding (WebDataset/MDS-style): lay the
    corpus end to end in doc_id order and assign each doc to the
    shard covering its start offset (``cum_before DIV shard_bytes``
    — exact integer division, never float floor), then emit the
    shard manifest: doc count, byte sum, first/last doc per shard.
    Every dataloader-facing export needs this step; the manifest IS
    the index readers seek by.

    Scale shape: the exclusive byte prefix-sum reuses the two-phase
    ``global_cumsum`` with a dense-int bucket (``doc_id DIV 64`` —
    monotone in the order key), so the whole pass is ONE hash
    exchange plus the manifest aggregate; no SinglePartition window
    (same machinery as q87/q111, applied to the writer side). The
    checked manifest pins exact shard boundaries, so any drift in
    the prefix-sum machinery fails the gate."""
    from ..operators.packing import global_cumsum

    docs = _documents(spark, sf_dir).select("doc_id", "n_chars")
    placed = global_cumsum(
        docs,
        value_col="n_chars",
        order_col="doc_id",
        out_col="cum_before",
        bucket_of=F.expr("doc_id DIV 64"),
    )
    return (
        placed.select(
            F.expr(f"cum_before DIV {_SHARD_BYTES}").alias("shard_id"),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------- q115

_SPAN_K = 8

# chimera corpus: every 40th long-enough doc re-appears as two
# 12-token windows copied from itself (tokens 1-12 and 41-52) glued
# with 9 globally-unique filler tokens — a doc that is globally
# unique as a WHOLE (doc-level dedup q20-q23 keeps it) yet is 73%
# copied material, exactly what ExactSubstr span dedup exists to
# catch. Each chimera yields two maximal spans, exercising the
# interval-merge path the natural corpus (full-doc copies) doesn't.
# Planted ids live at +_SPAN_OFFSET (defined with the corpora at the
# top of this module), guarded by _span_corpus's checked_id.

_SPAN_SQL = f"""
t0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
t AS (
  SELECT doc_id, toks FROM t0
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET},
         list_concat(list_concat(
           list_slice(toks, 1, 12),
           list_transform(range(1, 10),
             i -> 'zq' || CAST(doc_id AS VARCHAR) || 'x'
                  || CAST(i AS VARCHAR))),
           list_slice(toks, 41, 52))
  FROM t0 WHERE doc_id % 40 = 0 AND len(toks) >= 52
)
"""

_SPAN_ORACLE = f"""
WITH {_SPAN_SQL},
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS p0, max(pos) AS p1,
         count(*) AS npos
  FROM isl2 GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(npos) AS BIGINT) AS n_dup_grams,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(p1 - p0 + {_SPAN_K}) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(d.n_spans, 0) AS n_spans,
       COALESCE(d.dup_tokens, 0) AS dup_tokens,
       COALESCE(d.dup_tokens, 0) * 2 <= CAST(len(t.toks) AS BIGINT)
         AS keep
FROM t LEFT JOIN per_doc d USING (doc_id)
"""



def _span_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q115/q120 chimera corpus at token grain, checkpointed
    (feeds the span kernel plus per-query projections). Guarded:
    natural doc_ids must stay below the planted _SPAN_OFFSET space
    or two documents would silently merge in every doc_id-keyed
    stage — the sf10 run proved the guard fires."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    t0 = docs.select(
        _guarded_doc_id("q115").alias("doc_id"),
        X.tokens(F.col("text")).alias("toks"),
    )
    filler = F.transform(
        F.sequence(F.lit(1), F.lit(9)),
        lambda i: F.concat(
            F.lit("zq"),
            F.col("doc_id").cast("string"),
            F.lit("x"),
            i.cast("string"),
        ),
    )
    # two-step select: Spark's LATERAL column-alias resolution would
    # otherwise bind filler's doc_id reference to the just-aliased
    # (doc_id + offset) in the same select list — the oracle's
    # unaliased SQL binds the input value, and q120's cleaned-text
    # output caught the divergence (q115's counts were insensitive)
    planted = t0.filter(
        (F.col("doc_id") % 40 == 0) & (F.size("toks") >= 52)
    ).select(
        "doc_id",
        F.concat(
            F.slice(F.col("toks"), 1, 12),
            filler,
            F.slice(F.col("toks"), 41, 12),
        ).alias("toks"),
    ).select(
        (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
        "toks",
    )
    return t0.unionByName(planted).localCheckpoint(eager=True)


@query("q115_substring_span_dedup", oracle=_SPAN_ORACLE)
def q115_substring_span_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicated-substring span dedup (ExactSubstr, Lee et al. 2021,
    arXiv:2107.06499): a token position is duplicated when its
    8-token gram occurs >= 2 times corpus-wide; overlapping grams
    merge into maximal spans; ``keep`` = duplicated coverage <= 50%
    of the doc (exact integer comparison). Catches documents that
    are globally unique as a whole but mostly copied material — the
    gap doc-level dedup (q20-q23) and intra-doc repetition (q112)
    both leave open.

    Scale shape (operators/dedup.duplicated_spans): the counting
    shuffle carries xxhash64 only, candidates re-counted by EXACT
    gram string (q21's prefilter-then-verify discipline, so the
    checked output never trusts a hash), span merge is a
    doc-partitioned window — no single-partition stage. The oracle
    recomputes spans via gaps-and-islands SQL, pinning the interval
    merge against a second engine."""
    corpus = _span_corpus(spark, sf_dir)
    stats = D.duplicated_spans(corpus, k=_SPAN_K)
    return (
        corpus.select(
            "doc_id", F.size("toks").cast("long").alias("n_tokens")
        )
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)) * 2
                <= F.col("n_tokens")
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------- q116

_CMN_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
occ AS (SELECT doc_id, unnest(toks) AS tok FROM t),
tf AS (SELECT doc_id, tok, count(*) AS c FROM occ GROUP BY 1, 2),
vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
d AS (
  SELECT tf.doc_id, CAST(sum(tf.c * v.ct) AS BIGINT) AS score_sum
  FROM tf JOIN vocab v USING (tok) GROUP BY 1
),
s AS (
  SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         d.score_sum,
         CAST(d.score_sum * 1000 // len(t.toks) AS BIGINT)
           AS commonness
  FROM t JOIN d USING (doc_id)
),
r AS (
  SELECT *, row_number() OVER (ORDER BY commonness, doc_id) - 1
           AS rnk,
         count(*) OVER () AS n
  FROM s
)
SELECT doc_id, n_tokens, score_sum, commonness,
       CAST((rnk * 3) // n AS BIGINT) AS bucket
FROM r
"""


@query("q116_commonness_buckets", oracle=_CMN_ORACLE)
def q116_commonness_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM quality bucketing (CCNet, Wenzek et al. 2019,
    arXiv:1911.00359 §3: score every doc under a corpus LM, split
    into head/middle/tail terciles). Perplexity under a unigram MLE
    model orders docs identically to mean log-frequency of their
    tokens; this implementation ranks by the integer surrogate
    ``commonness = (sum of corpus counts of the doc's token
    occurrences) * 1000 div n_tokens`` — monotone in mean token
    frequency, EXACT integer arithmetic end to end (a float
    log-domain score would make tercile membership depend on
    last-ulp libm differences across engines). bucket 0 = tail
    (rarest tokens), 2 = head.

    Scale shape: per-(doc, token) counts first (map-side combine
    collapses hot tokens before any join), vocab totals from the
    same tf table, the tf-to-vocab join is the classic TF-DF shape
    (q46) where AQE handles hot-token skew, and the global tercile
    rank runs through the two-phase ``global_cumsum`` — never a
    single-partition window. Range-guarded packed order key as in
    q87/q111; overflow raises instead of mis-ranking."""
    from ..operators.packing import global_cumsum

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    occ = toks.select(
        "doc_id", F.explode("toks").alias("tok")
    )
    tf = occ.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = tf.groupBy("tok").agg(
        F.sum("c").cast("long").alias("ct")
    )
    d = (
        tf.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("ct")).cast("long").alias(
            "score_sum"
        ))
    )
    s = (
        toks.select(
            "doc_id", F.size("toks").cast("long").alias("n_tokens")
        )
        .join(d, "doc_id")
        .withColumn(
            "commonness",
            F.expr("(score_sum * 1000) div n_tokens").cast("long"),
        )
    )
    # packed unique order key (commonness, doc_id), range-guarded:
    # commonness * 10^7 + doc_id stays under 2^63 only while
    # commonness < ~9.2e11 and doc_id < 10^7 — raise loudly beyond
    checked_id = F.when(
        F.col("doc_id").between(0, 10_000_000 - 1)
        & F.col("commonness").between(0, 922_000_000_000 - 1)
        & F.col("score_sum").between(0, (1 << 53)),
        F.col("doc_id"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q116 order-key out of range: doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(" commonness="),
                F.col("commonness").cast("string"),
            )
        )
    )
    key = (
        F.col("commonness") * F.lit(10_000_000) + checked_id
    ).alias("_ord")
    ranked = global_cumsum(
        s.select(
            "doc_id", "n_tokens", "score_sum", "commonness", key,
            F.lit(1).alias("_one"),
        ),
        value_col="_one",
        order_col="_ord",
        out_col="_rank0",
    )
    # tercile denominator = RANKED docs, i.e. docs with >= 1 token
    # (the tf inner join drops empty docs in both engines — the
    # oracle's count(*) OVER () counts the same set; docs.count()
    # would diverge the buckets the moment one doc tokenizes empty)
    n_docs = toks.filter(F.size("toks") > 0).count()
    return ranked.select(
        "doc_id",
        "n_tokens",
        "score_sum",
        "commonness",
        F.expr(f"(_rank0 * 3) div {n_docs}").cast("long").alias(
            "bucket"
        ),
    )


# ---------------------------------------------------------------- q117

_DSIR_B = 256          # hashed-unigram feature buckets
_DSIR_SCALE = 1_000_000
_DSIR_K = 150
_DSIR_TARGET_LANG = "en"

_DSIR_BUCKET_SQL = (
    f"('0x' || substr(sha256(tok), 1, 15))::BIGINT % {_DSIR_B}"
)

_DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
occ AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b
  FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM t)
),
cb AS (
  SELECT b, CAST(count(*) AS BIGINT) AS r,
         CAST(count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}')
           AS BIGINT) AS tg
  FROM occ GROUP BY 1
),
rt AS (
  SELECT b, (tg + 1) * {_DSIR_SCALE} // (r + 1) AS ratio FROM cb
),
sc AS (
  SELECT occ.doc_id, CAST(sum(rt.ratio) AS BIGINT) AS score_sum
  FROM occ JOIN rt USING (b) GROUP BY 1
),
imp AS (
  SELECT t.doc_id, t.lang, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         sc.score_sum,
         greatest(sc.score_sum // len(t.toks), 1) AS importance
  FROM t JOIN sc USING (doc_id)
  WHERE len(t.toks) > 0
),
pri AS (
  SELECT *,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           // importance AS priority
  FROM imp
)
SELECT doc_id, lang, n_tokens, score_sum, importance, priority,
       CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT)
         AS rank
FROM pri
QUALIFY rank <= {_DSIR_K}
"""


@query("q117_dsir_importance_resample", oracle=_DSIR_ORACLE)
def q117_dsir_importance_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023, arXiv:2302.03169): score every raw doc by how much it
    looks like a target distribution under hashed bag-of-ngram
    models, then sample with probability ~ importance weight. This
    implementation is the exact-integer surrogate: per-bucket ratio
    = ``(target_count+1) * 1e6 div (raw_count+1)`` (add-1 smoothed;
    target = lang='{_DSIR_TARGET_LANG}' docs, a subset of raw so the
    ratio is bounded by 1e6), per-doc importance = mean bucket ratio
    over the doc's tokens (a linear rather than log-linear
    aggregation — monotone in the same per-token evidence, no libm),
    and selection = sequential Poisson (q102's estimator: priority =
    hash60(id) div weight, keep the k smallest) so inclusion
    probability ~ importance yet the sample is deterministic under
    retries, repartitioning and engine swaps.

    Scale shape: the model-build pass shuffles only 256-key partial
    counts (map-side combine collapses each partition to <= B rows);
    the 256-long ratio table is a bounded driver pull compiled into
    ``hashed_linear_score``'s literal array, so SCORING 100 TB is
    one narrow codegen map (no join to re-attach lang — the operator
    passes it through); selection is orderBy(k).limit =
    TakeOrderedAndProject, a distributed per-partition top-k merge,
    never a full-corpus single-partition sort. The final rank window
    runs over k=150 rows only."""
    from ..operators.sketch import portable_hash60
    from ..operators.text import hashed_linear_score

    docs = _documents(spark, sf_dir).select("doc_id", "lang", "text")
    # same hash family everywhere: this bucket MUST stay in lockstep
    # with hashed_linear_score's internal bucket (a drift would
    # silently mis-assign every token's ratio) — both are
    # portable_hash60 % d
    bucket = (portable_hash60(F.col("tok")) % F.lit(_DSIR_B)).alias(
        "b"
    )
    occ = docs.select(
        "lang", F.explode(X.tokens(F.col("text"))).alias("tok")
    ).select(
        bucket,
        F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        .otherwise(0)
        .alias("is_t"),
    )
    cb = (
        occ.groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r"),
            F.sum("is_t").cast("long").alias("tg"),
        )
        .collect()  # bounded: <= _DSIR_B rows, the model artifact
    )
    ratios = [_DSIR_SCALE] * _DSIR_B  # unseen buckets: (0+1)/(0+1)
    for row in cb:
        ratios[int(row["b"])] = (
            (row["tg"] + 1) * _DSIR_SCALE // (row["r"] + 1)
        )
    scored = hashed_linear_score(
        docs, "doc_id", "text", weights=ratios, intercept=0,
        keep=("lang",),
    )
    imp = (
        scored.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.col("score_milli").alias("score_sum"),
            F.greatest(
                F.expr("score_milli div n_tokens"), F.lit(1)
            )
            .cast("long")
            .alias("importance"),
        )
    )
    pri = (
        imp.withColumn("_h60", portable_hash60(F.col("doc_id")))
        .withColumn("priority", F.expr("_h60 DIV importance"))
        .drop("_h60")
    )
    topk = pri.orderBy("priority", "doc_id").limit(_DSIR_K)
    w = Window.orderBy("priority", "doc_id")
    return topk.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


# ---------------------------------------------------------------- q118

# mirror corpus: every 25th doc re-appears verbatim under a synthetic
# 'mirror' source (the cross-source mass), every 40th re-appears
# under its OWN source (the within-source diagonal) — so the matrix
# has both shapes the diagnostic exists to separate
_XSRC_SQL = f"""
corpus AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, text
  FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET}, 'mirror', CAST(n_chars AS BIGINT), text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + {2 * _SPAN_OFFSET}, source, CAST(n_chars AS BIGINT), text
  FROM documents WHERE doc_id % 40 = 0
)
"""

_XSRC_ORACLE = f"""
WITH {_XSRC_SQL},
g AS (
  SELECT doc_id, source, n_chars,
         first_value(source) OVER w AS src_owner,
         row_number() OVER w AS rn
  FROM (SELECT *, sha256(text) AS h FROM corpus)
  WINDOW w AS (PARTITION BY h ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT src_owner AS src_from, source AS src_to,
       CAST(count(*) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_chars) AS BIGINT) AS dup_chars
FROM g WHERE rn > 1
GROUP BY 1, 2
"""


@query("q118_cross_source_dup_matrix", oracle=_XSRC_ORACLE)
def q118_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication matrix: for every exact-duplicate
    group (sha2 of text), the earliest doc_id's source is the owner
    and every later copy contributes (owner_source -> copy_source)
    duplicated document count + character mass. The standard corpus
    diagnostic for deciding which source to drop copies FROM when
    sources mirror each other; the within-source diagonal separates
    internal duplication from mirroring — the aggregate view of what
    q20 drops and q91 survives doc-by-doc. The planted corpus
    exercises both shapes: verbatim copies under a synthetic
    'mirror' source (every 25th doc) and within-source copies
    (every 40th).

    Scale shape: ONE shuffle on the content hash (the q20 discipline
    — the exchange carries (hash, id, source, n_chars), never text
    beyond the hash input scan); owner attribution is
    first_value/row_number on that same window partitioning; the
    matrix aggregate is |sources|^2 rows. Dup groups are
    dup-density-bounded, so the second aggregate's input is small.
    Owner attribution orders by doc_id, so planted ids MUST be
    disjoint from natural ids (a collision mis-attributes the owner
    and makes the exact-text tie's row_number nondeterministic):
    mirror copies live at +_SPAN_OFFSET, within-source copies at
    +2*_SPAN_OFFSET, natural ids guarded below _SPAN_OFFSET."""
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q118").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "text",
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
            F.lit("mirror").alias("source"),
            "n_chars",
            "text",
        )
    ).unionByName(
        docs.filter(F.col("doc_id") % 40 == 0).select(
            (F.col("doc_id") + F.lit(2 * _SPAN_OFFSET)).alias("doc_id"),
            "source",
            "n_chars",
            "text",
        )
    )
    hashed = corpus.select(
        "doc_id", "source", "n_chars", F.sha2(F.col("text"), 256).alias("h")
    )
    w = (
        Window.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = hashed.select(
        "source",
        "n_chars",
        F.first("source").over(w).alias("src_from"),
        F.row_number().over(
            Window.partitionBy("h").orderBy("doc_id")
        ).alias("rn"),
    )
    return (
        g.filter(F.col("rn") > 1)
        .groupBy("src_from", F.col("source").alias("src_to"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_docs"),
            F.sum("n_chars").cast("long").alias("dup_chars"),
        )
    )


# ---------------------------------------------------------------- q119

_FUZZY_N = 5           # word n-gram size (q62's exact-overlap gram)
_FUZZY_PPM = 300_000   # Jaccard >= 30% -> contaminated
# corpus-gram df cap for CANDIDACY (verification recounts exactly):
# 2 binds at fixture scale (max natural 5-gram df there is 4), so
# the driver gate exercises the hot-recount path, and at sf10 it
# collapses the near-cartesian min_shared=1 join (measured 103 s ->
# see COVERAGE) to cap * eval-gram-occurrence volume
_FUZZY_STOP_DF = 2

# planted eval set: every 50th doc's 60%-character prefix — a
# paraphrase-grade overlap (big shared prefix, different tail) that
# exact-match decontamination misses when even one gram differs.
# FIXED id cap (≤ _FUZZY_EVAL_CAP/50 = 10k docs at any corpus size):
# the q122/q123/_DECON_EVAL_CAP treatment — without it the eval gram
# side is corpus-proportional and trips the operator's
# EVAL_GRAM_BUDGET_ROWS raise at a large enough scale factor.
_FUZZY_EVAL_CAP = 500_000
_FUZZY_EVAL_SQL = f"""
evals AS (
  SELECT doc_id AS eval_id,
         substr(text, 1, CAST(floor(length(text) * 0.6) AS INT))
           AS text
  FROM documents
  WHERE doc_id % 50 = 0 AND doc_id < {_FUZZY_EVAL_CAP}
)
"""

_FUZZY_ORACLE = f"""
WITH {_FUZZY_EVAL_SQL},
dg AS (
  SELECT doc_id, unnest(sh) AS g, len(sh) AS size_d
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(
             range(1, len(toks) - {_FUZZY_N - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                            toks[i+3], toks[i+4]))) AS sh
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text),
                         '{_TOKEN_RE}'), x -> x <> '') AS toks
      FROM documents
    ) WHERE len(toks) >= {_FUZZY_N}
  )
),
eg AS (
  SELECT eval_id, unnest(sh) AS g, len(sh) AS size_e
  FROM (
    SELECT eval_id,
           list_distinct(list_transform(
             range(1, len(toks) - {_FUZZY_N - 2}),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                            toks[i+3], toks[i+4]))) AS sh
    FROM (
      SELECT eval_id,
             list_filter(regexp_split_to_array(lower(text),
                         '{_TOKEN_RE}'), x -> x <> '') AS toks
      FROM evals
    ) WHERE len(toks) >= {_FUZZY_N}
  )
),
hotg AS (
  SELECT g FROM dg GROUP BY g HAVING count(*) > {_FUZZY_STOP_DF}
),
pairs AS (
  SELECT dg.doc_id, eg.eval_id, dg.size_d, eg.size_e,
         CAST(count(*) AS BIGINT) AS shared_ngrams,
         CAST(count(*) FILTER (WHERE hotg.g IS NULL) AS BIGINT)
           AS cold_common
  FROM dg JOIN eg USING (g) LEFT JOIN hotg USING (g)
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT doc_id, eval_id, shared_ngrams,
         shared_ngrams * 1000000
           // (size_d + size_e - shared_ngrams) AS jaccard_ppm
  FROM pairs
  WHERE cold_common >= 1
),
hits AS (
  SELECT doc_id, eval_id, shared_ngrams, jaccard_ppm
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id
      ORDER BY jaccard_ppm DESC, eval_id) AS rn
    FROM scored WHERE jaccard_ppm >= {_FUZZY_PPM}
  ) WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(h.eval_id, -1) AS best_eval_id,
       COALESCE(h.shared_ngrams, 0) AS shared_ngrams,
       COALESCE(h.jaccard_ppm, 0) AS jaccard_ppm,
       h.eval_id IS NULL AS keep
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@query("q119_fuzzy_decontamination", oracle=_FUZZY_ORACLE)
def q119_fuzzy_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fuzzy benchmark decontamination with attribution: q62 counts
    exact shared n-grams; this normalizes the overlap to a Jaccard
    similarity over DISTINCT {_FUZZY_N}-gram sets and attributes
    each contaminated doc to its single best-matching eval item
    (argmax by jaccard_ppm, eval_id tie-break) — the report a
    release process needs is "which eval items leaked", not just
    "which docs to drop". keep = no eval item reaches 30% Jaccard.
    All integer arithmetic (common*1e6 div union), q21's exactness
    discipline.

    Scale shape (operators/contamination.fuzzy_contamination): the
    eval side is BROADCAST throughout — bounded by construction via
    the fixed id cap _FUZZY_EVAL_CAP and enforced by the operator's
    gram-budget raise; candidacy excludes grams
    whose corpus df exceeds {_FUZZY_STOP_DF} (min_shared=1 on a
    vocabulary-dense corpus is near-cartesian — the uncapped
    variant measured 103 s at sf10, the capped one is bounded by
    cap * eval-gram occurrences) while verification re-counts
    EXACTLY via hot-gram arrays, so the checked similarity is the
    true full-set value and the only approximation is candidacy
    itself (a pair is missed iff it shares NO sub-cap gram — the
    oracle models the identical rule via its cold_common clause).
    Attribution is a doc_id-partitioned window over hit rows only;
    the final verdict attach is a doc_id equi-join."""
    from ..operators.contamination import fuzzy_contamination

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    evals = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < _FUZZY_EVAL_CAP)
    ).select(
        F.col("doc_id").alias("eval_id"),
        F.expr(
            "substr(text, 1, CAST(floor(length(text) * 0.6) AS INT))"
        ).alias("text"),
    )
    scored = fuzzy_contamination(
        docs,
        evals,
        ngram=_FUZZY_N,
        threshold_ppm=_FUZZY_PPM,
        stop_gram_df=_FUZZY_STOP_DF,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard_ppm").desc(), F.col("eval_id")
    )
    hits = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("eval_id", F.lit(-1)).cast("long").alias(
            "best_eval_id"
        ),
        F.coalesce("shared_ngrams", F.lit(0)).cast("long").alias(
            "shared_ngrams"
        ),
        F.coalesce("jaccard_ppm", F.lit(0)).cast("long").alias(
            "jaccard_ppm"
        ),
        F.col("eval_id").isNull().alias("keep"),
    )


# ---------------------------------------------------------------- q120

_EXCISE_ORACLE = f"""
WITH {_SPAN_SQL},
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
rem AS (
  SELECT doc_id, unnest(range(p0, p1 + {_SPAN_K})) AS pos FROM spans
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
kept AS (
  SELECT tokpos.doc_id, tokpos.pos, tokpos.tok
  FROM tokpos ANTI JOIN rem USING (doc_id, pos)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM t LEFT JOIN agg a USING (doc_id)
"""


@query("q120_substring_span_excision", oracle=_EXCISE_ORACLE)
def q120_substring_span_excision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The transform half of q115 (the q53-audit/q113-redaction
    pattern): ExactSubstr dedup as Lee et al. 2021 actually apply it
    — REMOVE the duplicated spans and keep the rest of the document,
    rather than dropping whole docs. Output carries the cleaned text
    so the checked artifact IS the deliverable corpus.

    Scale shape (operators/dedup.excise_spans): spans collapse to
    one short array per affected doc (dup-density-bounded), joined
    back doc-keyed; removal is a narrow indexed-lambda filter over
    the token array — no corpus-grain position explode or
    reassembly shuffle on the Spark side (the oracle reassembles via
    explode + anti join + ordered string_agg, a mechanically
    different route to the same rows, which is the point of the
    cross-engine pin). Maximal spans never overlap, so the per-token
    test is a short exists()."""
    corpus = _span_corpus(spark, sf_dir)
    out = D.excise_spans(corpus, k=_SPAN_K)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.array_join("toks_clean", " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------- q127

# eval split at span grain: every 50th doc UNDER A FIXED ID CAP is an
# eval item — the cap (≤ _DECON_EVAL_CAP/_DECON_SPAN_MOD = 10k docs no
# matter how large the corpus) is the q122/q123 _EVAL_MAX_ID treatment
# at span grain (r9 advice): an uncapped % 50 split is
# corpus-proportional, so its distinct-gram count grows linearly and
# eventually trips contaminated_span_intervals' EVAL_GRAM_BUDGET
# raise while the docstring claims the eval side is bounded. Training
# corpus = the complement PLUS planted leaks — every doc with
# doc_id % 100 == 10 (same cap, so plants track the eval set) re-
# appears (at +_SPAN_OFFSET) with the first 12 tokens of eval doc
# (doc_id - 10) appended: a quoted eval passage inside an otherwise-
# original document. Doc-level decontamination would have to drop the
# whole doc; span excision cuts the quote.
_DECON_SPAN_MOD = 50
_DECON_EVAL_CAP = 500_000

_DECON_SPAN_SQL = f"""
t0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM documents
),
ev AS (
  SELECT doc_id, toks FROM t0
  WHERE doc_id % {_DECON_SPAN_MOD} = 0 AND doc_id < {_DECON_EVAL_CAP}
),
t AS (
  SELECT doc_id, toks FROM t0
  WHERE NOT (doc_id % {_DECON_SPAN_MOD} = 0
             AND doc_id < {_DECON_EVAL_CAP})
  UNION ALL
  SELECT a.doc_id + {_SPAN_OFFSET},
         list_concat(a.toks, list_slice(b.toks, 1, 12))
  FROM t0 a JOIN t0 b ON b.doc_id = a.doc_id - 10
  WHERE a.doc_id % 100 = 10 AND a.doc_id < {_DECON_EVAL_CAP}
)
"""

_DECON_SPAN_ORACLE = f"""
WITH {_DECON_SPAN_SQL},
eg AS (
  SELECT DISTINCT
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM ev, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
p AS (SELECT g.doc_id, g.pos FROM g JOIN eg USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
rem AS (
  SELECT doc_id, unnest(range(p0, p1 + {_SPAN_K})) AS pos FROM spans
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
kept AS (
  SELECT tokpos.doc_id, tokpos.pos, tokpos.tok
  FROM tokpos ANTI JOIN rem USING (doc_id, pos)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM t LEFT JOIN agg a USING (doc_id)
"""


@query("q127_eval_span_excision", oracle=_DECON_SPAN_ORACLE)
def q127_eval_span_excision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-grain eval decontamination as a TRANSFORM: cut every
    training-doc span whose k-grams appear verbatim in some eval
    doc, keep the rest of the document
    (dedup.excise_contaminated_spans). Completes the
    decontamination family along the second axis — q62/q119/q122/
    q123 decide keep-or-drop at DOC grain; this excises at SPAN
    grain, the right tool when a training doc merely QUOTES an eval
    passage (dropping it wholesale wastes the original 95%). The
    planted leaks (eval-prefix quotes appended to natural docs at
    +1e12) must come back clipped to their original token count;
    eval-side grams are bounded BY CONSTRUCTION — the split carries
    the fixed id cap _DECON_EVAL_CAP, never a corpus-proportional
    % 50 alone — and enforced against the broadcast gram budget
    (the q122/q123 eval-contract discipline at span grain)."""
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q127").alias("doc_id"), "text"
    )
    t0 = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    is_eval = (F.col("doc_id") % _DECON_SPAN_MOD == 0) & (
        F.col("doc_id") < _DECON_EVAL_CAP
    )
    ev = t0.filter(is_eval)
    planted = (
        t0.filter(
            (F.col("doc_id") % 100 == 10)
            & (F.col("doc_id") < _DECON_EVAL_CAP)
        )
        .alias("a")
        .join(
            t0.select(
                F.col("doc_id").alias("_eid"),
                F.col("toks").alias("_etoks"),
            ).alias("b"),
            F.col("_eid") == F.col("doc_id") - 10,
        )
        .select(
            (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
            F.concat(
                F.col("toks"), F.slice(F.col("_etoks"), 1, 12)
            ).alias("toks"),
        )
    )
    train = t0.filter(~is_eval).unionByName(planted)
    out = D.excise_contaminated_spans(train, ev, k=_SPAN_K)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.array_join("toks_clean", " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------- q128

# composed-pipeline gate: survivors must keep >= half their tokens
# after span excision (the q115 keep rule) AND >= this floor
_PIPE_MIN_KEPT = 20

_PIPELINE_ORACLE = f"""
WITH {_COPY_SQL},
keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
t AS (
  SELECT c.doc_id,
         list_filter(regexp_split_to_array(lower(c.text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM corpus c JOIN keep USING (doc_id)
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
cut AS (
  SELECT doc_id, CAST(sum(p1 - p0 + {_SPAN_K}) AS BIGINT) AS n_cut
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(c.n_cut, 0) AS BIGINT) AS n_kept
FROM t LEFT JOIN cut c USING (doc_id)
WHERE (len(t.toks) - COALESCE(c.n_cut, 0)) * 2 >= len(t.toks)
  AND len(t.toks) - COALESCE(c.n_cut, 0) >= {_PIPE_MIN_KEPT}
"""


@query("q128_curation_pipeline", oracle=_PIPELINE_ORACLE)
def q128_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline — exact dedup -> within-corpus span
    excision -> quality gate — in ONE lazy DataFrame chain, the way a
    user actually strings the engine's operators together: no
    materialization between stages, so Catalyst plans the whole
    pipeline as one job and each stage keeps the scale shape it was
    measured with individually (narrow sha2 dedup shuffle; hash-only
    span checkpoint; gate as a plain filter). Corpus = documents plus
    verbatim copies planted at +1e12 (the q20 corpus), so stage 1
    has real work; survivors keep a doc iff, after cutting maximal
    duplicated spans, at least half its tokens AND >= 20 tokens
    remain (the q115 keep rule with a floor). Oracle composes the
    same three stages in SQL."""
    corpus = _copy_corpus(spark, sf_dir)
    survivors = corpus.join(
        D.exact_dedup(corpus).select("doc_id"), "doc_id", "left_semi"
    )
    # The span kernel + the excision transform consume the token
    # table THREE times (gram explode, candidate join-back, final
    # span application); without a cut each pass re-runs the sha2
    # dedup aggregation + semi-join + tokenize. r13's R1 measured a
    # token-table checkpoint as a LOSS for q115/q127, whose upstream
    # is a plain scan+tokenize — here the upstream includes the
    # corpus-wide dedup, which costs strictly more than re-reading
    # the materialized arrays. Interleaved A/B at sf0.1: 0.77-0.83.
    t = survivors.select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=True)
    out = D.excise_spans(t, k=_SPAN_K)
    return out.filter(
        (F.col("n_kept") * 2 >= F.col("n_tokens"))
        & (F.col("n_kept") >= _PIPE_MIN_KEPT)
    ).select("doc_id", "n_tokens", "n_kept")


# ---------------------------------------------------------------- q131

# full curation shape (r9 verdict #4): q128 proved dedup -> excision
# -> gate composes; this one runs the ENTIRE curation sequence a
# training-data pipeline actually ships — exact dedup -> span-grain
# EVAL decontamination -> quality gate -> scored token-budget head.
# Corpus plants one trap per stage: verbatim copies at +_SPAN_OFFSET
# (dedup's work — and a copy of an EVAL doc, whose original is not in
# the training pool, slips PAST dedup and must be emptied by
# decontamination: the cross-stage case no standalone query covers),
# plus quote-appender docs at +2*_SPAN_OFFSET (span excision's work:
# clip the 12-token eval quote, keep the original).
_CURATE_BUDGET = 12_000

_CURATE_ORACLE = f"""
WITH base AS (SELECT doc_id, text FROM documents),
tok0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM base
),
ev AS (
  SELECT doc_id, toks FROM tok0
  WHERE doc_id % {_DECON_SPAN_MOD} = 0 AND doc_id < {_DECON_EVAL_CAP}
),
train AS (
  SELECT doc_id, text FROM base
  WHERE NOT (doc_id % {_DECON_SPAN_MOD} = 0
             AND doc_id < {_DECON_EVAL_CAP})
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET}, text FROM base WHERE doc_id % 25 = 0
  UNION ALL
  SELECT a.doc_id + {2 * _SPAN_OFFSET},
         a.text || ' ' || array_to_string(list_slice(b.toks, 1, 12), ' ')
  FROM base a JOIN tok0 b ON b.doc_id = a.doc_id - 10
  WHERE a.doc_id % 100 = 10 AND a.doc_id < {_DECON_EVAL_CAP}
),
keep AS (SELECT min(doc_id) AS doc_id FROM train GROUP BY text),
t AS (
  SELECT tr.doc_id,
         list_filter(regexp_split_to_array(lower(tr.text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM train tr JOIN keep USING (doc_id)
),
eg AS (
  SELECT DISTINCT
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM ev, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
p AS (SELECT g.doc_id, g.pos FROM g JOIN eg USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
rem AS (
  SELECT doc_id, unnest(range(p0, p1 + {_SPAN_K})) AS pos FROM spans
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
kept AS (
  SELECT tokpos.doc_id, tokpos.tok
  FROM tokpos ANTI JOIN rem USING (doc_id, pos)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         {_CLS_INTERCEPT} + CAST(coalesce(sum({_CLS_W_SQL}), 0)
           AS BIGINT) AS score_milli
  FROM kept GROUP BY doc_id
),
gated AS (
  SELECT t.doc_id,
         CAST(len(t.toks) AS BIGINT) AS n_tokens,
         COALESCE(a.n_kept, 0) AS n_kept,
         COALESCE(a.score_milli, {_CLS_INTERCEPT}) AS score_milli
  FROM t LEFT JOIN agg a USING (doc_id)
  WHERE COALESCE(a.n_kept, 0) * 2 >= len(t.toks)
    AND COALESCE(a.n_kept, 0) >= {_PIPE_MIN_KEPT}
),
placed AS (
  SELECT doc_id, n_tokens, n_kept, score_milli,
         CAST(coalesce(sum(n_kept) OVER (
           ORDER BY score_milli DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM gated
)
SELECT doc_id, n_tokens, n_kept, score_milli, cum_before
FROM placed WHERE cum_before + n_kept <= {_CURATE_BUDGET}
"""


@query("q131_full_curation_pipeline", oracle=_CURATE_ORACLE)
def q131_full_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The engine's curation operators composed END TO END, the shape
    a training-data pipeline actually ships: exact dedup (q20) ->
    span-grain eval decontamination with excision (q127) -> quality
    gate (q128's keep rule) -> classifier-scored token-budget head
    (q111's greedy best-first prefix, spending the budget on
    POST-excision tokens). Cross-stage traps the standalone queries
    can't cover: a verbatim copy of an EVAL doc survives dedup (its
    original is not in the training pool) and must be emptied by
    decontamination, then dropped by the gate; quote-appender docs
    come back clipped and still compete for budget with their
    post-excision score. Everything through the gate is ONE lazy
    chain (narrow sha2 dedup shuffle, broadcast eval-gram semi-join,
    filters); the budget placement is the two-phase global cumsum —
    range exchange + per-partition offsets, never a single-partition
    window — ordered by (score DESC, doc_id). Output pins each kept
    doc's exact offset, so the hash match proves dedup membership,
    excision arithmetic, gate decisions, AND the total order at
    once."""
    from ..operators.packing import global_cumsum_multi
    from ..operators.text import derived_weights, linear_score_over

    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q131").alias("doc_id"), "text"
    )
    tok0 = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    is_eval = (F.col("doc_id") % _DECON_SPAN_MOD == 0) & (
        F.col("doc_id") < _DECON_EVAL_CAP
    )
    ev = tok0.filter(is_eval)
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"), "text"
    )
    plants = (
        docs.filter(
            (F.col("doc_id") % 100 == 10)
            & (F.col("doc_id") < _DECON_EVAL_CAP)
        )
        .join(
            tok0.select(
                F.col("doc_id").alias("_eid"),
                F.col("toks").alias("_etoks"),
            ),
            F.col("_eid") == F.col("doc_id") - 10,
        )
        .select(
            (F.col("doc_id") + F.lit(2 * _SPAN_OFFSET)).alias("doc_id"),
            F.concat_ws(
                " ",
                F.col("text"),
                F.array_join(F.slice("_etoks", 1, 12), " "),
            ).alias("text"),
        )
    )
    train = docs.filter(~is_eval).unionByName(copies).unionByName(plants)
    surv = train.join(
        D.exact_dedup(train).select("doc_id"), "doc_id", "left_semi"
    )
    # same cut as q128: the decon gram explode and the final span
    # application each re-run union+plants-join+dedup+tokenize
    # without it (q115/q127 keep the lazy shape — their upstream is
    # a bare scan+tokenize, where r13's R1 measured the checkpoint
    # as a loss). Interleaved A/B at sf0.1: 0.91-0.97.
    t = surv.select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=True)
    out = D.excise_contaminated_spans(t, ev, k=_SPAN_K)
    score = linear_score_over(
        F.col("toks_clean"), derived_weights(_CLS_D), _CLS_INTERCEPT
    )
    gated = out.filter(
        (F.col("n_kept") * 2 >= F.col("n_tokens"))
        & (F.col("n_kept") >= _PIPE_MIN_KEPT)
    ).select(
        "doc_id", "n_tokens", "n_kept", score.alias("score_milli")
    )
    placed = global_cumsum_multi(
        gated,
        [("n_kept", "cum_before")],
        [F.col("score_milli").desc(), F.col("doc_id")],
    )
    return placed.filter(
        F.col("cum_before") + F.col("n_kept") <= F.lit(_CURATE_BUDGET)
    ).select("doc_id", "n_tokens", "n_kept", "score_milli", "cum_before")


# ---------------------------------------------------------------- q137

# Incremental curation DAG corpus — the q131 trap design adapted to
# the MinHash dedup stage: verbatim copies at +_SPAN_OFFSET (dedup's
# work, J=1 with their originals — and copies of EVAL docs slip past
# dedup because their originals are not in the pool, then must be
# emptied by decontamination), quote-appenders at +2*_SPAN_OFFSET
# whose BASE docs are excluded from the pool — under near-dup dedup
# an in-pool base would make the appender itself a J≈0.9 duplicate
# and excision would never see it; excluding the base routes the
# planted leak to the decontamination stage, where it belongs.


def _curation_dag_oracle() -> str:
    """The WHOLESALE pass the accumulated increments must equal:
    MinHash pairwise min-id dedup (q22's rule — the id-monotone
    ascending increments collapse to exactly this) → span-grain eval
    excision → quality gate."""
    return f"""
WITH base AS (SELECT doc_id, text FROM documents),
tok0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM base
),
ev AS (
  SELECT doc_id, toks FROM tok0
  WHERE doc_id % {_DECON_SPAN_MOD} = 0 AND doc_id < {_DECON_EVAL_CAP}
),
corpus AS (
  SELECT doc_id, text FROM base
  WHERE NOT (doc_id % {_DECON_SPAN_MOD} = 0
             AND doc_id < {_DECON_EVAL_CAP})
    AND NOT (doc_id % 100 = 10 AND doc_id < {_DECON_EVAL_CAP})
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET}, text FROM base WHERE doc_id % 25 = 0
  UNION ALL
  SELECT a.doc_id + {2 * _SPAN_OFFSET},
         a.text || ' ' || array_to_string(list_slice(b.toks, 1, 12), ' ')
  FROM base a JOIN tok0 b ON b.doc_id = a.doc_id - 10
  WHERE a.doc_id % 100 = 10 AND a.doc_id < {_DECON_EVAL_CAP}
),
{_SHINGLE_SQL.strip().rstrip(",")},
{_minhash_dropped_sql().lstrip()},
t AS (
  SELECT c.doc_id,
         list_filter(regexp_split_to_array(lower(c.text), '{_TOKEN_RE}'),
                     x -> x <> '') AS toks
  FROM corpus c
  WHERE c.doc_id NOT IN (SELECT doc_b FROM dropped)
),
eg AS (
  SELECT DISTINCT
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM ev, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(toks, i, i + {_SPAN_K} - 1), ' ')
           AS gram
  FROM t, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS u(i)
  WHERE len(toks) >= {_SPAN_K}
),
p AS (SELECT g.doc_id, g.pos FROM g JOIN eg USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER w > {_SPAN_K} THEN 1 ELSE 0 END
           AS brk
  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
  FROM isl2 GROUP BY doc_id, island
),
cut AS (
  SELECT doc_id, CAST(sum(p1 - p0 + {_SPAN_K}) AS BIGINT) AS n_cut
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COALESCE(c.n_cut, 0) AS BIGINT) AS n_kept
FROM t LEFT JOIN cut c USING (doc_id)
WHERE (len(t.toks) - COALESCE(c.n_cut, 0)) * 2 >= len(t.toks)
  AND len(t.toks) - COALESCE(c.n_cut, 0) >= {_PIPE_MIN_KEPT}
"""


@query("q137_incremental_curation_dag", oracle=_curation_dag_oracle())
def q137_incremental_curation_dag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental curation pipeline as a TASK DAG (r10 verdict
    #3): q131 proved the stage composition, q132 proved streaming
    dedup against the index — this wires ingest → dedup-against-index
    → decontamination → append through the reference-parity task
    machinery (plans/curation.CurationDag over plans/dag.TaskDag,
    AFTER edges, the ETL root's verbatim cron), watermark-driven at
    file grain via the load ledger, exactly-once end to end (crash
    anywhere before the final ledger commit replays bit-identically:
    replay-safe dedup increment + dynamic-overwrite curated landing).

    Two id-monotone daily batches (median-id split, ascending — the
    q132 condition) drive two full DAG passes; the accumulated
    curated pool must equal the WHOLESALE pass the oracle computes
    in SQL: MinHash pairwise min-id dedup → eval-span excision →
    quality gate. The corpus routes one trap per stage (see the
    section comment): natural-doc copies die in dedup, eval-doc
    copies slip past dedup and are emptied by excision, planted
    quote-appenders (bases withheld) come back clipped."""
    import tempfile

    from ..plans.curation import CurationDag

    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q137").alias("doc_id"), "text"
    )
    tok0 = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    is_eval = (F.col("doc_id") % _DECON_SPAN_MOD == 0) & (
        F.col("doc_id") < _DECON_EVAL_CAP
    )
    is_plant_base = (F.col("doc_id") % 100 == 10) & (
        F.col("doc_id") < _DECON_EVAL_CAP
    )
    ev = tok0.filter(is_eval)
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"), "text"
    )
    plants = (
        docs.filter(is_plant_base)
        .join(
            tok0.select(
                F.col("doc_id").alias("_eid"),
                F.col("toks").alias("_etoks"),
            ),
            F.col("_eid") == F.col("doc_id") - 10,
        )
        .select(
            (F.col("doc_id") + F.lit(2 * _SPAN_OFFSET)).alias("doc_id"),
            F.concat_ws(
                " ",
                F.col("text"),
                F.array_join(F.slice("_etoks", 1, 12), " "),
            ).alias("text"),
        )
    )
    train = (
        docs.filter(~is_eval & ~is_plant_base)
        .unionByName(copies)
        .unionByName(plants)
    )
    root = tempfile.mkdtemp(prefix="q137_curation_")
    dag = CurationDag(
        spark, root, ev, ngram=_NGRAM, threshold_pct=_JACCARD_PCT,
        span_k=_SPAN_K, min_kept=_PIPE_MIN_KEPT,
    )
    mid = train.approxQuantile("doc_id", [0.5], 0.0)[0]
    for day, pred in enumerate(
        (F.col("doc_id") <= mid, F.col("doc_id") > mid)
    ):
        train.filter(pred).write.mode("overwrite").parquet(
            f"{root}/stage/day{day}"
        )
        dag.run_once()
    return dag.curated()


# ---------------------------------------------------------------- q121

_CONTAIN_PCT = 80

# snippet corpus: every 20th doc re-appears as its 20%-prefix — a
# SHORT near-contained fragment. Its shingles are (almost) a subset
# of the parent's, so containment of the smaller set is ~100% while
# symmetric Jaccard is ~20% — below the q21 threshold. This is the
# boilerplate-page-inside-a-crawl-document shape that containment
# dedup exists to catch. Planted ids live at +_SPAN_OFFSET, natural
# ids guarded below it (the planted-id hygiene rule, llmdata.py:39).
_SNIPPET_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPAN_OFFSET},
         substr(text, 1, CAST(floor(length(text) * 0.2) AS INT))
  FROM documents WHERE doc_id % 20 = 0
)
"""


def _snippet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir).select(
        _guarded_doc_id("q121").alias("doc_id"), "text"
    )
    return docs.unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + F.lit(_SPAN_OFFSET)).alias("doc_id"),
            F.expr(
                "substring(text, 1, CAST(floor(length(text) * 0.2) AS INT))"
            ).alias("text"),
        )
    )


@query(
    "q121_containment_pairs",
    oracle=f"""
WITH {_SNIPPET_SQL}, {_SHINGLE_SQL}, {_CAPPED_PAIRS_SQL}
SELECT doc_a, doc_b, common,
       CAST(least(size_a, size_b) AS BIGINT) AS min_size
FROM pairs
WHERE least(size_a, size_b) > 0
  AND common * 100 >= {_CONTAIN_PCT} * least(size_a, size_b)
""",
)
def q121_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment dedup: pairs where the SMALLER
    shingle set is >= 80% contained in the other
    (operators/dedup.containment_pairs). Shares the exact
    set-overlap core (overlap_pairs: capped candidacy, exact
    common) with q21 — only the final integer inequality differs,
    which is the point of the core/wrapper split. Catches
    short-in-long fragments Jaccard misses: the planted 20%-prefix
    snippets score ~20% Jaccard (invisible to q21's 50% gate) but
    ~100% containment."""
    sh = D.shingle_docs(_snippet_corpus(spark, sf_dir), ngram=_NGRAM)
    return D.containment_pairs(
        sh, threshold_pct=_CONTAIN_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select(
        "doc_a",
        "doc_b",
        F.col("common").cast("long").alias("common"),
        F.col("min_size").cast("long").alias("min_size"),
    )


# ---------------------------------------------------------------- q124


@query(
    "q124_containment_survivors",
    oracle=f"""
WITH {_SNIPPET_SQL}, {_SHINGLE_SQL}, {_CAPPED_PAIRS_SQL},
dropped AS (
  SELECT DISTINCT
         CASE WHEN size_a < size_b THEN doc_a ELSE doc_b END AS doc_id
  FROM pairs
  WHERE least(size_a, size_b) > 0
    AND common * 100 >= {_CONTAIN_PCT} * least(size_a, size_b)
)
SELECT s.doc_id, CAST(s.set_size AS BIGINT) AS set_size
FROM sized s
WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
""",
)
def q124_containment_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment survivorship — the cleaned corpus q121's pair list
    implies (the q115 -> q120 pattern at doc grain): for every
    qualifying containment pair the CONTAINED side (the smaller
    shingle set — ties drop the larger doc_id) drops, parents
    survive. keep_min_id would be wrong here: containment is
    asymmetric, and with the planted 20%-prefix snippets living at
    +1e12 the fragment is always the HIGHER id — a min-id rule only
    works by accident of the planting; the size rule is the
    semantics. Every planted snippet must be dropped, every natural
    doc survives unless genuinely contained."""
    sh = D.shingle_docs(_snippet_corpus(spark, sf_dir), ngram=_NGRAM)
    return D.containment_survivors(
        sh, threshold_pct=_CONTAIN_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select("doc_id", F.col("set_size").cast("long").alias("set_size"))


# ---------------------------------------------------------------- q125


def _ann_recall_oracle() -> str:
    return f"""
WITH {_QUANT_SQL},
queries AS (SELECT * FROM quant WHERE vec_id < 10),
escored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM queries a JOIN quant b ON b.vec_id <> a.vec_id
),
eranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_scaled DESC, cand_id) AS rnk
  FROM escored
),
exact_topk AS (SELECT query_id, cand_id FROM eranked WHERE rnk <= 10),
{_banded_bits_sql(_LSH_TOPK_PLANES, _LSH_TOPK_BANDS).lstrip()},
qb AS (SELECT * FROM bands WHERE vec_id < 10),
lcand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS cand_id
  FROM qb a JOIN bands c ON c.band = a.band AND c.key = a.key
  WHERE c.vec_id <> a.vec_id
),
lscored AS (
  SELECT cd.query_id, cd.cand_id,
         {_cos_scaled_sql(_DOT_SQL, 'a.norm2', 'b.norm2')} AS cos_scaled
  FROM lcand cd
  JOIN quant a ON a.vec_id = cd.query_id
  JOIN quant b ON b.vec_id = cd.cand_id
),
lranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_scaled DESC, cand_id) AS rnk
  FROM lscored
),
lsh_topk AS (SELECT query_id, cand_id FROM lranked WHERE rnk <= 10)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
       CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            * 100 // count(*) AS BIGINT) AS recall_pct
FROM exact_topk e
LEFT JOIN lsh_topk l
  ON l.query_id = e.query_id AND l.cand_id = e.cand_id
GROUP BY e.query_id
"""


@query("q125_ann_recall_audit", oracle=_ann_recall_oracle())
def q125_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality audit: per-probe recall@10 of the SHIPPED banded
    ANN (q130) against the exact brute-force top-10 (q25) — the
    measurement a pipeline runs BEFORE trusting an approximate index
    at fleet scale (the q123-banding lesson operationalized: every
    approximation ships with its own recall meter). Exact integer
    output: (query_id, n_exact, hits, recall_pct = hits*100 div
    n_exact). Plan shape is q25's broadcast probe scan (the exact
    side dominates; the audit is run on a probe SAMPLE, not the
    corpus, so the brute-force side stays bounded by the probe
    count) plus one narrow (query_id, cand_id) left join and a
    10-row-per-probe aggregate.

    History this meter wrote (r9 -> r10): pointed at the original
    single-bucket 8-plane index it measured recall ~5% at sf0.01 —
    the expected verdict for AND-matching all bits on quasi-random
    embeddings (top-10 near cos ~0.5, each hyperplane bit near
    signal-free; the regime math that refuted q123's narrow bands,
    SCALING_r8_queries.md). That reading drove the r10 frontier
    measurement (SCALING_r10.md) and the
    re-picked defaults this audit now tracks: the banded
    (48, 16) OR-construction, recall@10 0.886/0.922 at sf0.1/sf1 —
    above the stated >= 0.8 target. q26 keeps the single-bucket
    reference alive for comparison."""
    from ..operators.similarity import topk_bruteforce, topk_lsh_banded

    q = _embeddings_q(spark, sf_dir)
    probes = q.filter(F.col("vec_id") < 10)
    ex = topk_bruteforce(q, probes, k=10).select("query_id", "cand_id")
    ap = topk_lsh_banded(
        q, probes, k=10,
        planes=_LSH_TOPK_PLANES, bands=_LSH_TOPK_BANDS, dim=_DIM,
    ).select("query_id", "cand_id", F.lit(1).alias("_hit"))
    return (
        ex.join(ap, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("hits"),
        )
        .withColumn(
            "recall_pct",
            F.expr("hits * 100 DIV n_exact").cast("long"),
        )
    )


# ---------------------------------------------------------------- q122

# deterministic eval split: every 97th vector UNDER A FIXED ID CAP
# is an eval item, the rest are the training corpus — disjoint by
# construction. The id cap is the scale contract (r8 verdict): a
# bare `% 97` split grows linearly with the corpus, which silently
# turns the decontamination operators' broadcast eval side into a
# 100x-scale OOM; capping eval to a FIXED id range bounds it at
# <= _EVAL_MAX_ID / _EVAL_MOD rows (~10.3k) no matter how large the
# corpus grows, and the operators' _check_eval_budget guard enforces
# the bound at call time. Every test-scale id sits below the cap, so
# outputs are byte-identical to the uncapped split at sf <= 10.
_EVAL_MOD = 97
_EVAL_MAX_ID = 1_000_000


@query(
    "q122_semantic_decontamination",
    oracle=f"""
WITH {_QUANT_SQL},
scored AS (
  SELECT b.vec_id AS vec_id, a.vec_id AS eval_id,
         {_DOT_SQL} AS dot, b.norm2 AS n_c, a.norm2 AS n_e
  FROM quant a JOIN quant b
    ON a.vec_id % {_EVAL_MOD} = 0 AND a.vec_id < {_EVAL_MAX_ID}
   AND NOT (b.vec_id % {_EVAL_MOD} = 0 AND b.vec_id < {_EVAL_MAX_ID})
),
hits AS (
  SELECT vec_id, eval_id,
         {_cos_scaled_sql('dot', 'n_c', 'n_e')} AS cos_scaled
  FROM scored
  WHERE dot > 0
    AND dot * dot * 10000 >= {_COS_PCT * _COS_PCT} * n_c * n_e
),
ranked AS (
  SELECT vec_id, eval_id, cos_scaled,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_scaled DESC, eval_id) AS rn
  FROM hits
)
SELECT vec_id, CAST(eval_id AS BIGINT) AS eval_id, cos_scaled
FROM ranked WHERE rn = 1
""",
)
def q122_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space eval decontamination: every training vector
    whose cosine to some eval vector passes tau=0.35, with its
    best-matching eval item (operators/similarity
    .contamination_matches). Catches PARAPHRASED eval leakage that
    the n-gram decontaminators (exact q62, fuzzy q119) cannot see.
    Eval = vec_id % 97 == 0 under the FIXED id cap _EVAL_MAX_ID
    (bounded by construction, so the broadcast budget holds at any
    corpus size — r8 verdict); the corpus is the complement. The
    corpus is scanned once, only threshold hits are shuffled, argmax
    is a hash aggregate — no window, no corpus-grain exchange."""
    from ..operators.similarity import contamination_matches

    emb = _embeddings_q(spark, sf_dir)
    is_eval = (F.col("vec_id") % _EVAL_MOD == 0) & (
        F.col("vec_id") < _EVAL_MAX_ID
    )
    return contamination_matches(
        emb.filter(~is_eval), emb.filter(is_eval), threshold_pct=_COS_PCT
    )


# ---------------------------------------------------------------- q123


# verbatim-leak regime: wide bands (4 x 8 bits of a 32-plane
# signature) and a high threshold. 4 x 2-bit bands at tau=0.35 were
# MEASURED quadratic — P[random pair matches a 2-bit band] = 1/4, OR
# over 4 bands ~ 68%: no pruning, 47x wall for 10x rows
# (SCALING_r8_queries.md). Wide bands prune (~4/256 random
# candidacy) and a verbatim copy matches every band.
_SEM_BANDS = 4
_SEM_PLANES = 32
_SEM_PCT = 80


def _semantic_lsh_oracle() -> str:
    r = _SEM_PLANES // _SEM_BANDS
    mask = (1 << r) - 1
    return f"""
WITH corpus_emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SPAN_OFFSET}, embedding FROM embeddings
  WHERE vec_id % {_EVAL_MOD} = 0 AND vec_id < {_EVAL_MAX_ID}
),
qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM corpus_emb
),
quant AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS norm2
  FROM qv
  WHERE list_sum(list_transform(q, v -> v * v)) > 0
),
bits AS (
  SELECT vec_id, q, norm2, p.i AS plane,
         CASE WHEN CAST(list_sum(list_transform(range(0, {_DIM}),
           d -> q[d + 1] * (((p.i * {_DIM} + d) * 2654435761)
                            % 2147483648 - 1073741824)))
           AS BIGINT) >= 0 THEN 1 ELSE 0 END AS bit
  FROM quant, unnest(range(0, {_SEM_PLANES})) AS p(i)
),
bucketed AS (
  SELECT vec_id, any_value(q) AS q, any_value(norm2) AS norm2,
         CAST(sum(bit * (1::BIGINT << plane)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id
),
banded AS (
  SELECT vec_id, q, norm2, b.i AS band,
         (bucket >> (b.i * {r})) & {mask} AS key
  FROM bucketed, unnest(range(0, {_SEM_BANDS})) AS b(i)
),
scored AS (
  SELECT DISTINCT b.vec_id AS vec_id, a.vec_id AS eval_id,
         {_DOT_SQL} AS dot, b.norm2 AS n_c, a.norm2 AS n_e
  FROM banded a JOIN banded b ON b.band = a.band AND b.key = a.key
  WHERE a.vec_id % {_EVAL_MOD} = 0 AND a.vec_id < {_EVAL_MAX_ID}
    AND NOT (b.vec_id % {_EVAL_MOD} = 0 AND b.vec_id < {_EVAL_MAX_ID})
),
hits AS (
  SELECT vec_id, eval_id,
         {_cos_scaled_sql('dot', 'n_c', 'n_e')} AS cos_scaled
  FROM scored
  WHERE dot > 0
    AND dot * dot * 10000 >= {_SEM_PCT * _SEM_PCT} * n_c * n_e
),
ranked AS (
  SELECT vec_id, eval_id, cos_scaled,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_scaled DESC, eval_id) AS rn
  FROM hits
)
SELECT vec_id, CAST(eval_id AS BIGINT) AS eval_id, cos_scaled
FROM ranked WHERE rn = 1
"""


@query("q123_semantic_decontamination_lsh", oracle=_semantic_lsh_oracle())
def q123_semantic_decontamination_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verbatim-leak decontamination at scale: every eval vector is
    planted back into the corpus as an exact copy (+1e12 guarded id
    space — the test-set-contamination scenario), and candidate
    (corpus, eval) pairs are restricted to pairs sharing ANY of 4
    8-bit hyperplane bands (similarity.contamination_matches_lsh).
    A verbatim copy has an identical 32-bit signature, so recall on
    the planted leaks is exactly 1, while random-pair candidacy is
    ~4/256 — the dot-product count drops ~60x vs q122's broadcast
    scan. The first cut of this query used 4 x 2-bit bands at
    tau=0.35 and MEASURED 47x wall for 10x rows (no pruning —
    SCALING_r8_queries.md); wide bands + the high-tau regime is the
    honest LSH trade, and low-tau paraphrase sweeps stay on q122's
    exact path. The oracle implements the identical hyperplanes,
    band split, planting and guard, pinning all of it."""
    from ..operators.similarity import contamination_matches_lsh

    emb_raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    guarded = F.when(
        F.col("vec_id").between(0, _SPAN_OFFSET - 1), F.col("vec_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q123 vec_id collides with planted id space: "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    base = emb_raw.select(guarded.alias("vec_id"), "embedding")
    is_eval = (F.col("vec_id") % _EVAL_MOD == 0) & (
        F.col("vec_id") < _EVAL_MAX_ID
    )
    ev_raw = base.filter(is_eval)
    corpus_raw = base.filter(~is_eval).unionByName(
        ev_raw.select(
            (F.col("vec_id") + F.lit(_SPAN_OFFSET)).alias("vec_id"),
            "embedding",
        )
    )
    from ..operators.similarity import quantize
    from ..sources.splits import widen_to_cores

    # norm2 > 0 after quantize mirrors the oracle's quant CTE
    # structurally (zero vectors get no signature at all), not just
    # observationally via the dot > 0 guard (r8 advice)
    return contamination_matches_lsh(
        quantize(widen_to_cores(corpus_raw)).filter(F.col("norm2") > 0),
        quantize(ev_raw).filter(F.col("norm2") > 0),
        threshold_pct=_SEM_PCT,
        planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
    )


# ---------------------------------------------------------------- q138


@query(
    "q138_semantic_decon_indexed", oracle=_semantic_lsh_oracle()
)
def q138_semantic_decon_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q123 through the PERSISTED vector band index — the last
    inline ANN surface moved to rest: the corpus is signed once into
    a PAYLOAD band index (write_vector_band_index(...,
    band_payload=True) at the decon config: 4 × 8-bit bands of a
    32-plane signature), and the decontamination pass signs only the
    eval side, prunes the key-sorted bands/ files to the eval's band
    keys, and scores INSIDE the band join — eval payload on the
    broadcast, corpus payload on the posting list, zero shuffle
    (similarity.contamination_matches_lsh_indexed; the docstring
    explains why decon scores in-join where the probe consumer
    joins back to docs/). Shares q123's oracle VERBATIM: signatures
    are per-row deterministic, so the at-rest pass must be
    byte-identical — the hash match proves the payload layout
    round-trips vectors, norms, and band keys exactly."""
    from ..operators.similarity import (
        contamination_matches_lsh_indexed,
        quantize,
        write_vector_band_index,
    )
    from ..sources.splits import widen_to_cores

    import tempfile

    emb_raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    guarded = F.when(
        F.col("vec_id").between(0, _SPAN_OFFSET - 1), F.col("vec_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q138 vec_id collides with planted id space: "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    base = emb_raw.select(guarded.alias("vec_id"), "embedding")
    is_eval = (F.col("vec_id") % _EVAL_MOD == 0) & (
        F.col("vec_id") < _EVAL_MAX_ID
    )
    ev_raw = base.filter(is_eval)
    corpus_raw = base.filter(~is_eval).unionByName(
        ev_raw.select(
            (F.col("vec_id") + F.lit(_SPAN_OFFSET)).alias("vec_id"),
            "embedding",
        )
    )
    path = tempfile.mkdtemp(prefix="q138_band_index_")
    write_vector_band_index(
        quantize(widen_to_cores(corpus_raw)).filter(F.col("norm2") > 0),
        path, planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
        band_payload=True,
    )
    return contamination_matches_lsh_indexed(
        spark, path,
        quantize(ev_raw).filter(F.col("norm2") > 0),
        threshold_pct=_SEM_PCT,
        planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
    )


# ---------------------------------------------------------------- q139


@query(
    "q139_semantic_decon_appended_index", oracle=_semantic_lsh_oracle()
)
def q139_semantic_decon_appended_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q138 with the payload band index built INCREMENTALLY — a
    bootstrap write of the lower-id half plus a daily-shape append of
    the upper half (median-id split; for decon no ordering condition
    is even needed: signatures are per-row deterministic, so
    parts ≡ whole unconditionally). Shares q123's oracle VERBATIM,
    which is the point (r11 verdict #5): q134 pins IVF appends
    through DuckDB, this pins the payload-band-index append path the
    incremental decon consumer reads — a wrong append (mixed layout,
    re-derived keys, dropped payload columns) breaks the hash match.
    The identity meta row makes a mismatched append a named error
    rather than a silent half-result (r11 advice #4)."""
    from ..operators.similarity import (
        append_vector_band_index,
        contamination_matches_lsh_indexed,
        quantize,
        write_vector_band_index,
    )
    from ..sources.splits import widen_to_cores

    import tempfile

    emb_raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    guarded = F.when(
        F.col("vec_id").between(0, _SPAN_OFFSET - 1), F.col("vec_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("q139 vec_id collides with planted id space: "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    base = emb_raw.select(guarded.alias("vec_id"), "embedding")
    is_eval = (F.col("vec_id") % _EVAL_MOD == 0) & (
        F.col("vec_id") < _EVAL_MAX_ID
    )
    ev_raw = base.filter(is_eval)
    corpus_raw = base.filter(~is_eval).unionByName(
        ev_raw.select(
            (F.col("vec_id") + F.lit(_SPAN_OFFSET)).alias("vec_id"),
            "embedding",
        )
    )
    corp_q = quantize(widen_to_cores(corpus_raw)).filter(
        F.col("norm2") > 0
    )
    mid = corp_q.select(
        F.expr("approx_percentile(vec_id, 0.5)").alias("m")
    ).collect()[0]["m"]
    path = tempfile.mkdtemp(prefix="q139_band_index_")
    write_vector_band_index(
        corp_q.filter(F.col("vec_id") <= mid),
        path, planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
        band_payload=True,
    )
    append_vector_band_index(
        corp_q.filter(F.col("vec_id") > mid),
        path, planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
        band_payload=True,
    )
    return contamination_matches_lsh_indexed(
        spark, path,
        quantize(ev_raw).filter(F.col("norm2") > 0),
        threshold_pct=_SEM_PCT,
        planes=_SEM_PLANES, bands=_SEM_BANDS, dim=_DIM,
    )


# ---------------------------------------------------------------- q140


@query("q140_ivf_hier_codebook_probe", oracle=_ivf_oracle())
def q140_ivf_hier_codebook_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q133 through the HIERARCHICAL codebook (r11 verdict #4): the
    probe routes each query through the persisted cells/ first level
    (an O(√k) collect) and reads only the routed cells' sub-codebooks
    from the cell-partitioned centroids/ — driver memory is O(√k)
    instead of the flat O(k) collect that MAX_CODEBOOK_ROWS guards,
    the last driver-side ceiling in the ANN family at k ∝ n. Shares
    q32's oracle VERBATIM: at the shipped probe width the routed
    cells cover each query's true nprobe nearest centroids on this
    corpus, so the hash match pins the two-level layout (cells/,
    cell-partitioned centroids/) AND the routed selection end to end;
    the unconditional all-cells identity is pinned separately by
    tests/test_ivf_index.py."""
    import tempfile

    from ..operators.similarity import (
        derived_cluster_count,
        topk_ivf_indexed_hier,
        write_ivf_index,
    )

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q140_ivf_hier_")
    write_ivf_index(
        q, path,
        n_centroids=derived_cluster_count(n, _IVF_KMIN, _IVF_TARGET),
        iters=_IVF_ITERS, dim=_DIM, train_sample=_IVF_SAMPLE,
        route_width=_ROUTE_WIDTH,
    )
    out = topk_ivf_indexed_hier(
        spark, path, q.filter(F.col("vec_id") < 10),
        k=10, nprobe=_IVF_NPROBE, probe_cells=4,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q141


@query("q141_ivf_index_compacted_probe", oracle=_ivf_oracle())
def q141_ivf_index_compacted_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nightly-maintenance lifecycle pinned through the driver
    hash: q134's write+append index, FRAGMENTED by four daily-shape
    appends, then compacted through the GATED path
    (plans/maintenance.compact_index with only_if_over — the r12
    fragmentation gate, exercising the dynamic-partition-overwrite
    branch on exactly the cells the gate selects) and vacuumed, then
    probed. Shares q32's oracle VERBATIM: pytest pins pre/post
    byte-identity on fixtures, but this match pins
    append+compact+vacuum+probe end to end through DuckDB at the
    driver's scale — a compactor that dropped, duplicated, or
    re-assigned one row breaks the hash."""
    import tempfile

    from ..operators.similarity import (
        append_ivf_index,
        derived_cluster_count,
        kmeans_centroids,
        topk_ivf_indexed_hier,
        write_ivf_index,
    )
    from ..plans.maintenance import compact_index, vacuum_index

    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    q = _embeddings_q(spark, sf_dir)
    cents = kmeans_centroids(
        q, k=derived_cluster_count(n, _IVF_KMIN, _IVF_TARGET),
        iters=_IVF_ITERS, dim=_DIM, train_sample=_IVF_SAMPLE,
    )
    path = tempfile.mkdtemp(prefix="q141_ivf_compact_")
    write_ivf_index(
        q.filter(F.col("vec_id") % 5 == 0), path,
        cents=cents, route_width=_ROUTE_WIDTH,
    )
    for day in range(1, 5):
        append_ivf_index(
            q.filter(F.col("vec_id") % 5 == day), path,
            route_width=_ROUTE_WIDTH,
        )
    # gate below the 5 file-sets the appends left, so fragmented
    # cells rewrite through dynamic partition overwrite and anything
    # already tight is left untouched — the shipped nightly call
    compact_index(spark, path, "ivf", only_if_over=2)
    vacuum_index(spark, path)
    out = topk_ivf_indexed_hier(
        spark, path, q.filter(F.col("vec_id") < 10),
        k=10, nprobe=_IVF_NPROBE, probe_cells=None,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------- q142


@query("q142_incremental_dedup_components", oracle=_COMPONENTS_ORACLE)
def q142_incremental_dedup_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q48's dedup clusters maintained INCREMENTALLY — union-find at
    rest (operators/components.py): the pair graph arrives as three
    batches; the first bootstraps the bucketed nodes/ state, each
    later batch folds in as O(batch) work (endpoint lookup pruned to
    the batch's node-buckets, CC over the LABEL graph only, merges
    appended to the remaps/ log), with a gated fold (path
    compression, the compact_index discipline) exercised mid-stream.
    Shares q48's recursive-CTE oracle VERBATIM — the wholesale wall
    the incremental state must reproduce exactly, so the hash match
    pins bootstrap + increment + fold + increment + log-resolved read
    against the full-graph fixed point."""
    import tempfile

    from ..operators.components import (
        components_increment,
        connected_components,
        fold_components_state,
        read_components_state,
        write_components_state,
    )

    sh = D.shingle_docs(_prefix_corpus(spark, sf_dir), ngram=_NGRAM)
    pairs = D.jaccard_pairs(
        sh, threshold_pct=_JACCARD_PCT, stop_shingle_df=_STOP_SHINGLE_DF
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)
    batch = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(3))
    path = tempfile.mkdtemp(prefix="q142_components_")
    write_components_state(
        connected_components(
            pairs.filter(batch == 0), src="doc_a", dst="doc_b"
        ),
        path,
    )
    components_increment(
        spark, path, pairs.filter(batch == 1), src="doc_a", dst="doc_b"
    )
    fold_components_state(spark, path)
    components_increment(
        spark, path, pairs.filter(batch == 2), src="doc_a", dst="doc_b"
    )
    return read_components_state(spark, path).select(
        F.col("node").alias("doc_id"), "component"
    )
