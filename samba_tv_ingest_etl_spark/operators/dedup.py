"""Deduplication operators for LLM-data pipelines (beyond-reference
surface): exact, exact n-gram-Jaccard (set-similarity join),
MinHash+LSH, SimHash.

Survivor rule everywhere: a document is dropped iff it is similar to
some document with a SMALLER id — deterministic, one-pass,
SQL-expressible (no iterative connected components; at fleet scale a
connected-components pass over the pair list is a follow-up job).

Cross-engine determinism: signatures are built from dense token ranks
(``text.vocab_ranks``) mixed with affine functions mod the Mersenne
prime — identical numbers in Spark and any ANSI oracle.
``hash_mode='xxhash64'`` switches minhash to Spark's native 64-bit
hash: no vocabulary join, the production fast path, but engine-local
values (no oracle).

Scale notes per operator:
- exact: one hash-groupBy shuffle on ``sha2(text)`` (shuffle carries
  the 64-char hash + id, not the document).
- jaccard: explode on shingles, self-join on shingle id. The join is
  exact (a τ-similar pair must share ≥1 shingle). Hot shingles are
  the skew hazard — mitigated here by dropping shingles shared by
  more than ``stop_shingle_df`` docs *from candidate generation
  only* (verification still uses full shingle sets, so the filter is
  lossless as long as every similar pair shares at least one
  sub-threshold shingle; at τ ≥ 0.5 and shingle n ≥ 3 this holds for
  natural text in practice, and the cap is configurable).
- minhash: fixed-width signature (``num_perm`` longs) per doc, band
  self-join on (band index, band slice) — candidate generation cost
  is O(docs·bands), independent of document length.
- simhash: 32-bit fingerprint; pigeonhole banding (4 bands of 8
  bits) is LOSSLESS for hamming distance ≤ 3: any pair within 3 bit
  flips matches on ≥1 band.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import (
    HASH_P,
    affine_hash,
    ngram_occurrences,
    tokens,
    vocab_ranks,
    word_shingles,
)

# num_perm=16, 4 bands x 4 rows: s-curve threshold ~ (1/4)^(1/4) ~ 0.71
MINHASH_PERMS = 16
MINHASH_BANDS = 4

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # lossless for hamming <= SIMHASH_BANDS - 1


def _minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (odd a, spread b)."""
    return [
        (2 * i + 1, (1_000_003 * i + 12_345) % HASH_P)
        for i in range(num_perm)
    ]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per identical text (byte-exact dup).
    Grouping on ``sha2`` keeps the shuffle narrow; collision risk at
    256 bits is ignorable."""
    h = F.sha2(F.col(text_col), 256)
    return (
        df.select(F.col(id_col), h.alias("_h"))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """(id, distinct word-ngram shingle array, set size).

    PLAN SHAPE MATTERS HERE (measured 13x): the shingle lambda must
    capture a *materialized* token column. Catalyst collapses
    Project-over-Project and re-inlines the token expression into the
    lambda, which then re-evaluates the regex split per array element
    (O(L²) per doc). The barrier is a ``localCheckpoint`` of the
    token projection: the lambda then reads a materialized array
    column (LogicalRDD attribute — nothing to re-inline), and the
    whole operator is SHUFFLE-FREE. This replaced the previous
    explode -> groupBy(collect_list) re-assemble shape, which blocked
    the collapse equally but paid a full (doc, shingle) shuffle for
    it — measured 3.98 s -> 2.64 s at sf1, bit-identical output.
    Docs with fewer than ``ngram`` tokens survive with an empty set
    (``word_shingles`` returns an empty array).

    Tokenization is CPU-bound, so parallelism = input splits: a
    small corpus parquet arrives as 1-4 splits and would tokenize on
    as many cores (measured 2.9 s -> 0.7 s at sf1 from this
    repartition). Only widens — at fleet size inputs already carry
    more splits than cores and the exchange is skipped. The split
    check reads file metadata (``sources/splits.py``), not
    ``df.rdd`` — no plan-to-RDD conversion per build."""
    from ..sources.splits import widen_to_cores

    df = widen_to_cores(df)
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    ).localCheckpoint(eager=True)
    return shingle_tokens(staged, ngram)


def shingle_tokens(toks_df: DataFrame, ngram: int = 3) -> DataFrame:
    """(doc_id, shingles, set_size) from a (doc_id, toks) frame whose
    token column is ALREADY materialized — the barrier
    ``shingle_docs`` documents. Callers that hold such a frame for
    other consumers too (the curation batch feeds both the dedup and
    the excision) shingle from it directly instead of tokenizing and
    checkpointing a second time."""
    return toks_df.select(
        "doc_id",
        word_shingles(F.col("toks"), ngram).alias("shingles"),
    ).select(
        "doc_id",
        "shingles",
        F.size("shingles").cast("int").alias("set_size"),
    )


def overlap_pairs(
    shingled: DataFrame,
    stop_shingle_df: int | None = None,
) -> DataFrame:
    """The exact set-overlap core shared by ``jaccard_pairs`` and
    ``containment_pairs``: candidate pairs share >= 1 shingle;
    returns (doc_a, doc_b, size_a, size_b, common) with doc_a <
    doc_b and ``common`` the EXACT full-set intersection size.

    ``stop_shingle_df`` is the skew guard: shingles shared by more
    than that many docs are excluded from the candidate-generating
    self-join (one near-universal shingle otherwise becomes a single
    join key carrying ~n docs -> O(n²) pairs through one reducer).
    Verification stays EXACT: hot shingles are re-counted per
    candidate pair via per-doc hot-shingle arrays
    (``array_intersect``), so ``common`` is the true full-set value
    and the only approximation is candidacy itself — a pair is
    missed only if it shares NO sub-threshold shingle. The distinct
    hot-shingle set is tiny by construction (≤ total shingle
    occurrences / cap), so it broadcasts, and the per-doc hot arrays
    are short."""
    ex = shingled.select(
        "doc_id", "set_size", F.explode("shingles").alias("shingle")
    )
    # both sides of the self-join read this subtree; without
    # materialization Spark computes the tokenize+shingle pipeline
    # twice (and, with the cap, four times). localCheckpoint instead
    # of persist(): the blocks are owned by the RDD, so they are freed
    # by the ContextCleaner when the result DataFrame is dropped —
    # persist() would pin the plan in the CacheManager for the session
    # lifetime (cache leak in long-running jobs).
    ex = ex.localCheckpoint(eager=True)
    hot_sets = None
    if stop_shingle_df is not None:
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > stop_shingle_df)
            .select("shingle")
        )
        hot_sets = (
            ex.join(F.broadcast(hot), "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("_hot"))
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        F.col("set_size").alias("size_a"),
        "shingle",
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("set_size").alias("size_b"),
        "shingle",
    )
    # the candidate self-join: force sort-merge. Neither side ever
    # "fits" at scale (both are the full exploded corpus), so the
    # stats-driven broadcast the planner picks on a fixture-sized
    # corpus is the wrong shape twice over: the build is a serial
    # single-thread hash-relation job over every exploded row, and at
    # fleet size it is an executor OOM. With SMJ the two sides are
    # canonically identical projections of the same checkpointed
    # frame, so exchange reuse ships ONE shuffle write read twice
    # (guide §3: pick the strategy deliberately).
    pairs = (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    if hot_sets is not None:
        # exact verification: add back the hot-shingle overlap per
        # candidate pair. The join keys are candidate doc ids (already
        # bounded by the cold-candidate count) and the arrays are the
        # doc's own hot subset — short by the hot-set bound above.
        empty = F.array().cast("array<string>")
        pairs = (
            pairs.join(
                hot_sets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("_hot").alias("_hot_a"),
                ),
                "doc_a",
                "left",
            )
            .join(
                hot_sets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("_hot").alias("_hot_b"),
                ),
                "doc_b",
                "left",
            )
            .withColumn(
                "common",
                F.col("common")
                + F.size(
                    F.array_intersect(
                        F.coalesce("_hot_a", empty),
                        F.coalesce("_hot_b", empty),
                    )
                ),
            )
        )
    return pairs.select("doc_a", "doc_b", "size_a", "size_b", "common")


def jaccard_pairs(
    shingled: DataFrame,
    threshold_pct: int = 50,
    stop_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs with exact n-gram Jaccard >= threshold_pct / 100.

    Thin wrapper over ``overlap_pairs``: the similarity test is the
    integer inequality ``common * 100 >= pct * union`` (no floats, so
    the DuckDB oracle reproduces it bit-for-bit). Returns
    (doc_a, doc_b, common, union_size)."""
    pairs = overlap_pairs(shingled, stop_shingle_df=stop_shingle_df)
    union = F.col("size_a") + F.col("size_b") - F.col("common")
    return pairs.filter(
        F.col("common") * 100 >= F.lit(threshold_pct) * union
    ).select("doc_a", "doc_b", "common", union.alias("union_size"))


def containment_pairs(
    shingled: DataFrame,
    threshold_pct: int = 80,
    stop_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs where the SMALLER shingle set is >= threshold_pct
    contained in the other: ``common * 100 >= pct * least(size_a,
    size_b)``. Catches short-in-long near-containment (a boilerplate
    page embedded in a larger document) that symmetric Jaccard
    misses: a 50-shingle doc fully contained in a 5000-shingle doc
    has Jaccard ~1% but containment 100%. Same exact core and skew
    cap as ``jaccard_pairs``; integer-only test so the oracle
    matches exactly. Returns (doc_a, doc_b, common, min_size)."""
    pairs = overlap_pairs(shingled, stop_shingle_df=stop_shingle_df)
    min_size = F.least(F.col("size_a"), F.col("size_b"))
    return pairs.filter(
        (min_size > 0)
        & (F.col("common") * 100 >= F.lit(threshold_pct) * min_size)
    ).select("doc_a", "doc_b", "common", min_size.alias("min_size"))


def containment_survivors(
    shingled: DataFrame,
    threshold_pct: int = 80,
    stop_shingle_df: int | None = None,
) -> DataFrame:
    """The cleaned-corpus half of containment dedup: docs that
    survive after dropping the CONTAINED side of every qualifying
    pair. Containment is asymmetric, so the survivorship rule is not
    ``keep_min_id`` (which drops the larger doc_id regardless of
    role): the contained fragment is the SMALLER shingle set — that
    side drops, the parent survives. On a size tie either doc is "the
    fragment"; the larger doc_id drops (doc_a < doc_b by
    construction, so ties drop doc_b — deterministic and
    oracle-reproducible). Chained containment (A ⊂ B ⊂ C) resolves
    per-pair in one pass: A and B both drop, C survives — no
    iteration, because "is contained somewhere" is a property of the
    doc, not of the cluster.

    One extra narrow shuffle beyond ``overlap_pairs``: the distinct
    drop-ids (bounded by the qualifying-pair count) anti-join the
    doc-grain input on doc_id. Returns (doc_id, set_size)."""
    pairs = overlap_pairs(shingled, stop_shingle_df=stop_shingle_df)
    min_size = F.least(F.col("size_a"), F.col("size_b"))
    qualifying = pairs.filter(
        (min_size > 0)
        & (F.col("common") * 100 >= F.lit(threshold_pct) * min_size)
    )
    dropped = qualifying.select(
        F.when(F.col("size_a") < F.col("size_b"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    return shingled.select("doc_id", "set_size").join(
        dropped, "doc_id", "left_anti"
    )


def keep_min_id(df: DataFrame, pairs: DataFrame,
                id_col: str = "doc_id") -> DataFrame:
    """Drop every doc that is similar to a smaller-id doc.

    The dropped-id set is eagerly materialized before the anti-join
    (ids only — narrow, bounded by the corpus drop count) for two
    reasons, both measured on q22 (2.63 -> 2.19 s at sf0.1):
    (1) the corpus side is typically a UNION, and Catalyst pushes the
    anti-join below it, re-planning the whole pair-generation subtree
    once per branch — runtime exchange reuse dedupes most of that,
    but each branch still pays its own join machinery; (2) a lazy
    ``dropped`` has no usable size estimate, so the planner takes a
    SortMergeJoin LeftAnti and exchanges+sorts the full corpus by id.
    With real stats from the checkpoint the join is STATS-DRIVEN:
    a fixture/batch-sized dropped set broadcasts (corpus never
    shuffles), while a fleet-size dropped set exceeds the broadcast
    threshold and keeps the SMJ shape — adaptive at both ends, never
    a forced broadcast of an unbounded side (the C6 OOM shape)."""
    dropped = pairs.select(
        F.col("doc_b").alias(id_col)
    ).distinct().localCheckpoint(eager=True)
    return df.join(dropped, id_col, "left_anti")


def minhash_signatures(
    shingled: DataFrame,
    num_perm: int = MINHASH_PERMS,
    hash_mode: str = "rank",
) -> DataFrame:
    """(doc_id, set_size, shingles, sig array<long>[num_perm]).

    ``rank``: dictionary-encode shingles (portable, oracle-able).
    ``sha2``: portable content hash (first 60 bits of sha256, mod P)
    — no vocabulary pass at all, and also oracle-able: DuckDB's
    ``sha256`` produces the same digest. The hash runs once per
    (doc, shingle) row on the exploded side, where whole-stage
    codegen and subexpression elimination apply (HOF lambdas are
    interpreted and would recompute it per permutation), and the
    per-perm minima aggregate with map-side combine so the shuffle
    carries ``num_perm`` longs per doc instead of the shingle set.
    ``xxhash64``: hash shingle strings directly (no vocab join — the
    fastest path; values are Spark-local)."""
    coeffs = _minhash_coeffs(num_perm)
    if hash_mode == "sha2":
        # ONE narrow Arrow pass: per doc, sha256-hash the shingles
        # (hashlib — byte-identical to JVM sha2 + first-15-hex-digit
        # parse) and take the 16 affine minima with a vectorized
        # (n_shingles x num_perm) int64 modmul. Replaces the previous
        # explode -> 16-min groupBy -> rejoin shape: same numbers,
        # zero shuffle (the groupBy's map-side combine still paid a
        # 16-longs-per-doc exchange and a doc-keyed join back).
        # int64-safe: h < 2^31, a <= 2·num_perm+1, so a·h+b < 2^37.
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.asarray([a for a, _ in coeffs], dtype=np.int64)
        B = np.asarray([b for _, b in coeffs], dtype=np.int64)
        sentinel = [HASH_P] * len(coeffs)
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("set_size", T.IntegerType()),
                T.StructField("shingles", T.ArrayType(T.StringType())),
                T.StructField("sig", T.ArrayType(T.LongType())),
            ]
        )

        def sign(batches):
            for pdf in batches:
                sigs = []
                for shingles in pdf["shingles"]:
                    if len(shingles) == 0:
                        sigs.append(sentinel)  # empty set sentinel
                        continue
                    hs = np.fromiter(
                        (
                            int(
                                hashlib.sha256(s.encode()).hexdigest()[
                                    :15
                                ],
                                16,
                            )
                            % HASH_P
                            for s in shingles
                        ),
                        dtype=np.int64,
                        count=len(shingles),
                    )
                    sigs.append(
                        (
                            (hs[:, None] * A[None, :] + B[None, :])
                            % HASH_P
                        )
                        .min(axis=0)
                        .tolist()
                    )
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "set_size": pdf["set_size"],
                        "shingles": pdf["shingles"],
                        "sig": sigs,
                    }
                )

        return shingled.select(
            "doc_id", "set_size", "shingles"
        ).mapInPandas(sign, schema=out_schema)
    if hash_mode == "xxhash64":
        enc = shingled.withColumn(
            "ranks",
            F.transform(
                "shingles", lambda s: F.pmod(F.xxhash64(s), F.lit(HASH_P))
            ),
        )
    elif hash_mode == "rank":
        # read 3x below (vocab, explode, rejoin) — persist once
        shingled = shingled.localCheckpoint(eager=True)
        vocab = vocab_ranks(
            shingled.select(F.explode("shingles").alias("token"))
        )
        ex = shingled.select(
            "doc_id", F.explode("shingles").alias("token")
        ).join(vocab, "token")
        enc = (
            ex.groupBy("doc_id")
            .agg(F.collect_list("rank").alias("ranks"))
            .join(shingled, "doc_id")
        )
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode}")
    def _hasher(a: int, b: int):
        # closure factory (a default-arg lambda breaks PySpark's
        # higher-order-function arity check)
        return lambda r: affine_hash(r, a, b)

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform("ranks", _hasher(a, b))),
                F.lit(HASH_P),  # empty shingle set -> sentinel signature
            )
            for a, b in coeffs
        ]
    )
    return enc.select("doc_id", "set_size", "shingles", sig.alias("sig"))


def _banded(signed: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, slice): the signature cut into ``bands`` slices."""
    rows = num_perm // bands
    return signed.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("sig", i * rows + 1, rows)
                    for i in range(bands)
                ]
            )
        ).alias("band", "slice"),
    )


def _capped_source(banded: DataFrame, cap: int) -> DataFrame:
    """The candidate-SOURCE side of the band self-join under the
    hot-bucket width cap: rank docs inside each (band, slice) bucket
    by id and keep the ``cap`` smallest as (doc_a, band, slice). ONE
    definition of the rank rule — ``minhash_lsh_pairs`` runs it and
    ``lsh_band_stats`` measures it, so the diagnostic can never
    desynchronize from the dedup, and the q108 oracle mirrors exactly
    this (row_number PARTITION BY bucket ORDER BY doc_id, rk <= cap)."""
    from pyspark.sql.window import Window

    rk = F.row_number().over(
        Window.partitionBy("band", "slice").orderBy("doc_id")
    )
    return (
        banded.withColumn("_rk", rk)
        .filter(F.col("_rk") <= cap)
        .select(F.col("doc_id").alias("doc_a"), "band", "slice")
    )


def minhash_lsh_pairs(
    signed: DataFrame,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    threshold_pct: int = 50,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Band the signature, self-join on (band, slice), verify
    candidates with EXACT Jaccard over the full shingle sets (so LSH
    can only lose pairs, never invent them).

    The self-join carries ONLY (doc_id, band, slice): the shingle
    arrays would otherwise be replicated ``bands`` times through the
    band-explode shuffle and hashed again by the candidate distinct.
    Pairs are deduped as narrow (doc_a, doc_b) rows first, then each
    side's shingles attach with one doc-keyed join against the
    persisted signatures (3x faster end-to-end, and at 100 TB the
    wide-row shuffle it removes is the dominant cost).

    ``max_bucket_width`` is the hot-BUCKET skew guard (the band
    analogue of ``jaccard_pairs``'s ``stop_shingle_df``): a band
    bucket of width m generates m(m-1)/2 candidate pairs through ONE
    join key, so a mega-cluster of near-identical docs (boilerplate,
    templated pages) turns the band join quadratic in the cluster
    size. With the cap, docs inside a bucket rank by id and only the
    ``max_bucket_width`` smallest-id members serve as the doc_a
    (candidate-source) side — per-bucket pairs drop to <= m*cap,
    linear in m. Whenever EVERY bucket's width <= cap the output is
    bit-identical to uncapped (each doc_a then has rank <= m <= cap,
    so all pairs are generated); in an over-cap bucket each doc is
    still paired with the cap smallest ids, which is exactly what the
    min-id survivor rule consumes — a member of a true-duplicate
    mega-bucket verifies against the bucket's minimum id. What a cap
    CAN lose is a pair whose two docs only ever co-occur beyond rank
    cap in every shared bucket while NOT being near-dups of the
    bucket heads — acceptable for survivorship. The cap is opt-in so
    the uncapped reference (q22) stays byte-stable, but the
    measurement says USE IT at scale: on the prefix-corpus workload
    max bucket width grows ~linearly with the corpus (16/93/831 at
    sf0.1/1/10) and uncapped candidates/doc ~10x per decade, while
    the capped path stays bounded (SCALING_r6.md; q108)."""
    signed = signed.localCheckpoint(eager=True)  # banded self-join + two shingle joins; GC-owned
    banded = _banded(signed, num_perm, bands)
    if max_bucket_width is not None:
        a = _capped_source(banded, max_bucket_width)
    else:
        a = banded.select(F.col("doc_id").alias("doc_a"), "band", "slice")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "slice")
    # band-bucket self-join: force sort-merge (same rationale as
    # overlap_pairs' candidate join — both sides are the banded
    # corpus, so the fixture-scale stats-driven broadcast is a serial
    # single-thread build here and an OOM at fleet size; the uncapped
    # sides are canonically identical projections, one shuffle)
    cand = (
        a.join(b.hint("merge"), ["band", "slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .join(
            signed.select(
                F.col("doc_id").alias("doc_a"),
                F.col("set_size").alias("size_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            signed.select(
                F.col("doc_id").alias("doc_b"),
                F.col("set_size").alias("size_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "doc_b",
        )
    )
    # Exact-Jaccard verification as an Arrow kernel: python set
    # intersection per candidate pair (C-level set ops) instead of
    # the interpreted array_intersect expression — q22 end-to-end
    # measured 5.4 -> 4.6 s at sf1 (84k candidates). Semantics identical:
    # shingle arrays are distinct per doc, common = |A ∩ B|,
    # union > 0 guards the empty-empty sentinel band-match, and the
    # threshold is the same integer cross-multiply.
    import pandas as pd

    out_schema = (
        "doc_a long, doc_b long, common long, union_size long"
    )

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            common = [
                len(set(a_) & set(b_))
                for a_, b_ in zip(pdf["sh_a"], pdf["sh_b"])
            ]
            out = pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "common": common,
                }
            )
            out["union_size"] = (
                pdf["size_a"].to_numpy()
                + pdf["size_b"].to_numpy()
                - out["common"]
            )
            keep = (out["union_size"] > 0) & (
                out["common"] * 100
                >= threshold_pct * out["union_size"]
            )
            yield out[keep]

    return cand.mapInPandas(verify, schema=out_schema)


# On-disk schemas of the band index directories (``write_band_index``),
# declared on every read so none launches a schema-inference job.
_DOCS_SCHEMA = (
    "doc_id long, set_size int, shingles array<string>, sig array<long>"
)
_BANDS_SCHEMA = "doc_id long, slice array<long>, band int"
_META_SCHEMA = "num_perm int, bands int"


def write_band_index(
    index_shingled: DataFrame,
    path: str,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
) -> None:
    """Materialize the MinHash band index AT REST — the persistence
    path the r9 verdict asked for: until this existed, every
    increment re-signed the standing corpus inline (an O(corpus)
    sha256 × num_perm pass per day); with it, a daily increment
    reads band keys and shingle sets that were written ONCE, so
    per-increment cost is O(|batch| · bucket width) + one streamed,
    column-pruned probe of the docs table — never a corpus re-sign
    (the reference's watermark discipline, etl-dag.sql:33-46:
    touch only new rows).

    Layout under ``path``::

        docs/   (doc_id, set_size, shingles, sig)   — verify side
        bands/  band=<b>/ (doc_id, slice)           — candidate side

    ``bands/`` is partitioned on the band ordinal, so a band join
    prunes to its own files; ``sig`` is persisted so the index can
    be re-banded to a different band count without re-hashing
    shingles. Production variant: a lakehouse table bucketed on
    (band, slice) with doc_id-sorted row groups so the verify probe
    can skip pages — plain parquet keeps the same I/O shape minus
    page skipping. Empty-shingle docs are excluded by construction
    (see ``dedup_increment_against_index``: they can never drop or
    be dropped, and their sentinel signatures would form one
    corpus-wide hot bucket per band)."""
    from ..sources import writer

    signed = minhash_signatures(
        index_shingled.filter(F.col("set_size") > 0),
        num_perm,
        hash_mode="sha2",
    ).localCheckpoint(eager=True)
    # identity row committed LAST (complete index => meta present):
    # num_perm/bands are part of what the index IS — an append at a
    # different width would mix slice layouts in one bands/ directory
    # (the r11-advice failure class on the vector index, same cure).
    # JVM-born row (range+lit, not createDataFrame): a Python-local
    # relation costs ~4-5 s per write action (measured, r12). The
    # three directories are independent jobs reading the checkpointed
    # signed frame — staged concurrently (guide §2.6), committed in
    # order so every crash state matches the sequential writer's.
    # writer.sized: file count follows data size, not task count —
    # an unsized bootstrap landed 32 tiny files per directory (one
    # per shuffle partition), tripping the maintenance fragmentation
    # gate on a FRESH index and paying per-file commit/listing cost
    # on every write and probe (guide §6).
    writer.atomic_overwrite_all([
        (
            writer.sized(
                signed.select("doc_id", "set_size", "shingles", "sig")
            ),
            path.rstrip("/") + "/docs",
            None,
        ),
        (
            writer.sized(_banded(signed, num_perm, bands)),
            path.rstrip("/") + "/bands",
            ["band"],
        ),
        (
            index_shingled.sparkSession.range(1).select(
                F.lit(int(num_perm)).cast("int").alias("num_perm"),
                F.lit(int(bands)).cast("int").alias("bands"),
            ).coalesce(1),
            path.rstrip("/") + "/meta",
            None,
        ),
    ])


def append_band_index(
    signed_new: DataFrame,
    path: str,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
) -> None:
    """Append an ALREADY-SIGNED batch to the at-rest index — every
    seen doc, survivors AND dropped (the min-id shadow rule: a doc
    that was dropped as a near-dup still shadows future arrivals,
    exactly as it would in a wholesale q22 pass over the union).
    Caller MUST materialize anything computed FROM the index before
    appending (``dedup_increment_against_index`` holds its survivors
    on the driver): a lazy plan re-executed after the append would
    see the batch on its own index side and self-match every doc
    into the dropped set. ``signed_new`` feeds two writes, so hand
    in a materialized frame (the increment passes its driver-held
    batch) or accept that each write re-signs it.

    The index's identity row (``meta/``) is checked on every append:
    ``write_band_index`` commits it last, so an index without it is
    incomplete and the read fails instead of appending to it.

    Append-safety: a duplicate append (retry after a crash between
    the two writes) changes results NOWHERE — candidates and the
    dropped set are deduplicated downstream — so the two appends
    need no cross-directory transaction, only idempotent re-runs."""
    from ..sources import writer

    meta = (
        signed_new.sparkSession.read.schema(_META_SCHEMA)
        .parquet(path.rstrip("/") + "/meta")
        .collect()[0]
    )
    if (meta["num_perm"], meta["bands"]) != (num_perm, bands):
        raise ValueError(
            f"band index at {path} was written with num_perm="
            f"{meta['num_perm']}, bands={meta['bands']}; append "
            f"called with num_perm={num_perm}, bands={bands}: "
            "signature width and band split are part of the "
            "index's identity — re-band via the persisted sig "
            "(docs/) or rebuild, never mix slice layouts."
        )
    # concurrent jobs (guide §2.6): the duplicate-append contract
    # above already tolerates a crash leaving either directory
    # appended without the other — replays re-append both.
    writer.append_all([
        (
            writer.sized(
                signed_new.select("doc_id", "set_size", "shingles", "sig")
            ),
            path.rstrip("/") + "/docs",
            None,
        ),
        (
            writer.sized(_banded(signed_new, num_perm, bands)),
            path.rstrip("/") + "/bands",
            ["band"],
        ),
    ])


def read_band_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame]:
    """(docs, bands) frames of an at-rest index written by
    ``write_band_index`` / ``append_band_index``. The docs scan is
    column-pruned by downstream selects (the band join never touches
    ``shingles``; the verify probe never touches ``sig``). Both reads
    declare their schemas, so neither launches a schema-inference
    job."""
    p = path.rstrip("/")
    return (
        spark.read.schema(_DOCS_SCHEMA).parquet(p + "/docs"),
        spark.read.schema(_BANDS_SCHEMA).parquet(p + "/bands"),
    )


def _band_key_sql(band: str, slice_: str) -> str:
    """SQL of the 64-bit hash of a (band, slice) bucket key — one
    spelling for the batch side (computed in the signing job) and the
    filter over ``bands/``, so equal keys hash equal."""
    return f"xxhash64({band}, {slice_})"


def ints_in(expr: str, values) -> Column:
    """``<expr> IN (values)`` for integer values, as ONE parsed SQL
    expression. ``Column.isin`` builds one JVM literal per value, a
    Py4J round trip each (measured ~0.3 s for ~500 ids, local
    session on 4 vCPU);
    the SQL text crosses once, and the optimizer turns the list into
    the same hash-set ``InSet``. An empty list is ``false``."""
    values = sorted({int(v) for v in values})
    if not values:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(map(str, values))})")


def dedup_increment_against_index(
    new_shingled: DataFrame,
    path: str,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    threshold_pct: int = 50,
    append: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against the at-rest band index
    (``write_band_index``) and, with ``append``, add the batch to the
    index so the next increment sees it — the production shape of
    MinHash dedup at fleet size, where the corpus is never re-deduped
    wholesale: per-increment work is signing the batch (O(|batch|)),
    one scan of ``bands/`` for candidates and one id-pruned scan of
    ``docs/`` for the verify, never an O(corpus) re-sign (the
    reference's watermark discipline, etl-dag.sql:33-46: touch only
    new rows). Returns surviving batch docs as (doc_id, set_size), a
    driver-held local relation: collecting it launches no job.

    A new doc drops when exact Jaccard >= threshold against (a) ANY
    indexed doc — the index is the established corpus, it always
    wins — or (b) a SMALLER-id doc within the same batch (the q22
    min-id survivor rule applied intra-batch, so a duplicate pair
    arriving together resolves deterministically). Candidates come
    from band-key equality (new x index, new x new); verification is
    the exact full-set intersection, so banding can only lose pairs,
    never invent them. Signatures are per-doc and engine-deterministic
    (``minhash_signatures`` sha2 mode), so signing the batch apart
    from the index is bit-identical to signing their union.

    Replay-safe for at-least-once callers (the curation DAG, the
    streaming ``foreachBatch`` handler): after a crash between
    "batch appended to the index" and "offsets/ledger committed",
    the replayed batch's docs are ON the index side, so the index
    side excludes the batch's own doc_ids, restoring exactly the
    pre-append index: a replay is bit-identical to the first run.
    The same exclusion means a batch that reuses a doc_id already in
    the index is not dropped against that indexed doc — ids are
    keys, and a reused id reads as a replay of it. The re-append then
    duplicates the batch's index rows, which ``append_band_index``
    documents as result-neutral; duplicate-tolerant re-append is
    REQUIRED, not just tolerated: skipping "already present" docs
    would break on a crash that wrote ``docs/`` but not ``bands/``.
    Single-writer assumption: batch N+1 only runs after batch N
    commits, so the exclusion never races a sibling append.

    Empty-shingle docs never band: the sentinel signature
    ``[HASH_P]*num_perm`` would put EVERY empty doc into one band
    bucket — a corpus-wide hot key whose candidates the exact verify
    always discards (``union > 0`` never holds for an empty-vs-empty
    pair, and a sentinel slice never equals a real one because every
    real minimum is ``< HASH_P``). Empty batch docs pass through as
    survivors unconditionally.

    Join shape at scale: ONE driver-held copy of the signed batch.
    The batch is signed and collected in one job (ids, set sizes,
    shingle sets, signatures and the 64-bit hash of each band key),
    and every batch-side operand comes from that copy, so no
    batch-side frame is ever broadcast (a broadcast is a Spark job of
    its own). The index side is scanned once per directory and never
    shuffles: ``bands/`` streams through a literal hash filter on the
    batch's band keys (|batch| · bands values), and ``docs/`` is
    pruned by a literal filter on the candidate ids; both return only
    matching rows. The exact key test, the batch-id exclusion, the
    new x new candidates and every Jaccard verify run on the driver,
    and the append writes the copy as a local relation. The job count
    therefore does not grow with the index: sign, ``bands/``,
    ``docs/`` (skipped without index candidates), and with
    ``append`` the ``meta/`` check plus two writes. Driver bound: the
    batch plus the candidate set (O(|batch| · bucket width) pairs and
    the shingle sets of their index docs) — increment-sized by
    contract, and no more than a broadcast of the batch side would
    pull through the driver. Every index read is collected before
    the append, so nothing returned can lazily re-read files the
    append grows (the footgun named on ``append_band_index``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = new_shingled.sparkSession
    # the one batch-side job: sign (the sha2 kernel), hash each band
    # key the way the bands/ filter will, and collect
    r = num_perm // bands
    batch = minhash_signatures(
        new_shingled, num_perm, hash_mode="sha2"
    ).withColumn(
        "_bkeys",
        F.array(*[
            F.expr(_band_key_sql(str(b), f"slice(sig, {b * r + 1}, {r})"))
            for b in range(bands)
        ]),
    ).toArrow()
    signed = batch.filter(pc.greater(batch["set_size"], 0))

    def rows_by_id(t) -> dict[int, list]:
        # doc_id -> [(shingle set, set size)], one entry per row
        out: dict[int, list] = {}
        for d, n, sh in zip(
            t["doc_id"].to_pylist(),
            t["set_size"].to_pylist(),
            t["shingles"].to_pylist(),
        ):
            out.setdefault(d, []).append((set(sh), n))
        return out

    rows_of = rows_by_id(signed)
    # (band, *slice) -> batch ids in that bucket; _banded's layout
    keys: dict[tuple, set[int]] = {}
    for d, sig in zip(
        signed["doc_id"].to_pylist(), signed["sig"].to_pylist()
    ):
        for band in range(bands):
            keys.setdefault(
                (band, *sig[band * r:(band + 1) * r]), set()
            ).add(d)

    def similar(a: tuple, b: tuple) -> bool:
        common = len(a[0] & b[0])
        union = a[1] + b[1] - common
        return union > 0 and common * 100 >= threshold_pct * union

    dropped: set[int] = set()

    def drop_similar(pairs, match_rows) -> None:
        # exact Jaccard per (new_id, match_id) candidate; a dropped
        # doc needs no further verify
        for new_id, match_id in pairs:
            if new_id not in dropped and any(
                similar(a, b)
                for a in rows_of[new_id]
                for b in match_rows(match_id)
            ):
                dropped.add(new_id)

    # new x new, on the driver: the smaller id wins
    drop_similar(
        (
            (new_id, match_id)
            for bucket in keys.values()
            for new_id in bucket
            for match_id in bucket
            if match_id < new_id
        ),
        rows_of.__getitem__,
    )
    if keys:
        idx_docs, idx_bands = read_band_index(spark, path)
        # new x index: the hash filter streams bands/, the exact key
        # test and the batch-id exclusion (replay safety) run here
        hits = idx_bands.filter(
            ints_in(
                _band_key_sql("band", "slice"),
                {h for hs in signed["_bkeys"].to_pylist() for h in hs},
            )
        ).select("doc_id", "band", "slice").toArrow()
        cand = {
            (new_id, d)
            for d, band, sl in zip(
                hits["doc_id"].to_pylist(),
                hits["band"].to_pylist(),
                hits["slice"].to_pylist(),
            )
            if d not in rows_of
            for new_id in keys.get((band, *sl), ())
            # dropped batch docs need no index rows fetched
            if new_id not in dropped
        }
        if cand:
            found = idx_docs.filter(
                ints_in("doc_id", {m for _, m in cand})
            ).select("doc_id", "set_size", "shingles").toArrow()
            index_rows = rows_by_id(found)
            drop_similar(cand, lambda m: index_rows.get(m, ()))
    keep = pc.invert(pc.is_in(signed["doc_id"], pa.array(
        sorted(dropped), pa.int64()
    )))
    survivors = pa.concat_tables([
        signed.filter(keep).select(["doc_id", "set_size"]),
        batch.filter(pc.equal(batch["set_size"], 0)).select(
            ["doc_id", "set_size"]
        ),
    ])
    if append and keys:  # an all-empty batch has nothing to index
        append_band_index(
            spark.createDataFrame(signed.drop_columns(["_bkeys"])),
            path, num_perm, bands,
        )
    return spark.createDataFrame(survivors)


def lsh_band_stats(
    signed: DataFrame,
    num_perm: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    max_bucket_width: int | None = None,
) -> dict[str, float]:
    """Scale diagnostics for the LSH candidate generator — the
    numbers that decide whether the band join stays linear in the
    corpus (VERDICT r5 #1: q22's sf10 ratio was argued from
    construction; this measures it):

    - ``n_docs``, ``n_buckets``
    - ``max_bucket_width`` — the widest (band, slice) bucket; a width
      that grows with the corpus means some bucket contributes
      quadratically many candidate pairs and ``max_bucket_width``
      capping is required
    - ``generated_pairs`` — sum over buckets of C(width, 2): the raw
      join output the band join must materialize (counts a pair once
      per shared band)
    - ``candidate_pairs`` — distinct (doc_a, doc_b) pairs entering
      exact verification
    - ``candidates_per_doc`` — candidate_pairs / n_docs: the
      linearity signal; flat across scale factors = linear total cost

    Driver-side scalar pulls only (three aggregate collects); the
    heavy lifting is the same band join the dedup itself runs."""
    signed = signed.localCheckpoint(eager=True)
    banded = _banded(signed, num_perm, bands)
    n_docs = signed.count()
    widths = banded.groupBy("band", "slice").agg(
        F.count(F.lit(1)).alias("w")
    )
    row = widths.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("w").alias("max_w"),
        F.sum(F.col("w") * (F.col("w") - F.lit(1))).alias("gen2"),
    ).collect()[0]
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "slice")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "slice")
    cand = (
        a.join(b, ["band", "slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    out = {
        "n_docs": int(n_docs),
        "n_buckets": int(row["n_buckets"]),
        "max_bucket_width": int(row["max_w"] or 0),
        "generated_pairs": int((row["gen2"] or 0) // 2),
        "candidate_pairs": int(cand),
        "candidates_per_doc": round(cand / max(1, n_docs), 4),
    }
    if max_bucket_width is not None:
        capped = (
            _capped_source(banded, max_bucket_width)
            .join(b, ["band", "slice"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .count()
        )
        out["capped_candidate_pairs"] = int(capped)
        out["capped_candidates_per_doc"] = round(
            capped / max(1, n_docs), 4
        )
    return out


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    a: int = 1_103_515_245,
    b: int = 12_345,
) -> DataFrame:
    """Per-doc SimHash over distinct word unigrams: token rank ->
    affine hash; fingerprint bit j = 1 iff more token hashes have bit
    j set than clear (tie -> 0). One explode + vocab join + groupBy."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(tokens(F.col(text_col)))
        ).alias("token"),
    )
    vocab = vocab_ranks(toks)
    hashed = toks.join(vocab, "token").select(
        "doc_id", affine_hash(F.col("rank"), a, b).alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j) % 2 == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
    return agg.select("doc_id", fp.alias("fingerprint"))


def simhash_pairs(
    fps: DataFrame,
    max_hamming: int = SIMHASH_BANDS - 1,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
) -> DataFrame:
    """Pairs within ``max_hamming`` bit flips. Pigeonhole banding:
    with bands > max_hamming, a qualifying pair matches exactly on at
    least one band — candidate generation is lossless."""
    width = bits // bands
    mask = (1 << width) - 1
    banded = fps.select(
        "doc_id",
        "fingerprint",
        F.posexplode(
            F.array(
                *[
                    (
                        F.shiftright("fingerprint", i * width)
                        .bitwiseAND(F.lit(mask))
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "key"),
    ).localCheckpoint(eager=True)  # self-joined below — avoid recomputing fingerprints; GC-owned
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("fingerprint").alias("fp_a"),
        "band",
        "key",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fingerprint").alias("fp_b"),
        "band",
        "key",
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # banded self-join: sort-merge, not stats-driven broadcast (see
    # overlap_pairs — both sides are the banded corpus)
    return (
        a.join(b.hint("merge"), ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicated_spans(
    toks_df: DataFrame,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cross-corpus duplicated-substring spans (ExactSubstr dedup,
    Lee et al. 2021, arXiv:2107.06499): a token position ``pos`` in a
    document is *duplicated* when the ``k``-token gram starting there
    occurs at least ``min_count`` times in the whole corpus (any doc,
    including the same one). Overlapping/adjacent duplicated grams
    merge into maximal spans (gap > ``k`` starts a new span).

    Input: ``(doc_id, toks)`` with ``toks`` a materialized token
    array (see ``text.tokens``). Output per doc that has >= 1
    duplicated gram: ``n_dup_grams`` (duplicated positions),
    ``n_spans`` (maximal merged spans), ``dup_tokens`` (tokens
    covered by the union of the ``[pos, pos+k)`` intervals) — all
    exact integers.

    Scale shape: the counting shuffle carries ``(xxhash64(gram))``
    only — never gram text; hashes seen >= ``min_count`` times are a
    tiny set (dup density), so the join back is AQE-broadcast, and
    the *exact* re-count by gram string (the q21/jaccard discipline:
    prefilter by hash, verify exact) only ever touches candidate
    rows. Span merge is a lag/sum window partitioned by ``doc_id`` —
    no single-partition stage anywhere. At 100 TB the gram explode
    is the dominant cost and is O(total tokens), the same bound as
    the suffix-array construction it replaces — and it runs ONCE:
    ``g`` feeds both the hash count and the candidate join, so it is
    localCheckpointed (the shingled-table discipline of
    ``jaccard_pairs``/``minhash_lsh_pairs``). The checkpoint carries
    (doc_id, pos, hash) only — gram TEXT is re-derived for the
    dup-density-bounded candidate rows by slicing the token arrays
    (measured tradeoff: SCALING_r8.md); the candidate-gram table
    likewise feeds the exact re-count and the position extraction.
    """
    spans = duplicated_span_intervals(toks_df, k, min_count)
    return spans.groupBy("doc_id").agg(
        F.sum("npos").cast("long").alias("n_dup_grams"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("p1") - F.col("p0") + k).cast("long").alias(
            "dup_tokens"
        ),
    )


def duplicated_span_intervals(
    toks_df: DataFrame,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """The span kernel behind ``duplicated_spans``, exposed at
    interval grain: one row per maximal duplicated span —
    (``doc_id``, ``p0``, ``p1``, ``npos``) with the span covering
    token positions ``[p0, p1 + k)``. ``duplicated_spans``
    aggregates these to per-doc stats; ``excise`` consumers remove
    exactly these intervals (Lee et al. 2021 drop the duplicated
    bytes, not the document). Scale shape documented on
    ``duplicated_spans``."""
    # the corpus-grain checkpoint carries (doc_id, pos, h) ONLY —
    # never gram text (~24 B/row vs ~k x corpus bytes). Gram text for
    # the exact re-count is re-derived for CANDIDATE rows only by
    # slicing the token arrays. Measured at sf1/sf10 (SCALING_r8.md):
    # bit-identical output, 1.5x less
    # checkpoint storage AND faster wall (10.7 -> 6.8 s sf1,
    # 18.5 -> 17.2 s sf10) than checkpointing the gram-text explode.
    g = toks_df.select(
        "doc_id",
        F.posexplode(
            ngram_occurrences(F.col("toks"), k)
        ).alias("pos", "gram"),
    ).select(
        "doc_id", "pos", F.xxhash64("gram").alias("h")
    ).localCheckpoint(eager=True)  # hot_h agg + cand probe; GC-owned
    hot_h = (
        g.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    cand = g.join(hot_h, "h").select("doc_id", "pos")
    # candidate-only gram re-derivation: doc-keyed join back to the
    # token arrays, slice [pos, pos+k) (slice is 1-indexed). Must
    # format grams exactly as ngram_occurrences does (concat_ws " ")
    # or the exact re-count diverges.
    cand_g = cand.join(toks_df, "doc_id").select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("pos") + 1, k)
        ).alias("gram"),
    ).localCheckpoint(
        eager=True
    )  # exact re-count + position extraction; GC-owned
    dup_gram = (
        cand_g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)  # exact re-count, no hash trust
        .select("gram")
    )
    pos_df = cand_g.join(dup_gram, "gram").select("doc_id", "pos")
    return _merge_islands(pos_df, k)


def _merge_islands(pos_df: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos) -> maximal spans (doc_id, p0, p1, npos): two
    flagged gram starts belong to one span while their gap is <= k
    (their covered ranges [pos, pos+k) touch or overlap). Shared by
    the within-corpus and the eval-decontamination span kernels so
    the merge rule can never diverge between them."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = pos_df.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
    ).withColumn("island", F.sum("brk").over(w))
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("p0"),
        F.max("pos").alias("p1"),
        F.count(F.lit(1)).alias("npos"),
    ).select("doc_id", "p0", "p1", "npos")


def excise_spans(
    toks_df: DataFrame,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr dedup as a TRANSFORM (Lee et al. 2021 drop the
    duplicated bytes, not the document): removes every token covered
    by a maximal duplicated span (``duplicated_span_intervals``) and
    returns (``doc_id``, ``n_tokens``, ``n_kept``, ``toks_clean``).
    Docs without spans pass through unchanged.

    Scale shape: spans collapse to ONE short array per affected doc
    (dup-density-bounded), joined back doc-keyed; removal itself is
    a narrow indexed-lambda ``filter`` over the token array — no
    corpus-grain position explode, no reassembly shuffle. Maximal
    spans never overlap (islands are separated by gram-start gaps
    > k, so covered ranges ``[p0, p1+k)`` are disjoint), making the
    per-token span test a short ``exists``."""
    spans = duplicated_span_intervals(toks_df, k, min_count)
    return _apply_spans(toks_df, spans, k)


def _apply_spans(
    toks_df: DataFrame, spans: DataFrame, k: int
) -> DataFrame:
    """Remove every token covered by a span [p0, p1 + k) and return
    (doc_id, n_tokens, n_kept, toks_clean). Shared by the
    within-corpus excision and the eval-decontamination excision —
    spans collapse to one short array per affected doc, joined back
    doc-keyed, and removal is a narrow indexed-lambda filter."""
    span_arr = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("p0", "p1"))
        ).alias("_spans")
    )
    joined = toks_df.join(span_arr, "doc_id", "left")
    toks = F.col("toks")
    spans_col = F.col("_spans")
    covered = lambda i: F.exists(  # noqa: E731
        spans_col,
        lambda s: (s["p0"] <= i) & (i < s["p1"] + F.lit(k)),
    )
    cleaned = F.when(
        spans_col.isNull(), toks
    ).otherwise(
        F.filter(toks, lambda t, i: ~covered(i))
    )
    return joined.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(cleaned).cast("long").alias("n_kept"),
        cleaned.alias("toks_clean"),
    )


# bound on the broadcast eval gram set (distinct k-gram strings):
# ~5M grams x ~60 B ~ 300 MB worst case — generous for any real
# eval suite, far below executor memory, and enforced with a loud
# raise (the q122/q123 eval-budget discipline at span grain)
EVAL_GRAM_BUDGET = 5_000_000


def eval_gram_set(
    eval_toks: DataFrame,
    k: int = 8,
    max_eval_grams: int = EVAL_GRAM_BUDGET,
) -> DataFrame:
    """The eval side of span decontamination: the DISTINCT k-gram
    strings of the eval suite (``gram``), bounded by
    ``max_eval_grams`` with a loud raise and held on the driver as a
    local relation. Build it once per eval suite — a DAG that
    decontaminates every pass against a fixed suite builds it at
    construction (``plans/curation.CurationDag``) — and hand it to
    ``excise_against_eval_grams``.

    Driver-held, not checkpointed: the broadcast in the span join
    pulls the gram set through the driver on every use anyway, so
    the driver bound is the one the budget already sets, and the
    frame carries its rows in the plan — no executor block to lose,
    so a long-lived holder needs no recompute-on-loss story. One
    bounded pull (``limit``) both materializes it and runs the
    budget check; an over-budget suite stops at ``max_eval_grams``
    + 1 rows."""
    # NO .filter(size(toks) >= k) here: ngram_occurrences already
    # returns [] for short docs (explode drops them — same rows out),
    # and the filter is an anti-optimization — Catalyst pushes a
    # predicate on a DERIVED column below the corpus-widening
    # exchange, re-inlining the full tokenize into the scan-stage
    # filter, where it is evaluated a second time (and serially, the
    # scan being single-split at fixture scale) — the guide §4.4
    # duplicated-evaluation trap in JVM-expression form. Plan-proven
    # (plans/r13/q127 before/after: the scan Filter loses its
    # split(lower(text)) term); fixture walls move within the host
    # noise (q127 pooled-median -9%, q131 a wash over 6 interleaved
    # A/B rounds) — the removed duplicate is the scale argument, not
    # a fixture headline.
    grams = (
        eval_toks.select(
            F.explode(
                ngram_occurrences(F.col("toks"), k)
            ).alias("gram")
        )
        .distinct()
        .limit(max_eval_grams + 1)
        .toArrow()
    )
    if grams.num_rows > max_eval_grams:
        raise ValueError(
            f"eval side exceeds the broadcast budget of "
            f"{max_eval_grams} distinct {k}-grams: the eval suite "
            "must be bounded by construction, not a "
            "corpus-proportional split — shrink the eval selection "
            "or raise max_eval_grams deliberately"
        )
    return eval_toks.sparkSession.createDataFrame(grams)


def contaminated_span_intervals(
    train_toks: DataFrame,
    eval_toks: DataFrame,
    k: int = 8,
    max_eval_grams: int = EVAL_GRAM_BUDGET,
) -> DataFrame:
    """Span-grain eval decontamination (the ExactSubstr machinery
    pointed at a REFERENCE set): one row per maximal span of a
    training doc whose every k-gram appears verbatim in SOME eval
    doc — (doc_id, p0, p1, npos), span covering [p0, p1 + k). The
    doc-level decontaminators (exact q62, fuzzy q119, semantic
    q122/q123) decide keep-or-drop; this one finds WHERE the leak
    sits so the excision transform can cut the quoted eval passage
    and keep the rest of the document.

    Scale shape: the eval side collapses to its DISTINCT k-gram
    strings — bounded by the eval suite's size BY CONTRACT, enforced
    against ``max_eval_grams`` with a loud raise (the q122/q123
    broadcast-budget discipline, ``eval_gram_set``) — and
    broadcasts; the training corpus streams through ONE gram explode
    + broadcast semi-join (map-side, no shuffle of gram text), and
    only the HITS (leak-density-bounded) reach the island merge.
    Matching is exact string equality on the gram, so there is no
    hash round-trip to verify."""
    return _spans_against_grams(
        train_toks, eval_gram_set(eval_toks, k, max_eval_grams), k
    )


def _spans_against_grams(
    train_toks: DataFrame, grams: DataFrame, k: int
) -> DataFrame:
    g = train_toks.select(
        "doc_id",
        F.posexplode(
            ngram_occurrences(F.col("toks"), k)
        ).alias("pos", "gram"),
    )
    pos_df = g.join(F.broadcast(grams), "gram", "left_semi").select(
        "doc_id", "pos"
    )
    return _merge_islands(pos_df, k)


def excise_contaminated_spans(
    train_toks: DataFrame,
    eval_toks: DataFrame,
    k: int = 8,
    max_eval_grams: int = EVAL_GRAM_BUDGET,
) -> DataFrame:
    """The transform half of ``contaminated_span_intervals`` (the
    q120 pattern at the eval boundary): remove every training-doc
    token covered by a contaminated span, keep the rest of the
    document. Returns (doc_id, n_tokens, n_kept, toks_clean)."""
    return excise_against_eval_grams(
        train_toks, eval_gram_set(eval_toks, k, max_eval_grams), k
    )


def excise_against_eval_grams(
    train_toks: DataFrame, grams: DataFrame, k: int = 8
) -> DataFrame:
    """``excise_contaminated_spans`` against a prebuilt
    ``eval_gram_set`` — the one excision path; lazy, so building it
    launches no job."""
    return _apply_spans(
        train_toks, _spans_against_grams(train_toks, grams, k), k
    )
