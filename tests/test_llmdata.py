"""Operator-level tests for the LLM-data surface (dedup, similarity,
text) on hand-built fixtures — the oracle parity suite
covers the same operators end-to-end on the driver corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from samba_tv_ingest_etl_spark.operators import dedup as D
from samba_tv_ingest_etl_spark.operators import similarity as S
from samba_tv_ingest_etl_spark.operators import text as X

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river"),  # ~prefix of 1
    (3, "completely different text about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "tiny"),  # < 3 tokens -> empty shingle set
    (6, "mini"),  # < 3 tokens -> empty shingle set
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["n_copies"] for r in D.exact_dedup(docs).collect()}
    assert out[1] == 2 and 4 not in out
    assert out[2] == 1 and out[3] == 1 and out[5] == 1


def test_jaccard_pairs_and_survivors(spark, docs):
    sh = D.shingle_docs(docs)
    pairs = D.jaccard_pairs(sh, threshold_pct=50)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert not any(3 in p for p in got)
    kept = {
        r["doc_id"]
        for r in D.keep_min_id(docs.select("doc_id"), pairs).collect()
    }
    assert kept == {1, 3, 5, 6}  # 2 and 4 dropped to 1


def test_containment_catches_short_in_long(spark):
    """A short fragment fully contained in a long doc: Jaccard is
    far below 50 (invisible to jaccard_pairs) but containment of the
    smaller set is 100%."""
    long_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    frag = "alpha beta gamma delta epsilon"  # 3 shingles, all in long
    df = spark.createDataFrame(
        [(1, long_text), (2, frag), (3, "unrelated words entirely here")],
        ["doc_id", "text"],
    )
    sh = D.shingle_docs(df)
    jac = {(r["doc_a"], r["doc_b"])
           for r in D.jaccard_pairs(sh, threshold_pct=50).collect()}
    assert (1, 2) not in jac
    cont = {(r["doc_a"], r["doc_b"]): (r["common"], r["min_size"])
            for r in D.containment_pairs(sh, threshold_pct=80).collect()}
    assert cont == {(1, 2): (3, 3)}  # 100% containment, nothing else


def test_containment_respects_skew_cap(spark, docs):
    """The shared overlap_pairs core applies the hot-shingle cap to
    containment_pairs too, with the documented semantics: a pair is
    missed ONLY if every shared shingle is hot (candidacy loss), and
    any surviving pair's common is still the EXACT full-set value.
    Docs 1/2/4 share their prefix shingles (df=3, hot at cap 2); only
    1 and 4 also share the df=2 'river bank' tail, so only (1,4)
    survives — with common re-counted over hot shingles too."""
    sh = D.shingle_docs(docs)
    base = {(r["doc_a"], r["doc_b"]): (r["common"], r["min_size"])
            for r in D.containment_pairs(sh, 80).collect()}
    assert {(1, 2), (1, 4), (2, 4)} <= set(base)
    capped = {(r["doc_a"], r["doc_b"]): (r["common"], r["min_size"])
              for r in D.containment_pairs(sh, 80, stop_shingle_df=2).collect()}
    assert capped == {(1, 4): base[(1, 4)]}  # exact common preserved


def test_minhash_catches_what_jaccard_finds(spark, docs):
    """At these similarities (1.0 and ~0.9) the 4x4 banding must
    recover every true pair; empty-shingle docs (5,6) must NOT pair
    despite sharing the sentinel signature."""
    sh = D.shingle_docs(docs)
    for mode in ("rank", "xxhash64"):
        signed = D.minhash_signatures(sh, hash_mode=mode)
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in D.minhash_lsh_pairs(signed, threshold_pct=50).collect()
        }
        assert {(1, 2), (1, 4), (2, 4)} <= pairs, mode
        assert (5, 6) not in pairs, mode


def test_semantic_contamination_matches(spark):
    """Planted leak: corpus vector 100 is a scaled copy of eval
    vector 0 (cosine is scale-invariant -> exactly 1.0); corpus 101
    is orthogonal to both eval vectors and must not match. Argmax
    tie-break: corpus 102 matches eval 0 and eval 97 equally ->
    smallest eval_id wins."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # eval (0 % 97 == 0)
        (97, [0.0, 1.0, 0.0, 0.0]),    # eval
        (100, [0.5, 0.0, 0.0, 0.0]),   # scaled copy of eval 0
        (101, [0.0, 0.0, 1.0, 0.0]),   # orthogonal
        (102, [1.0, 1.0, 0.0, 0.0]),   # equidistant from both evals
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = S.quantize(df)
    out = {
        r["vec_id"]: (r["eval_id"], r["cos_scaled"])
        for r in S.contamination_matches(
            q.filter(F.col("vec_id") % 97 != 0),
            q.filter(F.col("vec_id") % 97 == 0),
            threshold_pct=35,
        ).collect()
    }
    assert out[100] == (0, 1_000_000)  # exact cosine 1.0
    assert 101 not in out
    assert out[102][0] == 0  # tie broken to the smaller eval_id


def test_semantic_contamination_lsh_banding(spark):
    """An exact planted copy shares EVERY hyperplane band with its
    eval source, so OR-amplified banding must recover it with the
    same (eval_id, cos_scaled) the brute-force path returns; a pair
    sharing multiple bands must still emit one row (the argmax is
    duplicate-proof, no dedup pass)."""
    rows = [
        (0, [1.0, 0.2, 0.0, 0.3]),
        (97, [0.0, 1.0, 0.4, 0.0]),
        (100, [0.5, 0.1, 0.0, 0.15]),  # scaled copy of eval 0
        (101, [-1.0, 0.0, 0.0, 0.0]),  # anti-parallel: dot < 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = S.quantize(df)
    corpus = q.filter(F.col("vec_id") % 97 != 0)
    ev = q.filter(F.col("vec_id") % 97 == 0)
    brute = {
        r["vec_id"]: (r["eval_id"], r["cos_scaled"])
        for r in S.contamination_matches(corpus, ev, 35).collect()
    }
    lsh = {
        r["vec_id"]: (r["eval_id"], r["cos_scaled"])
        for r in S.contamination_matches_lsh(
            corpus, ev, 35, planes=8, bands=4, dim=4
        ).collect()
    }
    assert brute[100] == (0, 1_000_000)
    assert lsh[100] == brute[100]  # all bands shared -> found once
    assert 101 not in brute and 101 not in lsh


def test_containment_survivors_drops_contained_side(spark):
    """Asymmetric survivorship: the SMALLER shingle set of a
    qualifying pair drops regardless of id order (a keep_min_id rule
    would wrongly keep the fragment when the fragment has the lower
    id); size ties drop the larger doc_id; chains resolve in one
    pass (fragment-of-fragment: both fragments drop, root parent
    survives); unrelated docs survive untouched."""
    docs = spark.createDataFrame(
        [
            # 0 = prefix fragment of parent 1 with a LOWER id than
            # the parent (the keep_min_id trap: a min-id rule would
            # keep the fragment and drop the parent)
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # 2/3: exact same text -> size tie -> larger id (3) drops
            (2, "iota kappa lambda mu nu"),
            (3, "iota kappa lambda mu nu"),
            # 4: unrelated
            (4, "omicron pi rho sigma tau upsilon"),
        ],
        ["doc_id", "text"],
    )
    sh = D.shingle_docs(docs, ngram=3)
    out = {
        r["doc_id"] for r in D.containment_survivors(
            sh, threshold_pct=80
        ).collect()
    }
    assert out == {1, 2, 4}


def test_eval_span_excision(spark):
    """A training doc quoting >= k consecutive eval tokens comes back
    with exactly the quoted span cut and everything else kept; docs
    with no leak pass through; an eval side over the gram budget
    raises loudly."""
    ev_toks = [f"e{i}" for i in range(12)]
    own = [f"w{i}" for i in range(10)]
    evals = spark.createDataFrame([(0, ev_toks)], ["doc_id", "toks"])
    train = spark.createDataFrame(
        [
            (1, own + ev_toks[:9]),   # quotes 9 eval tokens (k=8)
            (2, own),                 # clean
            (3, ev_toks[2:11]),       # is ENTIRELY a quote -> emptied
        ],
        ["doc_id", "toks"],
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["toks_clean"])
        for r in D.excise_contaminated_spans(train, evals, k=8).collect()
    }
    assert out[1] == (19, 10, own)    # quote cut, original kept
    assert out[2] == (10, 10, own)    # untouched
    assert out[3][1] == 0             # fully excised, doc retained
    with pytest.raises(ValueError, match="gram"):
        D.excise_contaminated_spans(train, evals, k=8, max_eval_grams=2)


def test_incremental_minhash_survivors(spark, tmp_path):
    """Incremental dedup contract: (a) a new doc near-dupping an
    INDEXED doc drops no matter the ids; (b) an intra-batch dup pair
    resolves by min-id (smaller survives, larger drops) even with no
    index match; (c) empty-shingle docs share the sentinel signature
    but must never pair (union > 0 guard); (d) a genuinely new doc
    survives. The index is written at rest and the batch runs
    through the one batch-vs-index increment."""
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota"
    text_b = "kappa lambda mu nu xi omicron pi rho sigma"
    idx = spark.createDataFrame(
        [(1, text_a), (2, "tau upsilon phi chi psi omega alef bet")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, text_a),       # dup of indexed 1 -> drops
            (101, text_b),       # intra-batch dup, smaller id -> survives
            (102, text_b),       # intra-batch dup, larger id -> drops
            (103, "gimel dalet he vav zayin het tet yod"),  # novel
            (104, "x"),          # empty shingle set (under ngram)
            (105, "y"),          # empty shingle set
        ],
        ["doc_id", "text"],
    )
    sh = lambda d: D.shingle_docs(d, ngram=3)  # noqa: E731
    path = str(tmp_path / "band_index")
    D.write_band_index(sh(idx), path)
    out = {
        r["doc_id"]
        for r in D.dedup_increment_against_index(
            sh(new), path, threshold_pct=50, append=False
        ).collect()
    }
    assert out == {101, 103, 104, 105}


def test_contamination_eval_budget_guard(spark):
    """Broadcast-budget contract (r8 verdict): an eval side larger
    than max_eval_rows must raise LOUDLY before any broadcast plan
    is built — both the exact and the LSH path — and a bounded eval
    side must be unaffected by the guard's presence."""
    rows = [(i, [1.0, float(i % 3), 0.0, 0.5]) for i in range(30)]
    q = S.quantize(spark.createDataFrame(rows, ["vec_id", "embedding"]))
    corpus = q.filter(F.col("vec_id") >= 10)
    ev = q.filter(F.col("vec_id") < 10)  # 10 rows
    with pytest.raises(ValueError, match="broadcast budget"):
        S.contamination_matches(corpus, ev, 35, max_eval_rows=5)
    with pytest.raises(ValueError, match="broadcast budget"):
        S.contamination_matches_lsh(
            corpus, ev, 35, planes=8, bands=4, dim=4, max_eval_rows=5
        )
    # at or under budget: identical rows to an effectively-unbounded
    # budget (the guard never changes results, only failure mode)
    tight = sorted(
        map(tuple, S.contamination_matches(
            corpus, ev, 35, max_eval_rows=10
        ).collect())
    )
    loose = sorted(
        map(tuple, S.contamination_matches(
            corpus, ev, 35, max_eval_rows=1_000_000
        ).collect())
    )
    assert tight == loose and tight


def test_lsh_band_split_must_divide(spark):
    """planes % bands != 0 silently dropped the top signature bits
    (r8 advice) — now it raises."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    q = S.quantize(spark.createDataFrame(rows, ["vec_id", "embedding"]))
    with pytest.raises(ValueError, match="not divisible"):
        S.contamination_matches_lsh(q, q, 35, planes=8, bands=3, dim=4)


def test_simhash_exact_dups_zero_hamming(spark, docs):
    fps = D.simhash_fingerprints(docs)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_pairs(fps).collect()
    }
    assert pairs[(1, 4)] == 0


def test_lsh_topk_is_bucket_restricted_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.quantize(emb).filter(F.col("norm2") > 0).cache()
    queries = q.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["cand_id"]): r["cos_scaled"]
        for r in S.topk_bruteforce(q, queries, k=20).collect()
    }
    lsh = S.topk_lsh(q, queries, k=20).collect()
    assert lsh, "LSH returned nothing — buckets degenerate"
    # scores agree with brute force wherever the candidate was ranked,
    # and LSH never invents a better-than-bruteforce hit
    for r in lsh:
        key = (r["query_id"], r["cand_id"])
        if key in brute:
            assert brute[key] == r["cos_scaled"]
    q.unpersist()


def test_ivf_topk_recall_and_exactness(spark):
    """IVF candidates score identically to brute force, the trained
    index is deterministic across runs, and nprobe=k (probe all
    centroids) degenerates to exact brute-force top-k."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.quantize(emb).filter(F.col("norm2") > 0).cache()
    queries = q.filter(F.col("vec_id") < 5)
    brute = {
        (r["query_id"], r["cand_id"]): r["cos_scaled"]
        for r in S.topk_bruteforce(q, queries, k=10).collect()
    }
    ivf = S.topk_ivf(q, queries, k=10, n_centroids=4, nprobe=2).collect()
    assert ivf, "IVF returned nothing — clusters degenerate"
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        if key in brute:
            assert brute[key] == r["cos_scaled"]
    # training determinism: identical centroids on a re-run
    c1 = S.kmeans_centroids(q, k=4, iters=2)
    c2 = S.kmeans_centroids(q, k=4, iters=2)
    assert c1 == c2
    # probing every centroid recovers the exact answer
    full = {
        (r["query_id"], r["cand_id"]): (r["rank"], r["cos_scaled"])
        for r in S.topk_ivf(
            q, queries, k=10, n_centroids=4, nprobe=4
        ).collect()
    }
    exact = {
        (r["query_id"], r["cand_id"]): (r["rank"], r["cos_scaled"])
        for r in S.topk_bruteforce(q, queries, k=10).collect()
    }
    assert full == exact
    q.unpersist()


def test_quantized_cosine_symmetry(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = S.quantize(emb)
    row = q.filter(F.col("norm2") > 0).limit(1).collect()[0]
    # self-cosine of any vector is exactly 1.0 -> scaled 1_000_000
    one = spark.createDataFrame([row], q.schema)
    out = S.cosine_pairs(
        one.unionByName(
            one.select(
                (F.col("vec_id") + 1).alias("vec_id"), "q", "norm2"
            )
        ),
        threshold_pct=99,
    ).collect()
    assert len(out) == 1 and out[0]["cos_scaled"] == 1_000_000


def test_language_id_on_clear_text(spark):
    rows = [
        (1, "the cat and the dog went to the house of the king"),
        (2, "der Hund ist nicht mit der Katze auf das Haus"),
        (3, "el perro y la casa de los gatos por la noche"),
        (4, "le chien est dans la maison pour les chats"),
        (5, "这是一段中文文本"),
        (6, "zzz qqq www"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"] for r in X.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "zh", 6: "und"}


def test_token_stats_bpe_estimate(spark):
    docs = spark.createDataFrame(
        [
            (1, "hi supercalifragilistic a"),  # 2+5+1 pieces @4 chars
            (2, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (
            r["n_tokens"], r["bpe_est_tokens"], r["chars_per_token_ppm"]
        )
        for r in X.token_stats(docs).collect()
    }
    # lens: hi=2 (1 piece), supercalifragilistic=20 (5), a=1 (1)
    assert out[1] == (3, 7, int(23 * 1_000_000 / 3))
    assert out[2] == (0, 0, 0)


def test_semdedup_drops_subset_of_allpairs(spark):
    """Every SemDeDup drop must be witnessed by a full all-pairs
    near-dup edge (q76 prunes WITHIN clusters, so its evidence is a
    subset of q24's corpus-wide pair list) with the same max cosine."""
    from samba_tv_ingest_etl_spark import queries as Q
    from .conftest import SF_DIR

    reg = Q.registry()
    drops = {
        (r["vec_id"], r["max_cos_scaled"])
        for r in reg["q76_semdedup_drops"](spark, SF_DIR).collect()
    }
    assert drops, "fixture produced no semantic dups — vacuous test"
    pair_best: dict[int, int] = {}
    for r in reg["q24_embedding_neardup_pairs"](spark, SF_DIR).collect():
        b = r["id_b"]
        pair_best[b] = max(pair_best.get(b, -1), r["cos_scaled"])
    for vec_id, max_cos in drops:
        assert vec_id in pair_best
        # the within-cluster witness can't beat the corpus-wide best
        assert max_cos <= pair_best[vec_id]


# ---------------------------------------------------------- repetition


def test_repetition_counts_kernel(spark):
    # hand-computable cases: (grams, expected_top, expected_dup)
    cases = [
        ([], 0, 0),                                   # empty
        (["a b"], 1, 0),                              # single gram
        (["a b", "c d", "e f"], 1, 0),                # all unique
        (["a b", "a b", "c d"], 2, 2),                # one pair
        (["a b", "a b", "a b"], 3, 3),                # one triple
        (["a b", "c d", "a b", "c d", "x y"], 2, 4),  # two pairs
    ]
    df = spark.createDataFrame(
        [(i, g) for i, (g, _, _) in enumerate(cases)],
        "i int, grams array<string>",
    )
    out = {
        r["i"]: (r["c"]["top"], r["c"]["dup"])
        for r in df.select(
            "i", X.repetition_counts(F.col("grams")).alias("c")
        ).collect()
    }
    for i, (_, top, dup) in enumerate(cases):
        assert out[i] == (top, dup), f"case {i}: {out[i]} != {(top, dup)}"


def test_ngram_occurrences_keeps_multiplicity(spark):
    df = spark.createDataFrame([(1, "a b a b a")], ["doc_id", "text"])
    toks = df.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    g2 = toks.select(
        X.ngram_occurrences(F.col("toks"), 2).alias("g")
    ).collect()[0]["g"]
    assert g2 == ["a b", "b a", "a b", "b a"]  # word_shingles would dedup
    g9 = toks.select(
        X.ngram_occurrences(F.col("toks"), 9).alias("g")
    ).collect()[0]["g"]
    assert g9 == []  # doc shorter than n -> empty, not null


def test_repetition_filters_drop_planted_loops(spark):
    from samba_tv_ingest_etl_spark.queries import registry

    from .conftest import SF_DIR_ORACLE

    out = registry()["q112_repetition_filters"](
        spark, SF_DIR_ORACLE
    ).collect()
    planted = [r for r in out if r["doc_id"] >= 300000]
    natural = [r for r in out if r["doc_id"] < 300000]
    assert planted, "expected planted loop docs in the corpus"
    # every planted loop doc trips the filters; natural corpus is clean
    assert all(not r["keep"] for r in planted)
    assert all(r["keep"] for r in natural)
    # planted docs are 5-token cycles repeated 12x: every trigram is
    # duplicated, so dup_trigram_n == n_trigrams
    assert all(
        r["dup_trigram_n"] == r["n_trigrams"] for r in planted
    )


# ---------------------------------------------------------- span dedup


def test_duplicated_spans_kernel(spark):
    from samba_tv_ingest_etl_spark.operators.dedup import duplicated_spans

    # k=3 hand corpus. Docs 1 and 2 share two windows ("a b c d" at
    # the head, "x y z" at the tail) separated by unique middles ->
    # two maximal spans each. Doc 3 is fully unique -> no row.
    rows = [
        (1, "a b c d m1 m2 m3 m4 x y z".split()),
        (2, "a b c d n1 n2 n3 n4 x y z".split()),
        (3, "p q r s t u v w".split()),
    ]
    toks = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    out = {
        r["doc_id"]: (r["n_dup_grams"], r["n_spans"], r["dup_tokens"])
        for r in duplicated_spans(toks, k=3).collect()
    }
    # shared 3-grams per doc: "a b c","b c d" (head) + "x y z" (tail)
    assert out[1] == (3, 2, 7)  # spans [0,4) + [8,11) -> 4+3 tokens
    assert out[2] == (3, 2, 7)
    assert 3 not in out


def test_duplicated_spans_adjacent_windows_merge(spark):
    from samba_tv_ingest_etl_spark.operators.dedup import duplicated_spans

    # doc 2 copies doc 1's tokens 0..5 AND 6..11 (adjacent in doc 1):
    # in doc 1 the duplicated grams tile the whole doc -> ONE span.
    d1 = "a b c d e f g h i j k l".split()
    rows = [
        (1, d1),
        (2, d1[0:6] + ["u1", "u2", "u3", "u4"] + d1[6:12]),
    ]
    toks = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    out = {
        r["doc_id"]: (r["n_spans"], r["dup_tokens"])
        for r in duplicated_spans(toks, k=3).collect()
    }
    # doc 1: dup gram starts {0..3, 6..9}; gap 6-3=3 == k -> merged,
    # one span [0, 12) covering all 12 tokens
    assert out[1] == (1, 12)
    # doc 2: copies at {0..3} and {10..13} -> gap 7 > k -> two spans
    assert out[2] == (2, 12)


def test_substring_span_dedup_chimeras(spark):
    from samba_tv_ingest_etl_spark.queries import registry

    from .conftest import SF_DIR_ORACLE

    out = registry()["q115_substring_span_dedup"](
        spark, SF_DIR_ORACLE
    ).collect()
    from samba_tv_ingest_etl_spark.queries.llmdata import _SPAN_OFFSET

    chimeras = [r for r in out if r["doc_id"] >= _SPAN_OFFSET]
    assert chimeras, "expected planted chimera docs"
    for r in chimeras:
        # two 12-token copied windows glued by 9 unique fillers
        assert r["n_tokens"] == 33
        assert r["n_spans"] == 2
        assert r["dup_tokens"] == 24
        assert not r["keep"]  # 24*2 > 33
    # every chimera's SOURCE doc has its two copied windows marked;
    # a source that is ALSO a natural full-copy dup shows one
    # whole-doc span instead (the chimera windows merge into it)
    by_id = {r["doc_id"]: r for r in out}
    two_span_sources = 0
    for r in chimeras:
        src = by_id[r["doc_id"] - _SPAN_OFFSET]
        assert src["dup_tokens"] >= 24
        if src["n_spans"] >= 2:
            two_span_sources += 1
            # 24 copied tokens of a >= 52-token doc: under 50%, kept
            assert src["keep"]
        else:
            # whole-doc natural dup swallowed the windows
            assert src["dup_tokens"] >= src["n_tokens"] - 1
    assert two_span_sources >= 1


# ---------------------------------------------------------- commonness


def test_commonness_buckets_terciles(spark):
    from samba_tv_ingest_etl_spark.queries import registry

    from .conftest import SF_DIR_ORACLE

    out = registry()["q116_commonness_buckets"](
        spark, SF_DIR_ORACLE
    ).collect()
    n = len(out)
    assert n > 0
    sizes = {b: 0 for b in (0, 1, 2)}
    for r in out:
        sizes[r["bucket"]] += 1
    # tercile sizes differ by at most 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n
    # bucket is monotone in (commonness, doc_id) order
    ordered = sorted(out, key=lambda r: (r["commonness"], r["doc_id"]))
    buckets = [r["bucket"] for r in ordered]
    assert buckets == sorted(buckets)
    # commonness is the exact integer surrogate
    for r in ordered[:20]:
        assert r["commonness"] == r["score_sum"] * 1000 // r["n_tokens"]


# ---------------------------------------------------------------- dsir


def test_dsir_sample_enriched_in_target_lang(spark):
    from samba_tv_ingest_etl_spark.queries import registry
    from samba_tv_ingest_etl_spark.queries.llmdata import (
        _DSIR_K,
        _DSIR_TARGET_LANG,
        _documents,
    )

    from .conftest import SF_DIR_ORACLE

    out = registry()["q117_dsir_importance_resample"](
        spark, SF_DIR_ORACLE
    ).collect()
    assert len(out) == _DSIR_K
    # ranks are 1..k in (priority, doc_id) order
    ordered = sorted(out, key=lambda r: (r["priority"], r["doc_id"]))
    assert [r["rank"] for r in ordered] == list(range(1, _DSIR_K + 1))
    # importance resampling toward the target distribution: the
    # sample's target-lang share must beat the corpus share
    docs = _documents(spark, SF_DIR_ORACLE).select("lang").collect()
    corpus_share = sum(
        1 for r in docs if r["lang"] == _DSIR_TARGET_LANG
    ) / len(docs)
    sample_share = sum(
        1 for r in out if r["lang"] == _DSIR_TARGET_LANG
    ) / len(out)
    assert sample_share > corpus_share
    # importance is bounded by the smoothing ceiling and positive
    for r in out:
        assert 1 <= r["importance"] <= 1_000_000


def test_hashed_linear_score_keep_passthrough(spark):
    from samba_tv_ingest_etl_spark.operators.text import (
        derived_weights,
        hashed_linear_score,
    )

    df = spark.createDataFrame(
        [(1, "en", "hello world"), (2, "de", "hallo welt")],
        "doc_id long, lang string, text string",
    )
    out = hashed_linear_score(
        df, "doc_id", "text", weights=derived_weights(16),
        keep=("lang",),
    )
    assert out.columns == [
        "doc_id", "lang", "n_tokens", "score_milli", "quality_pass"
    ]
    got = {r["doc_id"]: r["lang"] for r in out.collect()}
    assert got == {1: "en", 2: "de"}


# ------------------------------------------------------- dup matrix


def test_cross_source_dup_matrix_shapes(spark):
    from samba_tv_ingest_etl_spark.queries import registry

    from .conftest import SF_DIR_ORACLE

    out = registry()["q118_cross_source_dup_matrix"](
        spark, SF_DIR_ORACLE
    ).collect()
    assert out, "planted mirror corpus must produce matrix rows"
    mirror = [r for r in out if r["src_to"] == "mirror"]
    diag = [r for r in out if r["src_from"] == r["src_to"]]
    assert mirror, "cross-source mass (planted mirror copies) missing"
    assert diag, "within-source diagonal (planted self copies) missing"
    # 'mirror' never owns a group: planted copies have higher doc_id
    # than their originals, so first_value attribution never picks it
    assert all(r["src_from"] != "mirror" for r in out)
    for r in out:
        assert r["n_dup_docs"] >= 1 and r["dup_chars"] >= 1


def test_commonness_buckets_survive_empty_tokenizing_doc(
    spark, tmp_path
):
    """Regression pin for the tercile denominator: a doc that
    tokenizes to ZERO tokens (all punctuation) is excluded from the
    ranking in BOTH engines, and the bucket denominator must count
    the ranked set — docs.count() would shift every bucket."""
    import duckdb

    from samba_tv_ingest_etl_spark.queries import registry
    from samba_tv_ingest_etl_spark.queries.llmdata import _CMN_ORACLE

    rows = [
        (i, f"word{i % 7} common tok {'x' * (i % 3 + 1)}", "en",
         "src0", 20)
        for i in range(10)
    ] + [(99, "!!! ... ???", "en", "src0", 11)]  # tokenizes empty
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    out = registry()["q116_commonness_buckets"](spark, sf_dir)
    got = out.toPandas()
    assert 99 not in set(got["doc_id"])  # excluded, not bucket 0
    assert len(got) == 10
    sizes = got["bucket"].value_counts()
    assert sizes.max() - sizes.min() <= 1  # terciles over RANKED set

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = con.execute(_CMN_ORACLE).df()
    cols = sorted(got.columns)
    g = got[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
    w = want[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
    assert g.equals(w)


# ---------------------------------------------------------- excision


def test_excise_spans_kernel(spark):
    from samba_tv_ingest_etl_spark.operators.dedup import excise_spans

    # docs 1/2 share head ("a b c d") and tail ("x y z") windows at
    # k=3; doc 3 is untouched and must pass through verbatim
    rows = [
        (1, "a b c d m1 m2 m3 m4 x y z".split()),
        (2, "a b c d n1 n2 n3 n4 x y z".split()),
        (3, "p q r s t u v w".split()),
    ]
    toks = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    out = {r["doc_id"]: r for r in excise_spans(toks, k=3).collect()}
    # doc 1: spans [0,4) + [8,11) removed -> middle survives
    assert out[1]["toks_clean"] == ["m1", "m2", "m3", "m4"]
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (11, 4)
    assert out[2]["toks_clean"] == ["n1", "n2", "n3", "n4"]
    assert out[3]["toks_clean"] == rows[2][1]
    assert out[3]["n_kept"] == 8


def test_substring_span_excision_chimeras(spark):
    """q120 on the chimera corpus: every chimera keeps EXACTLY its 9
    unique filler tokens (both 12-token copied windows excised)."""
    from samba_tv_ingest_etl_spark.queries import registry
    from samba_tv_ingest_etl_spark.queries.llmdata import _SPAN_OFFSET

    from .conftest import SF_DIR_ORACLE

    out = registry()["q120_substring_span_excision"](
        spark, SF_DIR_ORACLE
    ).collect()
    chimeras = [r for r in out if r["doc_id"] >= _SPAN_OFFSET]
    assert chimeras
    for r in chimeras:
        src = r["doc_id"] - _SPAN_OFFSET
        want = " ".join(f"zq{src}x{i}" for i in range(1, 10))
        assert r["cleaned_text"] == want
        assert (r["n_tokens"], r["n_kept"]) == (33, 9)
    # conservation: kept tokens never exceed input tokens, and docs
    # without any duplicated span are byte-identical pass-throughs
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_tokens"]
        if r["n_kept"] == r["n_tokens"] and r["n_tokens"] > 0:
            assert len(r["cleaned_text"].split()) == r["n_tokens"]
