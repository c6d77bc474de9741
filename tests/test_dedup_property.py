"""Property tests (hypothesis) for the MinHash-LSH hot-bucket cap:
for ANY corpus of planted clone clusters plus unique docs, and any
cap,

1. capped candidate pairs are a SUBSET of uncapped pairs (the cap
   only removes candidacy, never invents a pair), so capped
   survivors are a SUPERSET of uncapped survivors;
2. with cap >= the widest band bucket, capped == uncapped
   BIT-FOR-BIT (every doc's bucket rank is within the cap).

These are the two laws the q108 oracle relies on; the fixed-corpus
tests in test_dedup_skew.py pin exact counts, this pins the laws on
arbitrary cluster layouts."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from samba_tv_ingest_etl_spark.operators import dedup as D


@st.composite
def corpora(draw):
    """Clone clusters of drawn sizes + singleton background docs.
    Texts are generated (never drawn) so Spark work stays bounded."""
    sizes = draw(
        st.lists(
            st.integers(min_value=1, max_value=12),
            min_size=1, max_size=4,
        )
    )
    n_bg = draw(st.integers(min_value=0, max_value=5))
    cap = draw(st.integers(min_value=1, max_value=15))
    rows, next_id = [], 0
    for c, size in enumerate(sizes):
        body = " ".join(f"cl{c}w{j} word" for j in range(12))
        for _ in range(size):
            rows.append((next_id, body))
            next_id += 1
    for i in range(n_bg):
        rows.append(
            (next_id, " ".join(f"bg{i}x{j}" for j in range(15)))
        )
        next_id += 1
    return rows, cap


@settings(max_examples=8, deadline=None)
@given(corpora())
def test_cap_laws(spark, case):
    rows, cap = case
    df = spark.createDataFrame(rows, "doc_id long, text string")
    signed = D.minhash_signatures(
        D.shingle_docs(df), hash_mode="sha2"
    ).localCheckpoint(eager=True)
    un = {tuple(r) for r in D.minhash_lsh_pairs(signed).collect()}
    capped = {
        tuple(r)
        for r in D.minhash_lsh_pairs(
            signed, max_bucket_width=cap
        ).collect()
    }
    # law 1: the cap only removes candidacy
    assert capped <= un
    dropped_un = {b for _, b, _, _ in un}
    dropped_cap = {b for _, b, _, _ in capped}
    assert dropped_cap <= dropped_un  # survivors grow monotonically
    # law 2: cap >= widest bucket -> identical output
    width = D.lsh_band_stats(signed)["max_bucket_width"]
    if cap >= width:
        assert capped == un
    full = {
        tuple(r)
        for r in D.minhash_lsh_pairs(
            signed, max_bucket_width=width
        ).collect()
    }
    assert full == un


# ---------------------------------------------------- span dedup laws


def _spans_reference(docs: dict[int, list[str]], k: int):
    """Independent Python reference for duplicated_spans: gram
    multiset over the whole corpus, duplicated positions, interval
    merge with gap > k starting a new span."""
    from collections import Counter

    grams = Counter()
    for toks in docs.values():
        for i in range(max(len(toks) - k + 1, 0)):
            grams[" ".join(toks[i:i + k])] += 1
    out = {}
    for doc_id, toks in docs.items():
        pos = [
            i
            for i in range(max(len(toks) - k + 1, 0))
            if grams[" ".join(toks[i:i + k])] >= 2
        ]
        if not pos:
            continue
        spans = []
        start = prev = pos[0]
        for p in pos[1:]:
            if p - prev > k:
                spans.append((start, prev))
                start = p
            prev = p
        spans.append((start, prev))
        out[doc_id] = (
            len(pos),
            len(spans),
            sum(p1 - p0 + k for p0, p1 in spans),
        )
    return out


@st.composite
def token_corpora(draw):
    """Small-vocabulary token lists — collisions and overlapping
    duplicated windows arise naturally."""
    vocab = [f"w{i}" for i in range(draw(st.integers(4, 8)))]
    n_docs = draw(st.integers(2, 5))
    docs = {}
    for d in range(n_docs):
        docs[d] = draw(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=18)
        )
    k = draw(st.integers(2, 4))
    return docs, k


@settings(max_examples=8, deadline=None)
@given(token_corpora())
def test_duplicated_spans_matches_reference(spark, case):
    docs, k = case
    want = _spans_reference(docs, k)
    toks = spark.createDataFrame(
        list(docs.items()), "doc_id long, toks array<string>"
    )
    got = {
        r["doc_id"]: (r["n_dup_grams"], r["n_spans"], r["dup_tokens"])
        for r in D.duplicated_spans(toks, k=k).collect()
    }
    assert got == want


# ---------------------------------------------------------------
# span-excision law: the Spark kernel (gram explode -> island merge
# -> indexed-lambda filter) must agree with a direct Python
# reference on ANY token layout — quote at the start/middle/end,
# overlapping quotes, repeated quotes, docs shorter than k


def _ref_excise(doc_toks: list[str], eval_grams: set[tuple], k: int):
    """Brute-force reference: flag every position whose k-gram is an
    eval gram, merge flagged positions into islands (gap > k breaks),
    drop tokens covered by [p0, p1 + k)."""
    pos = [
        i
        for i in range(max(0, len(doc_toks) - k + 1))
        if tuple(doc_toks[i:i + k]) in eval_grams
    ]
    covered = set()
    if pos:
        start = prev = pos[0]
        for p in pos[1:] + [None]:
            if p is None or p - prev > k:
                covered.update(range(start, prev + k))
                start = p
            prev = p if p is not None else prev
    return [t for i, t in enumerate(doc_toks) if i not in covered]


@st.composite
def decon_cases(draw):
    """Eval doc of 8-16 tokens; training docs built by interleaving
    original tokens with 0-2 quoted eval windows of length >= k."""
    k = 4
    ev = [f"e{j}" for j in range(draw(st.integers(8, 16)))]
    docs = []
    for d in range(draw(st.integers(1, 3))):
        own = [f"d{d}w{j}" for j in range(draw(st.integers(0, 10)))]
        toks = list(own)
        for q in range(draw(st.integers(0, 2))):
            at = draw(st.integers(0, len(toks)))
            qstart = draw(st.integers(0, len(ev) - k))
            qlen = draw(st.integers(k, len(ev) - qstart))
            toks = toks[:at] + ev[qstart:qstart + qlen] + toks[at:]
        docs.append((d, toks))
    return k, ev, docs


@settings(max_examples=10, deadline=None)
@given(decon_cases())
def test_eval_span_excision_matches_reference(spark, case):
    k, ev, docs = case
    eval_grams = {
        tuple(ev[i:i + k]) for i in range(len(ev) - k + 1)
    }
    train = spark.createDataFrame(
        docs, "doc_id long, toks array<string>"
    )
    evals = spark.createDataFrame([(0, ev)], ["doc_id", "toks"])
    got = {
        r["doc_id"]: list(r["toks_clean"])
        for r in D.excise_contaminated_spans(train, evals, k=k).collect()
    }
    for doc_id, toks in docs:
        assert got[doc_id] == _ref_excise(toks, eval_grams, k), (
            doc_id, toks,
        )
