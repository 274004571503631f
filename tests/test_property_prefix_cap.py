"""Property tests for ngram_jaccard_pairs' prefix-token document-frequency cap
(operators/dedup.py:_prefix_candidates, VERDICT r6 item #4): a corpus-wide
boilerplate header must not turn the PPJoin prefix self-join quadratic, and the
cap must not lose genuinely near-duplicate pairs (the recall contract: a pair
is missed only if EVERY shared prefix shingle is corpus-boilerplate)."""

from __future__ import annotations

import pytest

from parqueryd_spark.operators.dedup import (
    _hashed_shingle_arrays,
    _prefix_candidates,
    ngram_jaccard_pairs,
)

N_DOCS = 1200
HEADER = " ".join(f"boiler{i}" for i in range(40))


@pytest.fixture(scope="module")
def boiler_corpus(spark):
    # every doc: the same 40-token header + a 60-token tail unique to the doc
    rows = [
        (i, HEADER + " " + " ".join(f"u{i}w{j}" for j in range(60)))
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_bounds_candidates_linear_on_shared_header(spark, boiler_corpus):
    """Uncapped, the shared header makes every doc pair a candidate (~n^2/2);
    with the df cap the count collapses to O(n). Measured: 719,400 uncapped vs
    2,415 at cap=100 for n=1200."""
    base = _hashed_shingle_arrays(boiler_corpus, "doc_id", "text", 3)
    capped = _prefix_candidates(base, 0.8, max_prefix_df=100).count()
    assert capped <= 5 * N_DOCS, f"capped candidates {capped} not O(n)"
    uncapped = _prefix_candidates(base, 0.8, max_prefix_df=None).count()
    assert uncapped >= 0.9 * N_DOCS * (N_DOCS - 1) / 2  # the blowup the cap kills


def test_cap_preserves_boilerplate_only_pair_set(spark, boiler_corpus):
    """Docs similar ONLY through boilerplate are below threshold either way:
    capped and exact runs agree (both empty here)."""
    capped = ngram_jaccard_pairs(
        boiler_corpus, "doc_id", "text", threshold=0.8, max_prefix_df=100
    ).collect()
    exact = ngram_jaccard_pairs(
        boiler_corpus, "doc_id", "text", threshold=0.8, max_prefix_df=None
    ).collect()
    assert capped == [] and exact == []


def test_cap_keeps_true_near_dup_pairs(spark):
    """True near-dups share pair-specific shingles (df=2, far below any cap),
    so their prefixes keep discriminative tokens and the pair survives the
    cap — even when every doc also carries the corpus-wide header."""
    rows = []
    for i in range(500):
        rows.append((2 * i, HEADER + " " + " ".join(f"u{i}w{j}" for j in range(60))))
        rows.append(
            (2 * i + 1, HEADER + " " + " ".join(f"u{i}w{j}" for j in range(60)) + " extra")
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.8, max_prefix_df=100
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.8, max_prefix_df=None
        ).collect()
    }
    want = {(2 * i, 2 * i + 1) for i in range(500)}
    assert capped == exact == want
