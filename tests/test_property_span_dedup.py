"""Property-based differential test of sub-document span dedup: on random
small-vocab corpora, the Spark keep-first plan (min(struct)+join-back) must
agree with a trivially-correct pure-Python walk — same surviving spans, same
rebuilt text, for any pattern of cross- and within-doc repeats."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from parqueryd_spark.operators.dedup import span_dedup

SPAN = 3
VOCAB = ["a", "b", "c"]  # tiny vocab forces heavy span collisions


def _py_span_dedup(docs: list[tuple[int, str]]) -> dict[int, tuple[int, int, str]]:
    seen: set[str] = set()
    out: dict[int, tuple[int, int, str]] = {}
    for doc_id, text in sorted(docs):
        toks = text.split(" ")
        spans = [
            " ".join(toks[i : i + SPAN]) for i in range(0, len(toks), SPAN)
        ] or [text]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[doc_id] = (len(spans), len(kept), " ".join(kept))
    return out


_doc = st.lists(st.sampled_from(VOCAB), min_size=1, max_size=10).map(" ".join)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc, min_size=1, max_size=8))
def test_span_dedup_matches_pure_python(spark, texts):
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    expect = _py_span_dedup(docs)
    # both rebuild plans (text-carrying regroup vs drop-list index filter)
    # must produce the identical answer
    for rebuild in ("carry", "droplist"):
        got = {
            r.doc: (r.n_spans, r.n_kept, r.dedup_text)
            for r in span_dedup(
                df, "doc_id", "text", span_tokens=SPAN, rebuild=rebuild
            ).collect()
        }
        assert got == expect, rebuild


def test_span_dedup_fixed_corpus_matches_pure_python(spark):
    """Default-tier pin: one corpus with cross-doc repeats (doc 2 repeats
    doc 0's first span, doc 3 all of doc 1), within-doc repeats (doc 1,
    doc 4), a ragged tail and a doc shorter than one span, against the
    pure-Python walk for both rebuild plans."""
    texts = [
        "a b c a a b c c c",
        "b b b b b b a c",
        "a b c c b a",
        "b b b b b b a c",
        "c c c c c c c",
        "a",
    ]
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    expect = _py_span_dedup(docs)
    assert any(n_kept < n for n, n_kept, _t in expect.values())
    for rebuild in ("carry", "droplist"):
        got = {
            r.doc: (r.n_spans, r.n_kept, r.dedup_text)
            for r in span_dedup(df, "doc_id", "text", span_tokens=SPAN, rebuild=rebuild).collect()
        }
        assert got == expect, rebuild
