"""Default-tier pins for the near-duplicate generators of
``operators/dedup.py`` (and ``multimodal.image_near_dup_pairs``), which share
one band join (``_block_pairs``) and one verify per similarity.

On one seeded corpus with planted near-copies, every route with an exactness
guarantee equals a brute-force pure-Python oracle: the prefix filter with no
hot-token cap against all-pairs Jaccard, and the banded Hamming routes
(``bands = max_hamming + 1``, the pigeonhole setting) against all-pairs
Hamming over their own signatures, the md5 signature rebuilt with
``hashlib``. The three MinHash routes (one-shot, served from an index, and
incremental new-vs-old plus the old corpus served) return one pair set whose
Jaccard values are the Python ones. Every generator returns nothing on an
empty corpus, banded Hamming rejects band counts outside ``[1, bits]``, and
the one-shot MinHash call runs no more Spark jobs than before it was built
over the index route."""

from __future__ import annotations

import hashlib
import random
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.operators import dedup
from parqueryd_spark.operators.multimodal import image_dhash, image_near_dup_pairs
from tests.conftest import jobs_submitted
from tests.test_image_dedup import _ppm
from tests.test_property_components import _py_shingles

K, THRESHOLD, RADIUS = 3, 0.8, 13
SPLIT = 40  # incremental route: docs below this id are the standing corpus
# Spark jobs of one ``minhash_lsh_pairs(...).collect()`` on this corpus,
# counted before the one-shot call became index -> pairs
ONE_SHOT_JOBS = 7
MASK = (1 << 64) - 1


def _docs():
    """(doc_id, text): 36 random documents and 24 near-copies of them (zero
    to two substituted tokens), plus two equal documents shorter than a
    shingle, whose one shingle is the whole text."""
    rng = random.Random(2113)
    vocab = [f"w{i}" for i in range(300)]
    base = [[rng.choice(vocab) for _ in range(rng.randint(30, 50))] for _ in range(36)]
    docs = [" ".join(t) for t in base]
    for n in range(24):
        toks = list(base[rng.randrange(len(base))])
        for _ in range(n % 3):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        docs.append(" ".join(toks))
    docs += ["w1 w2", "w1 w2"]
    order = list(range(len(docs)))
    rng.shuffle(order)
    return [(i, docs[j]) for i, j in enumerate(order)]


DOCS = _docs()


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def index(corpus):
    return dedup.minhash_index(corpus, "doc_id", "text", k=K).localCheckpoint(eager=True)


def _jaccards():
    sh = {i: _py_shingles(t, K) for i, t in DOCS}
    return {
        (a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b]) for a, b in combinations(sorted(sh), 2)
    }


def _jaccard_oracle():
    return {p: j for p, j in _jaccards().items() if j >= THRESHOLD}


def _hamming_oracle(sigs: dict, radius: int) -> dict:
    pairs = {
        (a, b): bin((sigs[a] ^ sigs[b]) & MASK).count("1") for a, b in combinations(sorted(sigs), 2)
    }
    return {p: d for p, d in pairs.items() if d <= radius}


def _pairs(df, value):
    return {(r.id_a, r.id_b): r[value] for r in df.collect()}


def test_corpus_has_pairs_on_both_sides_of_the_threshold():
    js = _jaccards().values()
    assert sum(j >= THRESHOLD for j in js) >= 15 and 1.0 in js
    assert any(THRESHOLD <= j < 1.0 for j in js)
    assert sum(0.6 <= j < THRESHOLD for j in js) >= 5


def test_prefix_filter_equals_all_pairs_jaccard(corpus):
    got = _pairs(
        dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", k=K, max_prefix_df=None), "jaccard"
    )
    assert got == _jaccard_oracle()


def test_minhash_routes_agree_and_report_exact_jaccard(spark, corpus, index):
    one_shot, jobs = jobs_submitted(
        spark,
        "dedup_paths_one_shot",
        lambda: _pairs(dedup.minhash_lsh_pairs(corpus, "doc_id", "text", k=K), "jaccard"),
    )
    served = _pairs(dedup.minhash_pairs_from_index(index), "jaccard")
    old, new = index.filter(F.col("doc") < SPLIT), index.filter(F.col("doc") >= SPLIT)
    incremental = _pairs(dedup.incremental_minhash_pairs(new, old), "jaccard")
    incremental.update(_pairs(dedup.minhash_pairs_from_index(old), "jaccard"))
    assert one_shot == served == incremental
    want = _jaccard_oracle()
    assert one_shot and all(want[p] == j for p, j in one_shot.items())
    assert any(a < SPLIT <= b for a, b in one_shot)  # the increment meets the corpus
    assert len(jobs) <= ONE_SHOT_JOBS, jobs


def _simhash_sigs(corpus):
    return {
        r.doc_id: r.sig
        for r in corpus.select("doc_id", dedup.simhash(F.col("text"), 64, K).alias("sig")).collect()
    }


def test_banded_simhash_equals_all_pairs_hamming(corpus):
    got = _pairs(
        dedup.simhash_near_pairs(
            corpus, "doc_id", "text", max_hamming=RADIUS, bands=RADIUS + 1
        ),
        "hamming",
    )
    want = _hamming_oracle(_simhash_sigs(corpus), RADIUS)
    assert got == want and len(want) >= 12


def _vote(hashes, bits):
    sig = 0
    for b in range(bits):
        if sum(1 if (h >> b) & 1 else -1 for h in hashes) > 0:
            sig |= 1 << b
    return sig


def _md5_sig(text):
    """The md5 SimHash in plain Python: each shingle votes with the first
    and the second 32 bits of its md5, the high and low words."""
    digests = [hashlib.md5(s.encode()).hexdigest() for s in _py_shingles(text, K)]
    hi = _vote([int(d[:8], 16) for d in digests], 32)
    lo = _vote([int(d[8:16], 16) for d in digests], 32)
    return (hi << 32) | lo


def test_md5_simhash_equals_hashlib_all_pairs_hamming(corpus):
    got = _pairs(dedup.simhash_md5_near_pairs(corpus, "doc_id", "text", k=K), "hamming")
    want = _hamming_oracle({i: _md5_sig(t) for i, t in DOCS}, RADIUS)
    assert got == want and len(want) >= 12


def _images(spark):
    """14 seeded 18x16 gray images and 10 copies with up to three pixels
    moved, plus one undecodable payload."""
    rng = random.Random(5)
    grids = [[[rng.randrange(256) for _ in range(18)] for _ in range(16)] for _ in range(14)]
    for n in range(10):
        g = [list(row) for row in grids[n % 7]]
        for _ in range(n % 4):
            y, x = rng.randrange(16), rng.randrange(18)
            g[y][x] = (g[y][x] + 90) % 256
        grids.append(g)
    rows = [(i, _ppm(g)) for i, g in enumerate(grids)] + [(len(grids), b"not an image")]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_image_pairs_equal_all_pairs_hamming(spark):
    media = _images(spark)
    sigs = {r.media_id: r.dhash for r in image_dhash(media).collect() if r.dhash is not None}
    for radius in (4, 12):
        got = _pairs(image_near_dup_pairs(media, max_hamming=radius), "hamming")
        want = _hamming_oracle(sigs, radius)
        assert got == want and want, radius
    # image_dhash names its id column media_id whatever the input called it
    renamed = media.withColumnRenamed("media_id", "img")
    assert _pairs(image_near_dup_pairs(renamed, id_col="img", max_hamming=4), "hamming") == (
        _hamming_oracle(sigs, 4)
    )


def test_every_generator_is_empty_on_an_empty_corpus(spark, corpus, index):
    docs = corpus.filter(F.lit(False))
    none = index.filter(F.lit(False))
    media = spark.createDataFrame([], "media_id long, payload binary")
    outs = {
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(docs, "doc_id", "text"),
        "minhash_lsh_pairs": dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
        "minhash_pairs_from_index": dedup.minhash_pairs_from_index(none),
        "incremental_minhash_pairs": dedup.incremental_minhash_pairs(none, none),
        "incremental_minhash_pairs[new only]": dedup.incremental_minhash_pairs(none, index),
        "simhash_candidate_pairs": dedup.simhash_candidate_pairs(docs, "doc_id", "text"),
        "simhash_near_pairs": dedup.simhash_near_pairs(docs, "doc_id", "text"),
        "simhash_md5_near_pairs": dedup.simhash_md5_near_pairs(docs, "doc_id", "text"),
        "image_near_dup_pairs": image_near_dup_pairs(media),
    }
    assert {name: df.count() for name, df in outs.items()} == dict.fromkeys(outs, 0)


@pytest.mark.parametrize(
    "call",
    [
        lambda df, media: dedup.simhash_near_pairs(df, "doc_id", "text", bands=0),
        lambda df, media: image_near_dup_pairs(media, max_hamming=-1),
        lambda df, media: dedup.simhash_near_pairs(df, "doc_id", "text", bands=-1),
        lambda df, media: dedup.simhash_candidate_pairs(df, "doc_id", "text", bands=-1),
        lambda df, media: image_near_dup_pairs(media, max_hamming=64),
        lambda df, media: dedup.simhash_near_pairs(df, "doc_id", "text", bits=16, bands=17),
    ],
    ids=[
        "zero_bands",
        "zero_bands_image",
        "negative_bands",
        "negative_bands_candidates",
        "zero_width_bands_image",
        "more_bands_than_bits",
    ],
)
def test_banded_hamming_rejects_bands_outside_one_to_bits(spark, corpus, call):
    media = spark.createDataFrame([], "media_id long, payload binary")
    with pytest.raises(ValueError, match=r"bands must be in \[1, "):
        call(corpus, media)
