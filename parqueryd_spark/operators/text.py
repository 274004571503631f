"""Text-analysis operators for LLM training-data pipelines (north-star scope,
BASELINE.json): tokenization, token counting, quality scoring, language ID,
document fingerprinting.

Everything here is a pure Column expression over built-in functions — JVM-side,
whole-stage-codegen'd, zero Python in the hot path — so a 100 TB documents
table is processed at scan speed with no Arrow transfer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets (n-gram-heuristic language ID).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}
# Deterministic tie-break: first language in this order wins ties.
LANG_ORDER = ["en", "es", "de", "fr"]

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it"]

# BPE-ish token pattern: runs of letters/digits, or any single non-space symbol.
TOKEN_REGEX = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space convention of the corpus)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter/digit runs + individual symbols."""
    return F.regexp_count(F.col(text) if isinstance(text, str) else text, F.lit(TOKEN_REGEX))


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-word hit count per language over the token array."""
    toks = tokens(text)
    return {lang: _marker_hits(toks, LANG_MARKERS[lang]) for lang in LANG_ORDER}


def predict_lang(text: Column | str) -> Column:
    """argmax over the per-language marker-hit counts with deterministic
    tie-break (LANG_ORDER); 'unknown' when no marker hits at all.

    Single-pass formulation (r15, guide §1.2 step 2 / §4.1): higher-order
    functions are not whole-stage-codegen'd, so common subtrees among them
    are NOT eliminated — the previous CASE-over-lang_scores() expression
    textually repeated size(filter(split(text)...)) per branch and
    re-evaluated split(text) ~40x per row (visible verbatim in
    plans/r15/text_token_lang_stats_before.txt node (2)). This form
    tokenizes ONCE and folds the token array once, counting all four
    languages' marker hits in a single aggregate; the argmax + tie-break is
    array_max over (count, -priority, lang) structs with an 'unknown'
    sentinel at (0, +1) — lexicographic struct ordering reproduces the old
    CASE semantics exactly (higher count wins; on ties the earlier
    LANG_ORDER entry; all-zero -> 'unknown')."""
    toks = tokens(text)
    marker_arrs = [
        F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]) for lang in LANG_ORDER
    ]
    counts = F.aggregate(
        toks,
        F.array(*[F.lit(0) for _ in LANG_ORDER]),
        lambda acc, t: F.array(
            *[
                acc[i] + F.array_contains(marker_arrs[i], t).cast("int")
                for i in range(len(LANG_ORDER))
            ]
        ),
    )
    scored = F.zip_with(
        counts,
        F.array(
            *[
                F.struct(F.lit(-i).alias("ni"), F.lit(lang).alias("lang"))
                for i, lang in enumerate(LANG_ORDER)
            ]
        ),
        lambda c, m: F.struct(c.alias("c"), m["ni"].alias("ni"), m["lang"].alias("lang")),
    )
    sentinel = F.array(
        F.struct(F.lit(0).alias("c"), F.lit(1).alias("ni"), F.lit("unknown").alias("lang"))
    )
    # coalesce: NULL text short-circuits the whole fold to NULL; the previous
    # expression's when(NULL > 0) chain fell through to 'unknown' — keep that
    return F.coalesce(F.array_max(F.concat(scored, sentinel))["lang"], F.lit("unknown"))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))) / F.size(toks)


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.regexp_replace(c, "[.,!?;:]", ""))) / F.length(c)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1]-ish quality heuristic: length band + stopword presence -
    punctuation excess. Deliberately simple arithmetic so the DuckDB oracle can
    reproduce it exactly."""
    c = F.col(text) if isinstance(text, str) else text
    length_score = F.least(F.length(c) / F.lit(400.0), F.lit(1.0))
    return length_score * 0.5 + stopword_ratio(c) * 0.5 - punct_ratio(c)


def dup_token_fraction(text: Column | str) -> Column:
    """Fraction of token occurrences that are repeats of an earlier token
    (1 - distinct/total) — the single-line analog of Gopher's duplicate-line
    fraction (Rae et al. 2021, §A.1.1; the fixture corpus has no newlines).
    Exact small-integer division, so any SQL engine reproduces it bit-for-bit."""
    toks = tokens(text)
    return 1.0 - F.size(F.array_distinct(toks)) / F.size(toks).cast("double")


def top_token_fraction(text: Column | str) -> Column:
    """Occurrence share of the most frequent token — Gopher's 'fraction of
    characters in the most common word' analog. Per-doc O(distinct x total)
    array work, JVM-side; documents are bounded (~100s of tokens), the corpus
    is what scales, so this stays embarrassingly parallel at 100 TB."""
    toks = tokens(text)
    counts = F.transform(
        F.array_distinct(toks), lambda d: F.size(F.filter(toks, lambda t: t == d))
    )
    return F.array_max(counts) / F.size(toks).cast("double")


def dup_ngram_fraction(text: Column | str, k: int = 2) -> Column:
    """Fraction of k-gram occurrences that are duplicates (1 - distinct/total)
    — Gopher's duplicate-n-gram family. Documents shorter than k tokens have
    no k-grams and score 0.0 (nothing repeated)."""
    grams = ngrams_all(text, k)
    return F.when(
        F.size(grams) > 0,
        1.0 - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))


def repetition_ok(
    text: Column | str,
    max_dup_token_frac: float = 0.60,
    max_top_token_frac: float = 0.20,
    max_dup_2gram_frac: float = 0.40,
) -> Column:
    """Gopher-style repetition gate: True iff the document passes every
    repetition threshold. Defaults are tuned to the synthetic corpus; the
    production knobs are the Gopher paper's (0.30 / 0.20 / 0.20 for
    line-dup / top-word / dup-2-gram on natural text)."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        (dup_token_fraction(c) <= max_dup_token_frac)
        & (top_token_fraction(c) <= max_top_token_frac)
        & (dup_ngram_fraction(c, 2) <= max_dup_2gram_frac)
    )


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct token
    set — a canonical-bag-of-words content hash, reproducible in any engine."""
    toks = tokens(text)
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def winnow_fingerprints(text: Column | str, k: int = 3, window: int = 4) -> Column:
    """Winnowing document fingerprint: the set of per-window minimum shingle
    hashes (Schleimer et al.'s local fingerprinting scheme, rolling-hash
    family). Near-identical documents share most fingerprints; used for
    plagiarism-style containment detection. Pure higher-order functions."""
    hashed = F.transform(shingles(text, k), lambda s: F.xxhash64(s))
    n = F.size(hashed)
    win_mins = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.array_min(F.slice(hashed, i + 1, window)),
    )
    return F.array_distinct(win_mins)


def winnow_fingerprints_md5(text: Column | str, k: int = 3, window: int = 4) -> Column:
    """Winnowing over the RAW k-gram sequence (duplicates kept — Schleimer et
    al.'s positional windows) with md5 hex strings as the hash: per-window
    minimum is lexicographic over fixed-width lowercase hex, which every
    engine orders identically — this variant exists so the gate query has an
    exact DuckDB oracle. Production fingerprinting uses
    :func:`winnow_fingerprints` (xxhash64 longs: 8-byte compares and ~10x
    cheaper hashing); the window/min/distinct mechanics are identical."""
    toks = tokens(text)
    seq = F.when(F.size(toks) >= k, ngrams_all(text, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    hashed = F.transform(seq, lambda s: F.md5(s))
    n = F.size(hashed)
    win_mins = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.array_min(F.slice(hashed, i + 1, window)),
    )
    return F.array_distinct(win_mins)


def winnow_overlap_pairs(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_common: int = 5,
    max_df: int | None = None,
    hash_mode: str = "xxhash",
):
    """Document pairs sharing >= ``min_common`` winnowing fingerprints — the
    MOSS-style partial-overlap detector (Schleimer et al. 2003): unlike
    whole-document Jaccard it fires on CONTAINED copies (a paragraph lifted
    into an otherwise-different document), because winnowing guarantees any
    shared run longer than window+k-1 tokens contributes a shared fingerprint.

    Plan: per-doc fingerprint arrays (pure Column winnowing), explode into an
    inverted index (fingerprint -> doc), self-join on fingerprint, count per
    pair. Costs one shuffle on fingerprint; per-fingerprint work is
    posting-list^2, so ``max_df`` drops fingerprints appearing in more than
    that many documents (boilerplate headers/licenses would otherwise create
    quadratic hot lists at corpus scale — dropping them loses only evidence
    every document shares, which identifies nothing). ``hash_mode="xxhash"``
    is the production path (8-byte fingerprints); ``"md5"`` matches the
    DuckDB-reproducible variant the gate oracle rebuilds.

    Returns (id_a, id_b, n_common).
    """
    fp_col = (
        winnow_fingerprints(text_col, k, window)
        if hash_mode == "xxhash"
        else winnow_fingerprints_md5(text_col, k, window)
    )
    ex = df.select(F.col(id_col).alias("doc"), F.explode(fp_col).alias("fp"))
    if max_df is not None:
        dfreq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        ex = ex.join(dfreq.filter(F.col("_df") <= max_df).select("fp"), "fp")
    a = ex.select(F.col("doc").alias("id_a"), "fp")
    b = ex.select(F.col("doc").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-gram token shingles (distinct), the unit for Jaccard/MinHash dedup.

    A document shorter than k tokens yields ONE shingle — the whole document —
    so short docs still have a non-empty set to compare (Jaccard over an empty
    set would be 0/0)."""
    toks = tokens(text)
    return F.array_distinct(
        F.when(F.size(toks) >= k, ngrams_all(text, k)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def ngrams_all(text: Column | str, k: int = 2) -> Column:
    """Every k-gram occurrence (NOT distinct) — the counting unit for n-gram
    language-model statistics; ``shingles`` is the distinct set for Jaccard.

    A document shorter than k tokens yields ZERO k-grams (an empty array),
    never a truncated gram — truncated grams would corrupt count statistics.
    """
    toks = tokens(text)
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def normalize_text(
    text: Column | str,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_punct: bool = False,
) -> Column:
    """Canonicalize text BEFORE hashing/dedup — near-dups that differ only
    in case, run-on whitespace, or punctuation become exact dups, which
    turns cheap exact/span dedup loose on formatting variants a minhash
    would spend candidate budget on. Pure Column expressions (lower +
    RE2-safe regexp_replace), codegen-eligible; apply the SAME normalization
    when probing an index that was built normalized."""
    out = F.col(text) if isinstance(text, str) else text
    if lowercase:
        out = F.lower(out)
    if strip_punct:
        out = F.regexp_replace(out, F.lit(r"[^\w\s]"), F.lit(""))
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, F.lit(r"\s+"), F.lit(" ")))
    return out


def unigram_logprob(df, id_col: str, text_col: str):
    """Corpus-statistical quality score (the CCNet/KenLM-filter shape at
    unigram order): each document's mean ln P(token) under the corpus's own
    unigram distribution. Documents full of rare/garbled tokens score low;
    formulaic boilerplate scores high — both tails are the filter targets.
    Returns (doc, n_tokens, avg_logprob).

    Scale design: the vocabulary table is ONE groupBy over the exploded
    tokens (partial-aggregated map-side), then broadcast for scoring — token
    vocabularies are millions of rows when a 100 TB corpus is billions of
    docs, so the big side is never shuffled by token. For open vocabularies
    too large to broadcast, score against a truncated top-V table with an
    OOV floor (the standard LM-filter practice) — the join then stays
    broadcast at any corpus size."""
    toks = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = vocab.agg(F.sum("n").cast("double").alias("total"))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(F.log(F.col("n") / F.col("total"))).alias("avg_logprob"),
        )
    )


def tfidf_terms(df, id_col: str, text_col: str):
    """Per-(doc, token) TF-IDF over the whole corpus:
    ``tfidf = tf * ln(n_docs / df)``. Returns (doc, token, tf, tfidf).

    Scale shape (100 TB): one shuffle to (doc, token) grain for TF; document
    frequency and the corpus size are vocabulary-sized aggregates of that
    grain, so both join back as broadcasts — the document-grain side never
    reshuffles. The reference has no text analytics at all (SURVEY.md §2.2);
    this is north-star scope.
    """
    from parqueryd_spark.operators.util import spread_partitions as _spread

    toks = _spread(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy("doc", "token").agg(F.count("*").alias("tf"))
    # tf is already distinct per (doc, token), so df(token) = row count
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    return (
        tf.join(dfreq, "token")  # vocabulary-sized at 100 TB: AQE decides
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
        .select("doc", "token", "tf", "tfidf")
    )


def bm25_scores(
    df,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 ranked retrieval for a fixed query-term list (the Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf variant, which is always
    positive). Returns ``(doc, n_match, score)`` — one row per document that
    contains at least one query term. The reference has no text retrieval at
    all (SURVEY.md §2.2); this is north-star scope.

    Scale design (100 TB): the document grain is never exploded or shuffled.
    Per-term tf is counted inside each document's token array with pure
    Column expressions (codegen-eligible), so the only aggregate is ONE
    global row of |Q|+2 numbers (N, avgdl, per-term document frequency) —
    map-side partials, then broadcast back with ``crossJoin``. Ranked
    retrieval is scan → score → filter; with a downstream ``topk`` the plan
    is TakeOrderedAndProject, never a (doc, token)-grain shuffle the way an
    inverted-index build would be. That trade is deliberate: for ad-hoc
    queries over a corpus, a full scan beats materializing an index; for a
    standing query workload, build the index once with ``tfidf_terms`` and
    join on its (token) grain instead.

    Practical term cap: the scan path builds one tf column PER QUERY TERM, so
    codegen'd expression width grows linearly with |Q| — fine for human-sized
    queries, degenerate past a few dozen terms (~32 is a sensible ceiling;
    enforced softly below). Long queries belong on the index path
    (``bm25_index_search``), where terms are rows, not columns.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(query_terms) > 64:
        raise ValueError(
            f"{len(query_terms)} query terms: the scan path widens the plan "
            "per term — use the bucketed index path for long queries "
            "(practical scan ceiling ~32 terms)"
        )
    # bag-of-terms semantics: a term listed twice scores twice (query-side
    # boost), matching the classic Okapi formulation.
    # Null-text docs are excluded from the corpus entirely (they hold no
    # tokens, can never match, and must not perturb N/avgdl) — the same
    # definition the index path uses, so serve == scan holds on dirty data.
    df = df.where(F.col(text_col).isNotNull())
    toks = tokens(text_col)
    nq = len(query_terms)

    # Single-fold tf+dl (r15, guide §1.2 step 2): higher-order functions are
    # not codegen'd and get no common-subexpression elimination, so the
    # previous per-term size(filter(toks, ...)) columns re-evaluated
    # split(text) nq+1 times in the projection and 4 more in the pushed-down
    # n_match filter (plans/r15/text_bm25_search_before.txt nodes (2)-(3)).
    # One aggregate() folds every term's tf plus dl in a single token pass;
    # the finish lambda packs them into a struct, and routing it through
    # inline(array(...)) makes the fields REAL attributes behind a Generate —
    # an optimizer barrier neither CollapseProject nor filter pushdown can
    # substitute the fold through, so it is evaluated exactly once per row
    # (differential-tested equal to the old columns at sf0.1).
    packed = F.aggregate(
        toks,
        F.array(*([F.lit(0)] * (nq + 1))),
        lambda acc, t: F.array(
            *[
                acc[i] + (t == F.lit(term)).cast("int")
                for i, term in enumerate(query_terms)
            ],
            acc[nq] + F.lit(1),
        ),
        lambda acc: F.struct(
            *[acc[i].alias(f"tf_{i}") for i in range(nq)], acc[nq].alias("dl")
        ),
    )
    base = df.select(F.col(id_col).alias("doc"), F.inline(F.array(packed)))
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}") for i in range(nq)],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5))
        )
        norm_len = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        return F.when(tf > 0, idf * (tf * F.lit(k1 + 1.0)) / (tf + norm_len)).otherwise(F.lit(0.0))

    score = term_score(0)
    for i in range(1, nq):
        score = score + term_score(i)
    n_match = (F.col("tf_0") > 0).cast("long")
    for i in range(1, nq):
        n_match = n_match + (F.col(f"tf_{i}") > 0).cast("long")
    return scored.where(n_match > 0).select(
        "doc", n_match.alias("n_match"), score.alias("score")
    )


def _index_postings(df, id_col: str, text_col: str, n_buckets: int):
    """(token, doc, tf, dl, bucket) posting rows for a document set — one
    shuffle to (doc, token) grain with map-side partials. Null-text docs are
    excluded (same corpus definition as bm25_scores)."""
    df = df.where(F.col(text_col).isNotNull())
    base = df.select(
        F.col(id_col).alias("doc"),
        tokens(text_col).alias("_toks"),
    ).select("doc", F.size("_toks").alias("dl"), F.explode("_toks").alias("token"))
    return (
        base.groupBy("token", "doc")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        .withColumn("bucket", F.pmod(F.xxhash64("token"), F.lit(n_buckets)))
    )


def _index_stats_partial(df, text_col: str, n_buckets: int):
    """One MERGEABLE stats row (n_docs, sum_dl, n_buckets) for a document
    set. The index stores one partial per generation/increment; the serve
    path sums them — so publish, append, and streaming maintenance all write
    without reading what is already there (idempotent per partition).
    Null-text docs are excluded from n_docs exactly as their (absent)
    postings are — otherwise the serve path's avgdl would divide by docs the
    scan path never counts and serve == scan would break on dirty data."""
    df = df.where(F.col(text_col).isNotNull())
    return df.select(tokens(text_col).alias("_toks")).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.size("_toks")), F.lit(0)).cast("long").alias("sum_dl"),
        F.lit(n_buckets).alias("n_buckets"),
    )


def text_index_publish(
    df,
    index_dir: str,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
) -> None:
    """Build and persist an inverted index for STANDING retrieval workloads —
    the complement of :func:`bm25_scores`' scan-per-query plan. Postings are
    ``(token, doc, tf, dl)`` under ``postings/batch=-1/bucket=<b>/`` with
    ``bucket = pmod(xxhash64(token), n_buckets)``, so a query's terms prune
    the read to |terms| buckets of a corpus-sized index; corpus stats land
    beside them as a mergeable one-row partial per generation
    (``_stats/batch=-1``). ``batch=-1`` is the published-generation id (the
    same convention as streaming/dedup.compact_index); increments land under
    nonnegative batch ids (:func:`text_index_append`,
    ``streaming.search.stream_index_text``).

    Scale design: one shuffle to (doc, token) grain for tf (map-side
    partials), dl carried denormalized on each posting so scoring never
    touches the corpus again. Document frequency is NOT stored — it is
    ``count(*)`` within a token's postings, computed on the pruned read at
    query time, which keeps the index maintainable by appending postings for
    new docs without rewriting df counts.
    """
    _write_index_batch(df, index_dir.rstrip("/"), -1, id_col, text_col, n_buckets)


def _write_index_batch(df, root: str, batch, id_col: str, text_col: str, n_buckets: int) -> None:
    """Land ``df``'s postings and stats partial as batch ``batch`` of the
    index at ``root`` (``sources/sinks.write_batch``, postings sub-partitioned
    by ``bucket``)."""
    from parqueryd_spark.sources.sinks import write_batch

    write_batch(
        _index_postings(df, id_col, text_col, n_buckets),
        root + "/postings",
        batch,
        partition_by=["bucket"],
    )
    write_batch(_index_stats_partial(df, text_col, n_buckets), root + "/_stats", batch)


def bm25_from_index(
    spark,
    index_dir: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
):
    """Score a query against a published inverted index
    (:func:`text_index_publish`): returns the same ``(doc, n_match, score)``
    shape as :func:`bm25_scores`, computed from |terms| partition-pruned
    bucket reads instead of a corpus scan — the standing-workload serve path.

    Plan: postings are filtered to the query terms (the ``bucket`` partition
    predicate prunes files in EVERY batch generation, the ``token`` predicate
    prunes row groups), df per term is a terms-sized aggregate broadcast
    back, and the final groupBy(doc) touches only matching postings — work
    scales with the posting lists of the query's terms, not the corpus.
    Corpus stats are the sum of the per-generation partials.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        # the postings join scores each (token, doc) once, so a repeated term
        # would silently lose the scan path's bag-of-terms double weight
        raise ValueError("query_terms must be distinct for the index serve path")
    from parqueryd_spark.sources.parquet import read_resolved

    root = index_dir.rstrip("/")
    stats_row = (
        read_resolved(spark, [root + "/_stats"])
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
            F.max("n_buckets").alias("n_buckets"),
        )
    )
    n_buckets = stats_row.select("n_buckets").head()[0]
    # derive each term's bucket with the SAME Spark expression used at build
    # (terms-sized collect: metadata, not data)
    term_rows = spark.createDataFrame([(t,) for t in query_terms], "qterm string")
    term_rows = term_rows.withColumn(
        "bucket", F.pmod(F.xxhash64("qterm"), F.lit(n_buckets))
    )
    buckets = [r["bucket"] for r in term_rows.select("bucket").collect()]
    postings = (
        read_resolved(spark, [root + "/postings"])
        .where(F.col("bucket").isin(buckets))  # partition pruning
        .where(F.col("token").isin(query_terms))
        .select("token", "doc", "tf", "dl")
    )
    dfreq = postings.groupBy("token").agg(F.count("*").alias("df_t"))
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats_row.select("n_docs", "avgdl")))
        .withColumn(
            "term_score",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_match"),
        F.sum("term_score").alias("score"),
    )


def text_index_append(
    spark,
    index_dir: str,
    new_docs,
    id_col: str,
    text_col: str,
) -> None:
    """Grow a published inverted index (:func:`text_index_publish`) with new
    documents WITHOUT touching history — the daily-increment maintenance
    story, sibling of ``similarity.ivf_append``. The increment's postings
    land in a fresh ``batch=<max+1>`` partition of the same hash-bucket
    layout (df is counted at query time precisely so appends need no
    stored-count rewrite), and its stats partial lands beside the existing
    ones — nothing is read-modified-rewritten, so a failed append leaves the
    index exactly as it was.

    Batch-id spaces are disjoint by construction: manual appends allocate
    NEGATIVE generations counting down from the published ``batch=-1``
    (-2, -3, ...), while ``stream_index_text`` owns the nonnegative ids its
    checkpoint assigns — so an append can never collide with (and silently
    overwrite) a stream micro-batch partition on the same index.

    Precondition: id-disjoint from already-indexed docs (re-ingesting an id
    would double its postings; dedup upstream with
    ``dedup.incremental_minhash_pairs`` / exact id anti-join)."""
    from parqueryd_spark.sources.parquet import read_resolved
    from parqueryd_spark.sources.sinks import batch_ids

    root = index_dir.rstrip("/")
    batches = [int(b) for b in batch_ids(spark, root + "/postings")]
    if not batches:
        raise FileNotFoundError(f"no published index at {root}")
    n_buckets = read_resolved(spark, [root + "/_stats"]).head()["n_buckets"]
    _write_index_batch(new_docs, root, min(batches) - 1, id_col, text_col, n_buckets)


def bigram_logprob(df, id_col: str, text_col: str, add_k: float = 1.0):
    """Order-2 corpus-statistical quality score — the bigram upgrade of
    :func:`unigram_logprob` (the CCNet/KenLM-filter shape): each document's
    mean ``ln P(t_i | t_{i-1})`` under the corpus's own add-k-smoothed bigram
    model, ``P = (c(prev,cur) + k) / (c(prev) + k*V)``. Catches word-salad
    that unigram statistics miss (every token common, no token PAIR common).
    Documents with fewer than 2 tokens have no bigrams and are excluded.
    Returns (doc, n_bigrams, avg_logprob).

    Scale shape: bigram and unigram count tables are each ONE map-side
    partial-aggregated groupBy over exploded grams; the per-doc scoring
    explodes bigrams once and joins the two count tables on their keys
    (vocabulary-sized sides — AQE broadcasts while they fit, shuffles when
    they won't), then one groupBy(doc) mean. All exact integer counts + ln,
    so any SQL engine reproduces it bit-for-bit."""
    grams = df.select(
        F.col(id_col).alias("doc"), F.explode(ngrams_all(F.col(text_col), 2)).alias("big")
    )
    bi = grams.groupBy("big").agg(F.count("*").alias("cb"))
    uni = df.select(F.explode(tokens(F.col(text_col))).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("cu")
    )
    vocab_n = uni.agg(F.count("*").cast("double").alias("v"))
    return (
        grams.withColumn("prev", F.split("big", " ")[0])
        .join(bi, "big")
        .join(uni.withColumnRenamed("tok", "prev"), "prev")
        .crossJoin(F.broadcast(vocab_n))
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.avg(
                F.log((F.col("cb") + F.lit(add_k)) / (F.col("cu") + F.lit(add_k) * F.col("v")))
            ).alias("avg_logprob"),
        )
    )


def build_vocab(df, text_col: str, max_vocab: int | None = None):
    """Deterministic token vocabulary: (token, token_id, freq) with ids
    assigned by (frequency desc, token asc) — the convention tokenizers use
    so frequent tokens get small ids. One map-side partial-aggregated groupBy
    over the exploded token stream; the id assignment is a window over the
    vocabulary-sized result, not the corpus.

    Scale contract: the id-assigning window is GLOBAL (ids must be dense and
    total-ordered), so the vocabulary itself must be bounded. Real tokenizer
    vocabularies are (32k-256k rows — trivial); for an open web-scale token
    stream pass ``max_vocab`` to keep the top-V by (freq desc, token asc) via
    a heap top-k BEFORE the window — everything else encodes as the OOV id
    (the standard truncated-vocab practice, same floor as unigram_logprob's
    OOV note)."""
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    if max_vocab is not None:
        counts = counts.orderBy(F.col("freq").desc(), F.col("token").asc()).limit(max_vocab)
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w) - 1).select(
        "token", "token_id", "freq"
    )


def encode_documents(df, id_col: str, text_col: str, vocab=None, oov_id: int = -1):
    """Token-id encoding — text to ``input_ids`` arrays, order preserved:
    the step between curation and batch packing (``sampling.pack_contiguous``
    packs the resulting lengths). Tokens absent from the vocabulary encode as
    ``oov_id``. Returns (doc, n_tokens, input_ids).

    Scale shape: posexplode to (doc, pos, token), LEFT join the
    vocabulary (vocabulary-sized — AQE broadcasts while it fits), then one
    groupBy(doc) reassembly via sorted collect of (pos, id) structs. The
    corpus crosses exactly one shuffle (the doc-keyed regroup); the
    token-keyed join side is the vocab, never the corpus re-aggregated."""
    if vocab is None:
        vocab = build_vocab(df, text_col)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    return (
        toks.join(vocab.select("token", "token_id"), "token", "left")
        .withColumn("tid", F.coalesce("token_id", F.lit(oov_id)))
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
            ).alias("input_ids"),
        )
    )


def unigram_divergence(df, group_col: str, text_col: str = "text"):
    """Per-group KL divergence of the unigram token distribution from the
    whole corpus — the mixture diagnostic that tells a curation run which
    sources are lexically off-distribution (candidates for down-weighting)
    and which merely add volume. KL(p_group || p_corpus) is finite by
    construction: every group token occurs in the corpus, so q > 0 wherever
    p > 0.

    Plan: one explode -> (group, token) count aggregation; corpus-level
    counts DERIVE from the group counts (a second small aggregation, never a
    second scan of the text); the corpus total joins in as a broadcast 1-row
    scalar. Returns (group_col, n_tokens, n_distinct_tokens, kl_divergence)
    with the divergence rounded to 6dp so cross-engine float-summation order
    cannot leak into the report.
    """
    toks = df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok"))
    grp_counts = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    all_counts = grp_counts.groupBy("tok").agg(F.sum("c").alias("ac"))
    totals = grp_counts.groupBy("grp").agg(
        F.sum("c").alias("gt"), F.count(F.lit(1)).alias("n_distinct")
    )
    corpus_total = all_counts.agg(F.sum("ac").alias("at"))
    # totals is one row per group and corpus_total exactly one row — small by
    # construction, so AQE broadcasts them from runtime statistics; a forced
    # broadcast hint would turn wrong if the group column were high-cardinality
    joined = (
        grp_counts.join(all_counts, "tok")
        .join(totals, "grp")
        .crossJoin(F.broadcast(corpus_total))
    )
    p = F.col("c") / F.col("gt")
    q = F.col("ac") / F.col("at")
    return (
        joined.groupBy("grp")
        .agg(
            F.max("gt").cast("long").alias("n_tokens"),
            F.max("n_distinct").cast("long").alias("n_distinct_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_divergence"),
        )
        .withColumnRenamed("grp", group_col)
    )


def hash_embed(
    df,
    id_col: str,
    text_col: str,
    dim: int = 16,
    salt: str = "embed",
    out_col: str = "embedding",
):
    """Feature-hashing dense embedding (Weinberger et al., "Feature Hashing
    for Large Scale Multitask Learning"): each token lands in ONE of ``dim``
    buckets with a ±1 sign, both derived from md5(token || salt), and the
    document's vector is the per-bucket sign sum. The cheap, training-free
    embedder that makes the documents → embeddings → ANN-index pipeline
    end-to-end runnable on text alone — and, unlike a model embedder, it is
    EXACTLY reproducible cross-engine (md5 arithmetic, integer-valued
    components), so the registry row value-checks against DuckDB rather than
    rows-only.

    Scale shape: one md5 per token (not per token×dim), one shuffle of
    (id, bucket) token rows with map-side combine, then a per-doc map→array
    assembly — all JVM-side Column expressions. Empty/whitespace-only
    documents keep an all-zero vector (left join back to the id universe).
    Ids are treated as a key: duplicate ids merge their documents' tokens
    into one vector (dedup upstream if that's not intended).
    DuckDB twin of the bucket/sign arithmetic:
    ``CAST(('0x' || substr(md5(tok || salt), 1, 8)) AS BIGINT) % dim`` and
    ``CAST(('0x' || substr(md5(tok || salt), 9, 1)) AS INT) % 2``.
    """
    ids = df.select(F.col(id_col))
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).where(F.col("__tok") != "")
    h = F.md5(F.concat(F.col("__tok"), F.lit(salt)))
    b = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).cast("int")
    s = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    agg = (
        ex.select(F.col(id_col), b.alias("__b"), s.alias("__s"))
        .groupBy(id_col, "__b")
        .agg(F.sum("__s").alias("__v"))
    )
    maps = agg.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__b", "__v"))).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.coalesce(F.element_at(F.col("__m"), d), F.lit(0.0)),
    )
    return ids.join(maps, id_col, "left").select(F.col(id_col), vec.alias(out_col))
