"""N-gram language-model quality scoring (north-star scope: the CCNet-style
curation signal — Wenzek et al. 2020 score documents with an LM and keep the
low-perplexity tail; Gopher/RefinedWeb use the same signal as a filter).

The classic pipeline trains KenLM offline and scores with a per-row UDF. The
Spark-first shape keeps BOTH halves inside the engine as plain relational
plans over built-in functions:

- **train** is one map-side-combined count aggregation over exploded bigram
  occurrences — the LM *is* a DataFrame of (gram, count) rows. Context counts
  and the vocabulary size DERIVE from that table (two tiny re-aggregations,
  never a second scan of the text), so a 100 TB corpus is read exactly once.
- **score** is a groupBy + two equi-joins + one aggregation: per-document
  gram multiplicities join the count tables, and the smoothed log-probability
  is pure Column arithmetic (log2 of an exact integer ratio). Zero Python in
  either path; AQE broadcasts the count tables when they are small and
  shuffle-joins them when the vocabulary is genuinely large.
- **counts are linear**, so incremental training is `lm_merge` (sum matching
  gram rows — associative, commutative, bit-exact), the same contract as the
  Count-Min/KMV/HLL sketch family (operators/sketches.py) and the streaming
  maintenance face in streaming/lm.py.

Model: add-k smoothed bigram LM over whitespace tokens (the corpus'
single-space convention, operators/text.py):

    P(t | prev) = (c(prev t) + k) / (c(prev ·) + k·V),   V = |vocab| + 1

with V derived from the bigram table's distinct second tokens (+1 reserves
mass for out-of-vocabulary tokens). Scores are deterministic integer-count
arithmetic + log2, so a SQL oracle reproduces per-document cross-entropy to
6 dp — the registry row value-checks the ESTIMATES themselves, not a bound.

Reference parity note: the reference engine (parqueryd) has no LM scoring —
its complete RPC dispatch (/root/reference/parqueryd/controller.py:483-553)
has no text operator of any kind; this family is north-star pipeline scope
(BASELINE.json), same tier as dedup/decontamination.

Relationship to operators/text.py:bigram_logprob (deliberate split, not
duplication): that function is the INLINE same-corpus scorer — inner joins,
so it can only score documents whose grams exist in the corpus it was
handed, in one shot. This module is the model LIFECYCLE: train on a
reference corpus, persist/merge/stream-maintain the counts, and score
ARBITRARY held-out text (left joins + add-k OOV mass — the unseen-gram path
bigram_logprob's inner joins cannot take). CCNet trains on Wikipedia and
scores Common Crawl; that train-here-score-there shape is what this module
adds.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.text import ngrams_all
from parqueryd_spark.sources.sinks import read_batches, read_meta, write_batch, write_meta


@dataclass
class NgramLM:
    """A trained order-``n`` LM (bigram by default): three small-schema
    DataFrames.

    ``bigrams``  — (gram string of n space-joined tokens, c bigint):
                   occurrence counts (field name kept from the order-2
                   original; the gram length is ``n``).
    ``contexts`` — (prev = first n-1 tokens, cc bigint): per-context totals.
    ``vocab``    — exactly one row (vsz bigint): distinct final tokens + 1.

    All three derive from one scan of the training text; ``contexts`` and
    ``vocab`` re-aggregate the (already tiny relative to the corpus) count
    table. Persist ``bigrams`` and re-derive the other two on load, or
    persist all three — both are O(distinct grams), never O(corpus). Higher
    n sharpens the curation signal (CCNet's KenLM is order 5) at the price
    of a bigger count table and more OOV hits — the smoothing path covers
    both.
    """

    bigrams: DataFrame
    contexts: DataFrame
    vocab: DataFrame
    k: float = 0.5
    n: int = 2


# the order-2 default's historical name
BigramLM = NgramLM


def ngram_counts(docs: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """(gram, c) occurrence counts — the linear, mergeable unit of the LM.

    One explode + one map-side-combined groupBy: the shuffle carries
    (gram, partial-count) pairs, proportional to DISTINCT grams per
    partition, not to corpus token volume.
    """
    grams = docs.select(F.explode(ngrams_all(F.col(text_col), n)).alias("gram"))
    return grams.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("c"))


def bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-2 ``ngram_counts`` (the historical name)."""
    return ngram_counts(docs, text_col, 2)


def _context_of(gram, n: int):
    """First n-1 tokens of a space-joined n-gram (tokens never contain
    spaces under the whitespace convention, so the split is unambiguous)."""
    return F.array_join(F.slice(F.split(gram, " "), 1, n - 1), " ")


def _derive(counts: DataFrame, k: float, n: int) -> NgramLM:
    contexts = (
        counts.withColumn("prev", _context_of(F.col("gram"), n))
        .groupBy("prev")
        .agg(F.sum("c").cast("long").alias("cc"))
    )
    vocab = counts.select(F.element_at(F.split("gram", " "), n).alias("tok")).agg(
        (F.countDistinct("tok") + F.lit(1)).cast("long").alias("vsz")
    )
    return NgramLM(bigrams=counts, contexts=contexts, vocab=vocab, k=k, n=n)


def lm_train(
    docs: DataFrame, text_col: str = "text", k: float = 0.5, n: int = 2
) -> NgramLM:
    """Train the add-k order-n LM: one corpus scan, everything else derived."""
    return _derive(ngram_counts(docs, text_col, n), k, n)


def lm_merge(parts: Sequence[DataFrame], k: float = 0.5, n: int = 2) -> NgramLM:
    """Merge partial bigram-count tables (from ``bigram_counts`` over corpus
    increments) into one LM. Counts are linear, so merge = sum matching gram
    rows — bit-exact: merge(split(corpus)) ≡ train(corpus). This is the
    incremental-training face; streaming/lm.py persists the partials.
    """
    if not parts:
        raise ValueError("lm_merge needs at least one partial count table")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    total = merged.groupBy("gram").agg(F.sum("c").cast("long").alias("c"))
    return _derive(total, k, n)


def lm_score(
    docs: DataFrame,
    id_col: str,
    lm: NgramLM,
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy under the LM: (id, n_bigrams, avg_nll, ppl).

    - ``avg_nll``: mean negative log2-probability per bigram, rounded to 6 dp
      (per-doc sums are short, so cross-engine float-summation order cannot
      reach the 6th decimal — same contract as unigram_divergence).
    - ``ppl``: 2**avg_nll of the ROUNDED avg_nll, rounded to 4 dp, so both
      engines exponentiate the identical double.

    Documents with fewer than ``lm.n`` tokens have no grams and are absent
    from the output (nothing to score — emitting 0 would fake a perfect
    score).

    Plan shape: per-doc gram multiplicities (groupBy doc+gram — collapses
    repeated grams BEFORE the join, so templated corpora join fewer rows),
    two left equi-joins against the count tables (unseen grams/contexts
    coalesce to 0 — the held-out path), one final per-doc aggregation.
    """
    grams = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_all(F.col(text_col), lm.n)).alias("gram"),
    )
    weighted = grams.groupBy("_id", "gram").agg(F.count(F.lit(1)).cast("long").alias("w"))
    k = F.lit(lm.k)
    scored = (
        weighted.join(lm.bigrams, "gram", "left")
        .withColumn("prev", _context_of(F.col("gram"), lm.n))
        .join(lm.contexts, "prev", "left")
        .crossJoin(F.broadcast(lm.vocab))
        .withColumn(
            "lp",
            F.log2(
                (F.coalesce(F.col("c"), F.lit(0)) + k)
                / (F.coalesce(F.col("cc"), F.lit(0)) + k * F.col("vsz"))
            ),
        )
    )
    avg_nll = F.round(-F.sum(F.col("w") * F.col("lp")) / F.sum("w"), 6)
    return (
        scored.groupBy("_id")
        .agg(
            F.sum("w").cast("long").alias("n_bigrams"),
            avg_nll.alias("avg_nll"),
            F.round(F.pow(F.lit(2.0), avg_nll), 4).alias("ppl"),
        )
        .withColumnRenamed("_id", id_col)
    )


def lm_publish(
    spark,
    lm_dir: str,
    docs: DataFrame,
    text_col: str = "text",
    k: float = 0.5,
    batch: str = "base",
    n: int = 2,
) -> None:
    """Persist the LM as a living dataset — the same publish/load/append
    posture as the ANN indexes (operators/squant.py:sq_publish): partial
    bigram counts land as the ``<batch>`` partition of ``<lm_dir>/counts``
    (``sources/sinks.write_batch``: re-publishing a batch overwrites only
    that batch, never the accumulated ones) and the smoothing constant
    as the ``_meta`` sidecar of the counts (``sinks.write_meta``).
    The served model is merge-on-read over ALL batches (linearity: ≡
    one-shot training on the concatenated corpus, bit-exact), so growing the
    training corpus is ``lm_append`` at O(increment) cost — the standing
    corpus is never re-scanned."""
    write_meta(spark.createDataFrame([(float(k), int(n))], "k double, n int"), f"{lm_dir}/counts")
    write_batch(ngram_counts(docs, text_col, n), f"{lm_dir}/counts", batch)


def lm_append(
    spark, lm_dir: str, new_docs: DataFrame, batch: str, text_col: str = "text"
) -> None:
    """Incremental training: count ONLY the increment at the index's OWN
    persisted order (meta-driven, the sq_append contract), landing it as its
    own ``batch=<batch>`` partition (replays overwrite themselves)."""
    meta = _lm_meta(spark, lm_dir)
    write_batch(ngram_counts(new_docs, text_col, int(meta["n"])), f"{lm_dir}/counts", batch)


def _lm_meta(spark, lm_dir: str):
    """The published (k, n) row; a store with no meta raises (its counts'
    order is unknown)."""
    meta = read_meta(spark, f"{lm_dir}/counts")
    if meta is None:
        raise FileNotFoundError(f"no published LM under {lm_dir}")
    return meta


def lm_load(spark, lm_dir: str) -> NgramLM:
    """The served LM: merge-on-read of every published count batch (the
    1-row meta collect is the only driver-side read)."""
    meta = _lm_meta(spark, lm_dir)
    return lm_merge([read_batches(spark, f"{lm_dir}/counts")], float(meta["k"]), int(meta["n"]))


def _suffix(col, start: int, length: int):
    """Tokens ``start``..``start+length-1`` (1-based) of a space-joined gram,
    re-joined — unambiguous under the whitespace token convention."""
    return F.array_join(F.slice(F.split(col, " "), start, length), " ")


def kn_score(
    docs: DataFrame,
    id_col: str,
    lm: NgramLM,
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser–Ney order-n
    LM — the standard smoothing of the KenLM/CCNet curation stack (Kneser &
    Ney 1995; Chen & Goodman 1999 for the interpolated form), derived from
    the SAME published count table the add-k model serves from.

    Add-k treats every unseen n-gram alike; KN instead backs off to how many
    distinct CONTEXTS a word (or suffix) completes — its continuation count
    — which is what separates "rare but productive" words from corpus noise,
    the curation-relevant distinction. With absolute discount D, level k
    (2 <= k <= n, scoring the last k tokens g_k = (u, w) of each n-gram):

        P_k(w|u) = max(C_k(u w) - D, 0) / CC_k(u)
                 + D · N1+_k(u) / CC_k(u) · P_{k-1}(w|tail(u))   if CC_k(u) > 0
        P_k(w|u) = P_{k-1}(w|tail(u))                            otherwise
        P_1(w)   = (C_1(w) + 1) / (T + V)

    where C_n is the raw n-gram count and, per Chen & Goodman, every lower
    C_k is a CONTINUATION type count: the number of distinct (k+1)-gram
    types ending in g_k — derived by grouping the level-(k+1) key set by its
    length-k suffix. CC_k(u) = sum_w C_k(u w), N1+_k(u) = distinct w with
    C_k(u w) > 0, T = |level-2 key set|, V = the add-k model's vocabulary
    size; the +1/+V floor gives unseen words nonzero continuation mass (the
    held-out path add-k covers with k). Every quantity DERIVES from the
    (gram, c) count table in tiny per-order re-aggregations — training,
    publish/merge/append, and streaming maintenance are shared verbatim with
    the add-k lifecycle (counts are the model; linearity is untouched).
    Boundary approximation, standard when deriving lower orders from a
    highest-order-only table: sub-gram types occurring ONLY in the last
    n-k-1 positions of a document are invisible to the suffix derivation
    (KenLM's adjusted counts make the same trade).

    Same determinism contract as :func:`lm_score` — integer counts, one
    fixed double D, avg_nll rounded to 6 dp, ppl to 4 dp — so a SQL oracle
    replays the ESTIMATES themselves (text_kn_lm_score at n=2,
    text_kn3_lm_score at n=3 replay the full recursion in DuckDB). CCNet
    parity (order 5) is the same call at n=5 — a parameter, not a rewrite.

    Plan shape mirrors lm_score: per-doc gram multiplicities, 2n-1 left
    equi-joins against count-derived tables (AQE broadcasts them when
    small), one per-doc aggregation. Zero Python anywhere. The output
    column keeps the historical name ``n_bigrams`` (= n-gram occurrences
    scored) so the n=2 serving row's schema is stable.

    For n >= 3 the call itself runs Spark jobs: it checkpoints the derived
    level tables eagerly (the within-call lifetime rule of
    ``queries.served_artifact``, which also notes that the checkpoint is
    lost with its executor).
    """
    n = lm.n
    if n < 2:
        raise ValueError(f"kn_score needs lm.n >= 2, got n={n}")
    d = F.lit(float(discount))

    # per-order count tables: level[n] = raw counts keyed by the full gram;
    # level[k] = continuation type counts keyed by the length-k suffix.
    # For n >= 3 each derived level is localCheckpoint-ed (ADVICE r14):
    # every level[k] is consumed two-to-three times (the level[k-1]
    # derivation, the ctxs[k] derivation, the counts join), so left fully
    # lazy the k-th level would re-run the whole suffix-aggregation chain
    # from the published count table once per consumer — ~9 redundant
    # re-aggregations at n=5. The eager checkpoint computes each level once
    # and lives only as long as this call's plan (served_artifact's
    # lifetime rule). Measured at sf0.1 on 4 cores, six interleaved runs
    # per side, median of per-run medians: order 5 takes 5.1 s this way and
    # 10.9 s fully lazy; order 3 is a wash (1.50 vs 1.57 s). The levels are
    # type-count tables, small relative to the corpus. level[n] itself
    # stays lazy — it is the published parquet scan, and re-scanning
    # parquet beats materializing the full count table. n=2 keeps the
    # fully-lazy plan (one derived level, nothing re-aggregates).
    level: dict[int, DataFrame] = {
        n: lm.bigrams.select(F.col("gram").alias("key"), F.col("c").alias("ck"))
    }
    for k in range(n - 1, 0, -1):
        lk = (
            level[k + 1]
            .select(_suffix(F.col("key"), 2, k).alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("ck"))
        )
        level[k] = lk.localCheckpoint(eager=True) if n >= 3 else lk
    # per-order context denominators + forward continuation type counts
    ctxs: dict[int, DataFrame] = {
        k: level[k]
        .groupBy(_suffix(F.col("key"), 1, k - 1).alias("ctx"))
        .agg(
            F.sum("ck").cast("long").alias("cc"),
            F.count(F.lit(1)).cast("long").alias("nfwd"),
        )
        for k in range(2, n + 1)
    }
    totals = level[2].agg(F.count(F.lit(1)).cast("long").alias("tt")).crossJoin(
        F.broadcast(lm.vocab)
    )

    grams = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(ngrams_all(F.col(text_col), n)).alias("gram"),
    )
    cur = grams.groupBy("_id", "gram").agg(F.count(F.lit(1)).cast("long").alias("w"))
    for k in range(1, n + 1):
        counts_k = level[k].select(
            F.col("key").alias(f"_k{k}"), F.col("ck").alias(f"_c{k}")
        )
        cur = cur.withColumn(f"_k{k}", _suffix(F.col("gram"), n - k + 1, k)).join(
            counts_k, f"_k{k}", "left"
        )
    for k in range(2, n + 1):
        ctx_k = ctxs[k].select(
            F.col("ctx").alias(f"_x{k}"),
            F.col("cc").alias(f"_cc{k}"),
            F.col("nfwd").alias(f"_nf{k}"),
        )
        cur = cur.withColumn(
            f"_x{k}", _suffix(F.col("gram"), n - k + 1, k - 1)
        ).join(ctx_k, f"_x{k}", "left")
    cur = cur.crossJoin(F.broadcast(totals))

    # interpolation fold, bottom-up: P_1 -> P_n as one Column expression
    p = (F.coalesce(F.col("_c1"), F.lit(0)) + 1) / (F.col("tt") + F.col("vsz"))
    for k in range(2, n + 1):
        p = F.when(
            F.coalesce(F.col(f"_cc{k}"), F.lit(0)) > 0,
            F.greatest(F.coalesce(F.col(f"_c{k}"), F.lit(0)) - d, F.lit(0.0))
            / F.col(f"_cc{k}")
            + d * F.col(f"_nf{k}") / F.col(f"_cc{k}") * p,
        ).otherwise(p)
    scored = cur.withColumn("lp", F.log2(p))
    avg_nll = F.round(-F.sum(F.col("w") * F.col("lp")) / F.sum("w"), 6)
    return (
        scored.groupBy("_id")
        .agg(
            F.sum("w").cast("long").alias("n_bigrams"),
            avg_nll.alias("avg_nll"),
            F.round(F.pow(F.lit(2.0), avg_nll), 4).alias("ppl"),
        )
        .withColumnRenamed("_id", id_col)
    )
