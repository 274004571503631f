"""Deduplication queries over the documents table (north-star scope).

Oracle notes: the exact n-gram Jaccard oracle mirrors the inverted-index
formulation in SQL. The MinHash query's output is LSH candidates *verified with
exact Jaccard*, so with the banding parameters used (32 bands x 4 rows, and the
corpus's near-dup pairs all at s >= 0.9 where recall is 1-(1-s^4)^32)
it equals the exact all-pairs result — the oracle asserts exactly that.
The SimHash gate query uses the md5-derived signature (two 32-bit vote
words in one long, operators/dedup.py:_md5_simhash) precisely so DuckDB can
rebuild it bit-for-bit and brute-force the hamming pairs — independently
verifying the banded blocking's pigeonhole recall; production simhash stays
on xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from parqueryd_spark.operators.dedup import (
    exact_dedup,
    minhash_pairs_from_index,
    near_dup_groups,
    ngram_jaccard_pairs,
    simhash_md5_near_pairs,
)
from parqueryd_spark.queries import query, served_artifact
from parqueryd_spark.sources.parquet import load_table, read_resolved

# Shared oracle: exact all-pairs 3-gram-shingle Jaccard >= 0.8 via inverted index.
_EXACT_JACCARD_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in range(1, greatest(len(t)-2, 1)+1)])) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c / (sa.n + sb.n - c) >= 0.8
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text)             AS digest,
           count(*)              AS n_copies,
           min(doc_id)           AS keep_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content digest, keep lowest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@query("dedup_ngram_jaccard", oracle=_EXACT_JACCARD_SQL, bench=True)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (shingle inverted-index join).

    max_prefix_df=None EXPLICITLY (ADVICE r7): this row is hash-compared
    against an exact all-pairs DuckDB oracle, so it must stay exact even on a
    corpus where a true pair's shared prefix shingles all exceed the default
    hot-key cap (df>1000). The capped default remains the scale path —
    dedup_ngram_capped benches it and test_property_prefix_cap.py bounds its
    recall tradeoff."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8, max_prefix_df=None
    )


# DATA DEPENDENCY (ADVICE r7): the capped row reuses the EXACT oracle because
# on this corpus no true pair's shared prefix shingles all exceed df=1000 (the
# cap only drops boilerplate-grade non-discriminative tokens here, verified at
# every test SF). On a corpus violating that, the cap trades recall for linear
# candidate growth — tests/test_property_prefix_cap.py bounds the tradeoff.
# This row registers PAST the gate window (pytest/driver_sim-checked); the
# gate's dedup_ngram_jaccard stays cap-free and data-independent.
@query("dedup_ngram_capped", oracle=_EXACT_JACCARD_SQL, bench=True)
def dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB default for n-gram Jaccard: PPJoin prefix filter PLUS the
    prefix-df hot-key cap (max_prefix_df=1000), which keeps candidate counts
    linear on shared-boilerplate corpora (719k -> 2.4k candidates on the
    1,200-doc boilerplate fixture, BENCH_NOTES_r07.md). Benched separately
    from the exact row so the cap's flat cost stays visible."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8, max_prefix_df=1000
    )


def served_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table's published minhash index (operators/dedup.py:
    minhash_index — (doc, sh, sig) rows, ~1-2% of the text size), kept by
    ``served_artifact`` per sf_dir — the same amortization posture as the
    served ANN indexes: shingle/hash at ingest, every dedup run serves from
    the stored signatures."""
    import os

    from parqueryd_spark.operators.dedup import minhash_index

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        minhash_index(docs, "doc_id", "text", k=3, num_hashes=128).write.mode(
            "overwrite"
        ).parquet(path)

    return read_resolved(spark, [served_artifact("minhash", os.path.abspath(sf_dir), build)])


@query("dedup_minhash_lsh", oracle=_EXACT_JACCARD_SQL, bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs SERVED from the published index — the
    100 TB steady-state posture (VERDICT r11 item #4, matching the ANN
    rows): band keys explode from stored signatures and verification reads
    stored shingle arrays, so document text is never re-read or re-shingled
    per run; the index build amortizes at ingest (served_minhash_index).
    Output is identical to the one-shot minhash_lsh_pairs — same banding,
    same exact-Jaccard verification (pinned in tests/test_operators.py) —
    so the exact all-pairs oracle is unchanged; the one-shot and
    incremental operators stay pytest-covered."""
    index = served_minhash_index(spark, sf_dir)
    return minhash_pairs_from_index(index, num_hashes=128, bands=32, threshold=0.8)


# one-shot semantics restricted to pairs touching the increment (doc_id >=
# 400): exactly what the incremental index path must reproduce
_MINHASH_INC_SQL = _EXACT_JACCARD_SQL + "\n    AND (id_a >= 400 OR id_b >= 400)"


@query("dedup_minhash_incremental", oracle=_MINHASH_INC_SQL)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup under the oracle (r12, mirroring
    dedup_substrings_incremental): the standing corpus (doc_id < 400) is
    summarized once into its minhash index (operators/dedup.py:
    minhash_index — historical text never re-read), and the increment
    (doc_id >= 400) is checked against that index plus itself
    (incremental_minhash_pairs) at O(increment x collision-rate) cost,
    never corpus x corpus. The oracle is the EXACT all-pairs Jaccard
    restricted to pairs touching the increment — hash equality IS the
    incremental-correctness claim at this corpus's similarity profile (all
    true pairs sit at s >= 0.9 where 32x4 banding recall is ~1; the same
    argument as the one-shot row, see module docstring)."""
    from parqueryd_spark.operators.dedup import incremental_minhash_pairs, minhash_index

    docs = load_table(spark, sf_dir, "documents")
    standing = minhash_index(
        docs.filter(F.col("doc_id") < 400), "doc_id", "text", k=3, num_hashes=128
    )
    inc = minhash_index(
        docs.filter(F.col("doc_id") >= 400), "doc_id", "text", k=3, num_hashes=128
    )
    return incremental_minhash_pairs(inc, standing, num_hashes=128, bands=32, threshold=0.8)


@query(
    "dedup_groups",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                   for i in range(1, greatest(len(t)-2, 1)+1)])) AS s
      FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE c / (sa.n + sb.n - c) >= 0.8
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT g.group_id AS group_id, count(*) AS n_docs, max(g.node) AS max_doc_id
    FROM (SELECT node, min(label) AS group_id FROM reach GROUP BY node) g
    GROUP BY g.group_id
    """,
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group resolution: exact Jaccard>=0.8 pairs folded into
    connected components (operators/dedup.py near_dup_groups — driver-side
    min-label-propagation fixpoint, one shuffle join per round), reported per
    group as (group_id = canonical keep-id, n_docs, max_doc_id). The oracle
    recomputes the identical pair set and closes it with a recursive CTE —
    transitive chains (A~B~C without A~C) land in one group on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    groups = near_dup_groups(pairs)
    return groups.groupBy("group_id").agg(
        F.count("*").alias("n_docs"), F.max("doc_id").alias("max_doc_id")
    )


def _word_sig_sql(word: str) -> str:
    """32-bit simhash word in DuckDB SQL: per bit, sign of the +-1 vote sum
    over the shingle-hash list; set bits summed (disjoint powers of two)."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform({word}, h -> ((h >> {b}) & 1) * 2 - 1)) > 0"
        f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )


_SIMHASH_MD5_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), gs AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t)-2, 1)+1)]) AS g
      FROM toks
    ), hs AS (
      SELECT doc_id,
             list_transform(g, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hi,
             list_transform(g, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS lo
      FROM gs
    ), sig AS (
      SELECT doc_id, {_word_sig_sql('hi')} AS sig_hi, {_word_sig_sql('lo')} AS sig_lo
      FROM hs
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sig_hi, b.sig_hi))
                  + bit_count(xor(a.sig_lo, b.sig_lo)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 13
"""


@query("dedup_simhash", oracle=_SIMHASH_MD5_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates on the md5-derived signature,
    radius 13. The oracle rebuilds the identical signature in DuckDB (md5
    prefix/suffix 32-bit words, same vote arithmetic; its two words are the
    high and low halves of Spark's one long) and
    brute-forces ALL pairs with the hamming filter; Spark runs the banded
    16x4-bit blocking — pigeonhole guarantees equality for radius <= 15, so
    the hash match externally verifies the blocking machinery's recall.
    Production near-dup runs use the xxhash64 single-long path
    (simhash_near_pairs) whose scale-safe radius-3/4-band default is
    asserted in tests; radius 13 here matches the full-recall gate posture
    on this corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_md5_near_pairs(docs, "doc_id", "text", max_hamming=13).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_SUBSTR_N = 8

_SUBSTRING_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), wins AS (
      SELECT doc_id, i-1 AS pos, array_to_string(ts[i:i+{_SUBSTR_N}-1], ' ') AS gram
      FROM toks, LATERAL unnest(range(1, len(ts)-{_SUBSTR_N}+2)) AS t(i)
    ), grams AS (
      SELECT gram, count(*) AS c, min(struct_pack(d := doc_id, p := pos)) AS keep
      FROM wins GROUP BY gram
    ), marked AS (
      SELECT w.doc_id, w.pos,
             (w.doc_id = g.keep.d AND w.pos = g.keep.p) AS is_keep
      FROM wins w JOIN grams g USING (gram) WHERE g.c >= 2
    ), dup_cov AS (
      SELECT DISTINCT doc_id, idx
      FROM marked, LATERAL unnest(range(pos, pos+{_SUBSTR_N})) AS t(idx)
      WHERE NOT is_keep
    ), keep_cov AS (
      SELECT DISTINCT doc_id, idx
      FROM marked, LATERAL unnest(range(pos, pos+{_SUBSTR_N})) AS t(idx)
      WHERE is_keep
    ), dropped AS (
      SELECT doc_id, idx FROM dup_cov EXCEPT SELECT doc_id, idx FROM keep_cov
    ), affected AS (
      SELECT DISTINCT doc_id FROM dropped
    ), tokpos AS (
      SELECT toks.doc_id, i-1 AS idx, ts[i] AS tok
      FROM toks JOIN affected USING (doc_id), LATERAL unnest(range(1, len(ts)+1)) AS t(i)
    ), kept AS (
      SELECT tp.doc_id, tp.idx, tp.tok
      FROM tokpos tp LEFT JOIN dropped d ON tp.doc_id = d.doc_id AND tp.idx = d.idx
      WHERE d.doc_id IS NULL
    )
    SELECT toks.doc_id AS doc,
           CAST(len(toks.ts) AS BIGINT) AS n_tokens,
           CAST(len(toks.ts) - count(kept.idx) AS BIGINT) AS n_dropped,
           coalesce(string_agg(kept.tok, ' ' ORDER BY kept.idx), '') AS dedup_text
    FROM toks JOIN affected USING (doc_id)
    LEFT JOIN kept ON kept.doc_id = toks.doc_id
    GROUP BY toks.doc_id, len(toks.ts)
"""


@query("dedup_substrings", oracle=_SUBSTRING_SQL, bench=True)
def dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at ARBITRARY token boundaries (VERDICT r10 item
    #4 — the distributed suffix-array analog, operators/dedup.py:
    substring_dedup): every repeated substring of >= 8 tokens at any offset
    keeps only its first corpus-wide occurrence; affected documents come
    back rebuilt (doc, n_tokens, n_dropped, dedup_text). The oracle
    reconstructs the full set-based semantics — sliding windows, min-struct
    keepers, dup-vs-keeper coverage, EXCEPT, ordered token reassembly — so
    the dropped token SET and the rebuilt TEXT are value-checked
    end-to-end, not just counts. A quadratic pure-Python reference pins the
    operator on fixtures and randomized corpora in tests/test_operators.py.

    Serving plan: droplist + apply_token_droplist (pinned equal to the
    direct rebuild) — token text never crosses a shuffle, documents rebuild
    by a per-doc index filter; measured ~25% faster than the token-grain
    anti-join rebuild at sf0.1 (2.05 s vs 2.72 s). Prefer the direct
    rebuild only when drop lists per doc are pathologically long."""
    from parqueryd_spark.operators.dedup import apply_token_droplist, substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    drops = substring_dedup(docs, "doc_id", "text", min_tokens=_SUBSTR_N, mode="droplist")
    return apply_token_droplist(docs, drops, "doc_id", "text").where(
        F.col("n_dropped") > 0
    )


# one-shot semantics over the WHOLE table, output restricted to the increment
# (doc_id >= 400): exactly what the incremental path must reproduce. The
# final SELECT groups by doc_id, so a HAVING filter restricts the output docs.
_SUBSTR_INC_SQL = _SUBSTRING_SQL + "\n    HAVING toks.doc_id >= 400"


@query("dedup_substrings_incremental", oracle=_SUBSTR_INC_SQL)
def dedup_substrings_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup under the driver gate: the standing
    corpus (doc_id < 400) is summarized ONCE into its distinct-window-digest
    index (operators/dedup.py:substring_index — historical text never
    re-read), and the increment (doc_id >= 400) dedups against that index
    plus itself (substring_dedup_increment) at O(increment) cost. The oracle
    runs the ONE-SHOT semantics over the whole table restricted to increment
    docs — hash equality IS the incremental-correctness claim (increment ids
    sort after standing ids, the natural ingest order; equivalence also
    pytest-pinned on randomized corpora)."""
    from parqueryd_spark.operators.dedup import substring_dedup_increment, substring_index

    docs = load_table(spark, sf_dir, "documents")
    idx = substring_index(docs.filter(F.col("doc_id") < 400), "doc_id", "text", _SUBSTR_N)
    return substring_dedup_increment(
        docs.filter(F.col("doc_id") >= 400), idx, "doc_id", "text", _SUBSTR_N
    )


# benchmark set = doc_id % 5 == 0, training corpus = the rest; every corpus
# window whose 8-gram text appears ANYWHERE in the benchmark set is scrubbed
# (no keeper — unlike dedup, every contaminated occurrence drops)
_SUBSTR_DECON_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), bwins AS (
      SELECT DISTINCT array_to_string(ts[i:i+{_SUBSTR_N}-1], ' ') AS gram
      FROM toks, LATERAL unnest(range(1, len(ts)-{_SUBSTR_N}+2)) AS t(i)
      WHERE doc_id % 5 = 0
    ), cwins AS (
      SELECT doc_id, i-1 AS pos, array_to_string(ts[i:i+{_SUBSTR_N}-1], ' ') AS gram
      FROM toks, LATERAL unnest(range(1, len(ts)-{_SUBSTR_N}+2)) AS t(i)
      WHERE doc_id % 5 != 0
    ), dropped AS (
      SELECT DISTINCT doc_id, idx
      FROM cwins JOIN bwins USING (gram),
           LATERAL unnest(range(pos, pos+{_SUBSTR_N})) AS t(idx)
    ), affected AS (
      SELECT DISTINCT doc_id FROM dropped
    ), tokpos AS (
      SELECT toks.doc_id, i-1 AS idx, ts[i] AS tok
      FROM toks JOIN affected USING (doc_id), LATERAL unnest(range(1, len(ts)+1)) AS t(i)
    ), kept AS (
      SELECT tp.doc_id, tp.idx, tp.tok
      FROM tokpos tp LEFT JOIN dropped d ON tp.doc_id = d.doc_id AND tp.idx = d.idx
      WHERE d.doc_id IS NULL
    )
    SELECT toks.doc_id AS doc,
           CAST(len(toks.ts) AS BIGINT) AS n_tokens,
           CAST(len(toks.ts) - count(kept.idx) AS BIGINT) AS n_dropped,
           coalesce(string_agg(kept.tok, ' ' ORDER BY kept.idx), '') AS dedup_text
    FROM toks JOIN affected USING (doc_id)
    LEFT JOIN kept ON kept.doc_id = toks.doc_id
    GROUP BY toks.doc_id, len(toks.ts)
"""


@query("pipeline_substring_decontaminate", oracle=_SUBSTR_DECON_SQL)
def pipeline_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination at SUBSTRING grain (VERDICT r11 item #7 —
    operators/dedup.py:substring_decontaminate): the held-out set
    (doc_id % 5 == 0, standing in for an eval benchmark) is summarized once
    into its substring_index; every >= 8-token window of the remaining
    corpus whose content appears in that index is scrubbed at ARBITRARY
    offsets — no keeper, every contaminated occurrence drops — and affected
    documents come back rebuilt. Strictly stronger than the k-gram
    document-DROP decontamination rows (pipeline_decontaminate /
    pipeline_bloom_decontaminate): leakage is removed surgically while the
    rest of the document survives. The oracle value-checks dropped token
    sets AND rebuilt text end-to-end; the streaming face
    (streaming/dedup.py:stream_substring_decontaminate) is batch-equivalence
    pinned in tests/test_streaming_dedup.py."""
    from parqueryd_spark.operators.dedup import substring_decontaminate, substring_index

    docs = load_table(spark, sf_dir, "documents")
    taint = substring_index(
        docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text", _SUBSTR_N
    )
    return substring_decontaminate(
        docs.filter(F.col("doc_id") % 5 != 0), taint, "doc_id", "text", _SUBSTR_N
    )


@query(
    "text_repeated_passages",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), wins AS (
      SELECT doc_id, i-1 AS pos, array_to_string(ts[i:i+{_SUBSTR_N}-1], ' ') AS gram
      FROM toks, LATERAL unnest(range(1, len(ts)-{_SUBSTR_N}+2)) AS t(i)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
           min(struct_pack(d := doc_id, p := pos)).d AS first_doc,
           CAST(min(struct_pack(d := doc_id, p := pos)).p AS BIGINT) AS first_pos
    FROM wins GROUP BY gram HAVING count(*) >= 2
    ORDER BY n_occurrences DESC, gram ASC LIMIT 10
    """,
)
def text_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DIAGNOSTIC next to substring dedup: the corpus's most
    repeated 8-token passages (boilerplate report — what Dolma-style
    pipelines eyeball before choosing dedup thresholds), with each passage's
    first corpus occurrence. One map-side-combined groupBy over the sliding
    windows + TakeOrdered top-10; ties break on the passage text. At 100 TB
    run the count on the 16-byte digests first and join the top-k back for
    exemplar text — here the direct gram groupBy keeps the row one job."""
    docs = load_table(spark, sf_dir, "documents")
    from parqueryd_spark.operators.text import tokens as _tokens

    n = _SUBSTR_N
    wins = docs.select(
        F.col("doc_id").alias("doc"),
        _tokens(F.col("text")).alias("_toks"),
    ).select(
        "doc",
        F.posexplode(
            F.transform(
                F.when(F.size("_toks") >= n, F.sequence(F.lit(0), F.size("_toks") - n))
                .otherwise(F.array().cast("array<int>")),
                lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, n)),
            )
        ).alias("pos", "gram"),
    )
    return (
        wins.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min(F.struct("doc", "pos")).alias("keep"),
        )
        .where(F.col("n_occurrences") >= 2)
        .select(
            "gram",
            "n_occurrences",
            F.col("keep.doc").alias("first_doc"),
            F.col("keep.pos").cast("long").alias("first_pos"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(10)
    )
