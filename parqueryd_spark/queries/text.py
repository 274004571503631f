"""Text-analysis queries over the documents table (north-star scope):
token stats, quality scoring, language ID, fingerprinting — each with an exact
DuckDB oracle mirroring the same arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parqueryd_spark.operators import text as T
from parqueryd_spark.queries import increment_of, query, served_artifact
from parqueryd_spark.sources.parquet import load_table

_STOP_SQL = "('the','a','an','and','of','to','in','is','it')"


_LANG_SCORE_SQL = {
    lang: f"len(list_filter(string_split(text, ' '), t -> t IN ({', '.join(repr(m) for m in ms)})))"
    for lang, ms in T.LANG_MARKERS.items()
}
_BEST_SQL = f"greatest({', '.join(_LANG_SCORE_SQL[lang] for lang in T.LANG_ORDER)})"
_PRED_SQL = "CASE "
for _lang in T.LANG_ORDER:
    _PRED_SQL += f"WHEN {_LANG_SCORE_SQL[_lang]} > 0 AND {_LANG_SCORE_SQL[_lang]} = {_BEST_SQL} THEN '{_lang}' "
_PRED_SQL += "ELSE 'unknown' END"


@query(
    "text_token_lang_stats",
    oracle=f"""
    SELECT {_PRED_SQL} AS pred_lang,
           count(doc_id) AS n_docs,
           count(CASE WHEN {_PRED_SQL} = lang THEN 1 END) AS n_label_match,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)    AS total_tokens,
           avg(len(string_split(text, ' ')))                    AS avg_tokens,
           max(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]'))) AS max_regex_tokens,
           avg(n_chars)                                         AS avg_chars
    FROM documents
    GROUP BY 1
    """,
    bench=True,
)
def text_token_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID + token counting in one aggregation (merged from
    text_language_id + text_token_stats to fit the gate window):
    marker-stopword language prediction (n-gram heuristic, deterministic
    tie-break) compared against the table's lang label, with whitespace and
    BPE-ish-regex token statistics per predicted language."""
    docs = load_table(spark, sf_dir, "documents")
    pred = T.predict_lang("text")
    return (
        docs.select(pred.alias("pred_lang"), "lang", "text", "n_chars", "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count("doc_id").alias("n_docs"),
            F.count(F.when(F.col("pred_lang") == F.col("lang"), 1)).alias("n_label_match"),
            F.sum(T.token_count("text")).cast("long").alias("total_tokens"),
            F.avg(T.token_count("text")).alias("avg_tokens"),
            F.max(T.regex_token_count("text")).alias("max_regex_tokens"),
            F.avg("n_chars").alias("avg_chars"),
        )
    )


@query(
    "text_edit_distance",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 60 AND b.p_partkey < 60
      AND levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-match pairs over short strings (typo-level dedup for
    names/titles; shingle methods cover long documents)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 60)
    a = part.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"))
    b = part.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 4)
        .select("id_a", "id_b", "edit_dist")
    )


@query(
    "text_winnow_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 100
    ), seqs AS (
      SELECT doc_id,
             [array_to_string(t[i:i+2], ' ')
              for i in range(1, greatest(len(t)-2, 1)+1)] AS sq
      FROM toks
    ), hs AS (
      SELECT doc_id, list_transform(sq, s -> md5(s)) AS h FROM seqs
    )
    SELECT doc_id,
           CAST(len(list_distinct(list_transform(
             range(0, greatest(len(h) - 4, 0) + 1),
             i -> list_aggregate(h[(i+1):(i+4)], 'min')
           ))) AS BIGINT) AS n_fingerprints
    FROM hs
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint counts per document, on the md5-hex variant
    (operators/text.py:winnow_fingerprints_md5) whose per-window minima are
    lexicographic over fixed-width hex — the oracle rebuilds the identical
    window/min/distinct pipeline in DuckDB. Production fingerprinting uses
    the xxhash64-long variant (winnow_fingerprints, ~10x cheaper hashing);
    its near-dup overlap property is asserted in tests/test_operators.py."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.size(T.winnow_fingerprints_md5("text")).cast("long").alias("n_fingerprints"),
    )


@query(
    "text_curation_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             least(length(text) / 400.0, 1.0) * 0.5
             + (len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL}))
                / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
             - ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                / CAST(length(text) AS DOUBLE)) AS q,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
             (1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
                  / len(string_split(text, ' ')) <= 0.60)
             AND (list_max(list_transform(list_distinct(string_split(text, ' ')),
                      d -> len(list_filter(string_split(text, ' '), x -> x = d))))::DOUBLE
                  / len(string_split(text, ' ')) <= 0.20)
             AND (CASE WHEN len(string_split(text, ' ')) >= 2 THEN
                    1.0 - len(list_distinct(list_transform(
                            range(1, len(string_split(text, ' '))),
                            i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])))::DOUBLE
                        / (len(string_split(text, ' ')) - 1)
                  ELSE 0.0 END <= 0.40) AS rep_ok
      FROM documents
    ),
    totals AS (
      SELECT source, count(*) AS n_total, round(avg(q), 4) AS avg_quality_all
      FROM scored GROUP BY source
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.35 AND rep_ok),
    keepers AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY fp),
    surv AS (
      SELECT source, count(*) AS n_kept, round(avg(q), 4) AS avg_quality_kept
      FROM kept WHERE doc_id IN (SELECT keep_id FROM keepers)
      GROUP BY source
    )
    SELECT t.source, t.n_total, t.avg_quality_all,
           CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept, s.avg_quality_kept
    FROM totals t LEFT JOIN surv s ON s.source = t.source
    """,
)
def text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pipeline in one plan (absorbs the
    former text_quality_score query as its per-source pre-filter stats):
    quality heuristic (length band + stopword ratio - punctuation ratio) +
    Gopher-style repetition gate (dup-token / top-token / dup-2-gram
    fractions, operators/text.py:repetition_ok) -> filter -> exact dedup on
    the bag-of-words fingerprint (keep lowest id) -> per-source before/after
    stats. One scan computes score, fingerprint, and repetition signals
    together; dedup is a fingerprint-keyed aggregate plus a semi join back,
    so document text never shuffles. The repetition fractions are ratios of
    small integers — exact IEEE division both engines reproduce bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        T.quality_score("text").alias("q"),
        T.fingerprint("text").alias("fp"),
        T.repetition_ok("text").alias("rep_ok"),
    )
    totals = scored.groupBy("source").agg(
        F.count("*").alias("n_total"), F.round(F.avg("q"), 4).alias("avg_quality_all")
    )
    kept = scored.filter((F.col("q") >= 0.35) & F.col("rep_ok"))
    keepers = kept.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    surv = (
        kept.join(keepers, kept.doc_id == keepers.keep_id, "left_semi")
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.round(F.avg("q"), 4).alias("avg_quality_kept"))
    )
    return totals.join(surv, "source", "left").select(
        "source",
        "n_total",
        "avg_quality_all",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        "avg_quality_kept",
    )


@query(
    "text_ngram_stats",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT 'tfidf' AS kind, doc_id, token AS term, tfidf AS score
    FROM (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(nd.n_docs / CAST(dfreq.df AS DOUBLE)), 4) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(nd.n_docs / CAST(dfreq.df AS DOUBLE)), 4) DESC,
                        tf.token ASC
             ) AS rn
      FROM tf JOIN dfreq USING (token) CROSS JOIN nd
    )
    WHERE rn <= 3 AND doc_id < 100
    UNION ALL
    SELECT 'bigram' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           bigram AS term, CAST(n_occurrences AS DOUBLE) AS score
    FROM (
      SELECT bigram, count(*) AS n_occurrences
      FROM (
        SELECT unnest(list_transform(
                 range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
               )) AS bigram
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      )
      GROUP BY bigram
      ORDER BY n_occurrences DESC, bigram ASC
      LIMIT 20
    )
    """,
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model statistics as one tagged union (merged from
    text_tfidf_top_terms + text_bigram_counts to fit the gate window):

    - 'tfidf': top-3 TF-IDF terms per document (corpus-wide idf broadcast
      back onto the (doc, token) grain), ranked on round(tfidf, 4) with a
      token tie-break so cross-engine ln() ulp noise cannot reorder the cut.
    - 'bigram': corpus-wide top-20 bigram occurrence counts (every
      occurrence counted, unlike the distinct shingle sets used for
      Jaccard); integer-count ties broken by bigram."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    terms = T.tfidf_terms(docs, "doc_id", "text").withColumn("tfidf", F.round("tfidf", 4))
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    tfidf = (
        terms.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc") < 100))
        .select(
            F.lit("tfidf").alias("kind"),
            F.col("doc").alias("doc_id"),
            F.col("token").alias("term"),
            F.col("tfidf").alias("score"),
        )
    )
    bigrams = (
        load_table(spark, sf_dir, "documents")
        .filter(F.size(T.tokens("text")) >= 2)
        .select(F.explode(T.ngrams_all("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
        .limit(20)
        .select(
            F.lit("bigram").alias("kind"),
            F.lit(None).cast("long").alias("doc_id"),
            F.col("bigram").alias("term"),
            F.col("n_occurrences").cast("double").alias("score"),
        )
    )
    return tfidf.unionByName(bigrams)


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint,
           length(text) AS text_len
    FROM documents
    WHERE doc_id < 100
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical bag-of-words md5 fingerprint (order-insensitive content hash)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fingerprint"),
        F.length("text").alias("text_len"),
    )


_BM25_TERMS = ["hash", "join", "vector", "stream"]
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle(limit: int = 15) -> str:
    tf_cols = ",\n           ".join(
        f"len(list_filter(string_split(text, ' '), t -> t = '{term}')) AS tf_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    term_scores = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * {_BM25_K1 + 1.0}) / (tf_{i} + {_BM25_K1} * ({1.0 - _BM25_B}"
        f" + {_BM25_B} * dl / avgdl)) ELSE 0.0 END)"
        for i in range(len(_BM25_TERMS))
    )
    n_match = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
           len(string_split(text, ' ')) AS dl,
           {tf_cols}
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl,
           {df_cols}
      FROM base
    )
    SELECT doc_id,
           CAST({n_match} AS BIGINT) AS n_match,
           round({term_scores}, 4) AS bm25
    FROM base, stats
    WHERE {n_match} > 0
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT {limit}
    """


@query("text_bm25_search", oracle=_bm25_oracle(), bench=True)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval: top-15 documents for a 4-term query,
    scored corpus-statistically (Lucene idf variant). The document grain is
    never exploded or shuffled — per-term tf comes from the token array, the
    corpus stats are one broadcast row (see operators/text.py:bm25_scores)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = T.bm25_scores(docs, "doc_id", "text", _BM25_TERMS, _BM25_K1, _BM25_B)
    return (
        scored.select(
            F.col("doc").alias("doc_id"),
            "n_match",
            F.round("score", 4).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(15)
    )


_HYBRID_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    "    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@query(
    "hybrid_search_rerank",
    oracle=f"""
    WITH bm AS ({_bm25_oracle(limit=20)})
    SELECT bm.doc_id, bm.n_match, bm.bm25,
           round({_HYBRID_COS_SQL}, 6) AS cos_sim
    FROM bm
    JOIN embeddings b ON b.vec_id = bm.doc_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) a
    ORDER BY cos_sim DESC, doc_id ASC
    LIMIT 10
    """,
)
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a lexical BM25 top-20 shortlist re-ranked by
    embedding cosine against a query vector — the two-stage shape production
    search uses (cheap sparse recall, dense precision on the shortlist). The
    re-rank work is |shortlist|, not |corpus|: the shortlist joins the
    embeddings table on its key (broadcast — 20 rows) and the query vector is
    one broadcast row. Cosines are double-precision sequential dot products
    in both engines, so ranks agree to the bit."""
    from parqueryd_spark.operators.similarity import as_double, cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = (
        T.bm25_scores(docs, "doc_id", "text", _BM25_TERMS, _BM25_K1, _BM25_B)
        .select(
            F.col("doc").alias("doc_id"),
            "n_match",
            F.round("score", 4).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    qvec = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        F.broadcast(shortlist)
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .crossJoin(F.broadcast(qvec))
        .select(
            "doc_id",
            "n_match",
            "bm25",
            F.round(cosine(as_double("embedding"), as_double("qe")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@query(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS big, t[i] AS prev
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ),
    bi AS (SELECT big, count(*) AS cb FROM grams GROUP BY big),
    uni AS (
      SELECT tok, count(*) AS cu
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((bi.cb + 1.0) / (uni.cu + 1.0 * v.v))), 4) AS avg_logprob
    FROM grams g
    JOIN bi ON bi.big = g.big
    JOIN uni ON uni.tok = g.prev
    CROSS JOIN v
    GROUP BY g.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring (operators/text.py:bigram_logprob): mean
    ln P(token | previous) under the corpus's own add-1-smoothed bigram
    distribution — flags word-salad whose unigram stats look normal."""
    from parqueryd_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_logprob(docs, "doc_id", "text")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        F.round("avg_logprob", 4).alias("avg_logprob"),
    )


@query(
    "text_encode_ids",
    oracle="""
    WITH vocab AS (
      SELECT tok AS token,
             CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) - 1 AS INT) AS token_id
      FROM (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
      )
    ),
    toks AS (
      SELECT doc_id, i AS pos, string_split(text, ' ')[i+1] AS token
      FROM documents, UNNEST(range(0, len(string_split(text, ' ')))) AS u(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(array_to_string(array_agg(COALESCE(v.token_id, -1) ORDER BY t.pos), ',')) AS ids_md5
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY doc_id
    """,
)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding (operators/text.py:encode_documents): every document
    as an order-preserved input_ids array under a frequency-ranked
    vocabulary; the gate row compares an md5 over the comma-joined ids so the
    whole array round-trips exactly."""
    from parqueryd_spark.operators.text import encode_documents

    docs = load_table(spark, sf_dir, "documents")
    enc = encode_documents(docs, "doc_id", "text")
    return enc.select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        F.md5(F.concat_ws(",", F.transform("input_ids", lambda x: x.cast("string")))).alias(
            "ids_md5"
        ),
    )


@query(
    "text_hash_embeddings",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok || 'embed'), 1, 8)) AS BIGINT) % 16 AS INT) AS b,
             CASE WHEN CAST(('0x' || substr(md5(tok || 'embed'), 9, 1)) AS INT) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM toks WHERE tok <> ''
    ), agg AS (
      SELECT doc_id, b, SUM(s) AS v FROM h GROUP BY doc_id, b
    ), per_doc AS (
      SELECT doc_id,
             CAST(SUM(v * v) AS BIGINT) AS l2_sq,
             CAST(COUNT(*) FILTER (WHERE v <> 0) AS INT) AS nonzero_dims,
             CAST(COALESCE(SUM(v) FILTER (WHERE b = 0), 0) AS BIGINT) AS dim0
      FROM agg GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.l2_sq, 0) AS l2_sq,
           COALESCE(p.nonzero_dims, 0) AS nonzero_dims,
           COALESCE(p.dim0, 0) AS dim0
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embedder (operators/text.py:hash_embed — one md5
    bucket+sign per token, per-doc sign sums, dim=16) reduced to exact
    per-doc scalars (squared L2 norm, nonzero dimension count, dimension 0)
    so the driver value-checks the WHOLE vector pipeline against DuckDB's
    identical md5 arithmetic — the training-free embedding that makes
    documents → embeddings → ANN index runnable end-to-end on text alone.
    Components are integer-valued sign sums, so the comparison is exact,
    not float-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    emb = T.hash_embed(docs, "doc_id", "text", dim=16)
    return emb.select(
        "doc_id",
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        .cast("bigint")
        .alias("l2_sq"),
        F.size(F.filter("embedding", lambda x: x != 0.0)).alias("nonzero_dims"),
        F.element_at("embedding", 1).cast("bigint").alias("dim0"),
    )


# Full add-0.5 bigram train+score replay in SQL: train on the whole corpus,
# score doc_id < 300. Shared by text_ngram_lm_score (one-shot published
# counts) and text_lm_compacted_score (per-increment counts folded to a
# batch=-1 generation) — count linearity plus the pinned compaction fold
# make both plans answer the SAME oracle bit-for-bit.
_LM2_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS gram
      FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT gram, count(*) AS c FROM grams GROUP BY gram
    ), ctx AS (
      SELECT string_split(gram, ' ')[1] AS prev, sum(c) AS cc FROM bg GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT string_split(gram, ' ')[2]) + 1 AS vsz FROM bg
    ), sc AS (
      SELECT doc_id, gram, count(*) AS w FROM grams WHERE doc_id < 300
      GROUP BY doc_id, gram
    ), j AS (
      SELECT sc.doc_id, sc.w,
             log2((coalesce(bg.c, 0) + 0.5) / (coalesce(ctx.cc, 0) + 0.5 * v.vsz)) AS lp
      FROM sc
      LEFT JOIN bg USING (gram)
      LEFT JOIN ctx ON string_split(sc.gram, ' ')[1] = ctx.prev
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(sum(w) AS BIGINT) AS n_bigrams,
           round(-sum(w * lp) / sum(w), 6) AS avg_nll,
           round(pow(2, round(-sum(w * lp) / sum(w), 6)), 4) AS ppl
    FROM j GROUP BY doc_id
    """


@query("text_ngram_lm_score", oracle=_LM2_SQL, bench=True)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/lm.py): an add-0.5 bigram LM
    trained on the WHOLE documents corpus in one scan (counts are the model),
    then per-document cross-entropy (avg_nll, 6 dp) and perplexity for the
    doc_id < 300 slice via two count-table equi-joins — all JVM Column
    arithmetic, zero Python. The oracle rebuilds the ENTIRE train+score
    pipeline in SQL from the same integer counts, so the driver value-checks
    the perplexity ESTIMATES themselves (the curation signal Wenzek et al.
    2020 filter on), not a bound."""
    from parqueryd_spark.operators.lm import lm_score

    docs = load_table(spark, sf_dir, "documents")
    lm = _served_lm(spark, sf_dir)
    return lm_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm, "text")


# Full interpolated-KN bigram replay in SQL: train on the whole corpus,
# score doc_id < 300. Shared by text_kn_lm_score (one-shot counts) and
# text_kn_lm_incremental (merged per-increment counts) — count linearity
# makes both plans answer the SAME oracle bit-for-bit.
_KN2_SQL = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS gram
      FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT gram, count(*) AS c FROM grams GROUP BY gram
    ), ctx AS (
      SELECT string_split(gram, ' ')[1] AS prev, sum(c) AS cc, count(*) AS n1p_fwd
      FROM bg GROUP BY 1
    ), cont AS (
      SELECT string_split(gram, ' ')[2] AS w2, count(*) AS n1p_bwd FROM bg GROUP BY 1
    ), tot AS (
      SELECT count(*) AS tt,
             (SELECT count(DISTINCT string_split(gram, ' ')[2]) + 1 FROM bg) AS vsz
      FROM bg
    ), sc AS (
      SELECT doc_id, gram, count(*) AS w FROM grams WHERE doc_id < 300
      GROUP BY doc_id, gram
    ), j AS (
      SELECT sc.doc_id, sc.w,
             log2(CASE WHEN coalesce(ctx.cc, 0) > 0
                  THEN greatest(coalesce(bg.c, 0) - 0.75, 0) / ctx.cc
                       + 0.75 * ctx.n1p_fwd / ctx.cc
                         * ((coalesce(cont.n1p_bwd, 0) + 1) / (tot.tt + tot.vsz))
                  ELSE (coalesce(cont.n1p_bwd, 0) + 1) / (tot.tt + tot.vsz)
                  END) AS lp
      FROM sc
      LEFT JOIN bg USING (gram)
      LEFT JOIN ctx ON string_split(sc.gram, ' ')[1] = ctx.prev
      LEFT JOIN cont ON string_split(sc.gram, ' ')[2] = cont.w2
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(sum(w) AS BIGINT) AS n_bigrams,
           round(-sum(w * lp) / sum(w), 6) AS avg_nll,
           round(pow(2, round(-sum(w * lp) / sum(w), 6)), 4) AS ppl
    FROM j GROUP BY doc_id
    """


@query("text_kn_lm_score", oracle=_KN2_SQL, bench=True)
def text_kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney LM quality scoring (operators/lm.py:kn_score)
    — the KenLM-standard smoothing, served from the SAME published count
    dataset as text_ngram_lm_score (continuation/context type counts are two
    tiny re-aggregations of the count table; the train/publish/append/stream
    lifecycle is shared verbatim). Scores the doc_id < 300 slice; the oracle
    rebuilds the full KN pipeline in SQL from the same integer counts, so
    the driver value-checks the KN perplexities themselves. The held-out
    unseen-gram/unseen-word paths (which this same-corpus slice cannot
    exercise) are pinned against a pure-Python KN reference in
    tests/test_lm.py."""
    from parqueryd_spark.operators.lm import kn_score

    docs = load_table(spark, sf_dir, "documents")
    lm = _served_lm(spark, sf_dir)
    return kn_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm, "text")


@query(
    "text_kn3_lm_score",
    bench=True,
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS gram
      FROM toks WHERE len(t) >= 3
    ), tg AS (
      SELECT gram, count(*) AS c FROM grams GROUP BY gram
    ), c2 AS (
      SELECT array_to_string(string_split(gram, ' ')[2:3], ' ') AS key, count(*) AS ck
      FROM tg GROUP BY 1
    ), c1 AS (
      SELECT string_split(key, ' ')[2] AS key, count(*) AS ck FROM c2 GROUP BY 1
    ), x3 AS (
      SELECT array_to_string(string_split(gram, ' ')[1:2], ' ') AS ctx,
             sum(c) AS cc, count(*) AS nf
      FROM tg GROUP BY 1
    ), x2 AS (
      SELECT string_split(key, ' ')[1] AS ctx, sum(ck) AS cc, count(*) AS nf
      FROM c2 GROUP BY 1
    ), tot AS (
      SELECT (SELECT count(*) FROM c2) AS tt,
             (SELECT count(DISTINCT string_split(gram, ' ')[3]) + 1 FROM tg) AS vsz
    ), sc AS (
      SELECT doc_id, gram, count(*) AS w FROM grams WHERE doc_id < 300
      GROUP BY doc_id, gram
    ), j0 AS (
      SELECT sc.doc_id, sc.w, tg.c, x3.cc AS cc3, x3.nf AS nf3,
             c2.ck AS ck2, x2.cc AS cc2, x2.nf AS nf2, c1.ck AS ck1,
             tot.tt, tot.vsz
      FROM sc
      LEFT JOIN tg USING (gram)
      LEFT JOIN c2 ON array_to_string(string_split(sc.gram, ' ')[2:3], ' ') = c2.key
      LEFT JOIN c1 ON string_split(sc.gram, ' ')[3] = c1.key
      LEFT JOIN x3 ON array_to_string(string_split(sc.gram, ' ')[1:2], ' ') = x3.ctx
      LEFT JOIN x2 ON string_split(sc.gram, ' ')[2] = x2.ctx
      CROSS JOIN tot
    ), j1 AS (
      SELECT *, (coalesce(ck1, 0) + 1) / (tt + vsz) AS p1 FROM j0
    ), j2 AS (
      SELECT *, CASE WHEN coalesce(cc2, 0) > 0
                THEN greatest(coalesce(ck2, 0) - 0.75, 0) / cc2
                     + 0.75 * nf2 / cc2 * p1
                ELSE p1 END AS p2
      FROM j1
    ), j3 AS (
      SELECT doc_id, w,
             log2(CASE WHEN coalesce(cc3, 0) > 0
                  THEN greatest(coalesce(c, 0) - 0.75, 0) / cc3
                       + 0.75 * nf3 / cc3 * p2
                  ELSE p2 END) AS lp
      FROM j2
    )
    SELECT doc_id,
           CAST(sum(w) AS BIGINT) AS n_bigrams,
           round(-sum(w * lp) / sum(w), 6) AS avg_nll,
           round(pow(2, round(-sum(w * lp) / sum(w), 6)), 4) AS ppl
    FROM j3 GROUP BY doc_id
    """,
)
def text_kn3_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 interpolated Kneser–Ney scoring (operators/lm.py:kn_score,
    order-n since r14 — VERDICT r13 item #6): trains/publishes a TRIGRAM
    count dataset once per process (the shared lm_publish lifecycle at n=3),
    then scores the doc_id < 300 slice with the full two-level KN recursion
    — top level on raw trigram counts, middle level on continuation type
    counts derived from the trigram key set, +1/+V floored unigram
    continuation at the bottom. The oracle replays the ENTIRE recursion in
    SQL (per-order CTEs mirror the per-order count tables), so the driver
    value-checks order-3 KN perplexities themselves; CCNet parity (order 5)
    is the same call at n=5, pinned against the pure-Python reference in
    tests/test_lm.py. Column named n_bigrams for schema stability with the
    n=2 row (it counts scored n-grams)."""
    from parqueryd_spark.operators.lm import kn_score

    docs = load_table(spark, sf_dir, "documents")
    lm3 = _served_lm(spark, sf_dir, n=3)
    return kn_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm3, "text")


@query(
    "text_kn5_lm_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS gram
      FROM toks WHERE len(t) >= 5
    ), t5 AS (
      SELECT gram, count(*) AS c FROM grams GROUP BY gram
    ), c4 AS (
      SELECT array_to_string(string_split(gram, ' ')[2:5], ' ') AS key, count(*) AS ck
      FROM t5 GROUP BY 1
    ), c3 AS (
      SELECT array_to_string(string_split(key, ' ')[2:4], ' ') AS key, count(*) AS ck
      FROM c4 GROUP BY 1
    ), c2 AS (
      SELECT array_to_string(string_split(key, ' ')[2:3], ' ') AS key, count(*) AS ck
      FROM c3 GROUP BY 1
    ), c1 AS (
      SELECT string_split(key, ' ')[2] AS key, count(*) AS ck FROM c2 GROUP BY 1
    ), x5 AS (
      SELECT array_to_string(string_split(gram, ' ')[1:4], ' ') AS ctx,
             sum(c) AS cc, count(*) AS nf
      FROM t5 GROUP BY 1
    ), x4 AS (
      SELECT array_to_string(string_split(key, ' ')[1:3], ' ') AS ctx,
             sum(ck) AS cc, count(*) AS nf
      FROM c4 GROUP BY 1
    ), x3 AS (
      SELECT array_to_string(string_split(key, ' ')[1:2], ' ') AS ctx,
             sum(ck) AS cc, count(*) AS nf
      FROM c3 GROUP BY 1
    ), x2 AS (
      SELECT string_split(key, ' ')[1] AS ctx, sum(ck) AS cc, count(*) AS nf
      FROM c2 GROUP BY 1
    ), tot AS (
      SELECT (SELECT count(*) FROM c2) AS tt,
             (SELECT count(DISTINCT string_split(gram, ' ')[5]) + 1 FROM t5) AS vsz
    ), sc AS (
      SELECT doc_id, gram, count(*) AS w FROM grams WHERE doc_id < 300
      GROUP BY doc_id, gram
    ), j0 AS (
      SELECT sc.doc_id, sc.w, t5.c,
             x5.cc AS cc5, x5.nf AS nf5, c4.ck AS ck4, x4.cc AS cc4, x4.nf AS nf4,
             c3.ck AS ck3, x3.cc AS cc3, x3.nf AS nf3,
             c2.ck AS ck2, x2.cc AS cc2, x2.nf AS nf2,
             c1.ck AS ck1, tot.tt, tot.vsz
      FROM sc
      LEFT JOIN t5 USING (gram)
      LEFT JOIN c4 ON array_to_string(string_split(sc.gram, ' ')[2:5], ' ') = c4.key
      LEFT JOIN c3 ON array_to_string(string_split(sc.gram, ' ')[3:5], ' ') = c3.key
      LEFT JOIN c2 ON array_to_string(string_split(sc.gram, ' ')[4:5], ' ') = c2.key
      LEFT JOIN c1 ON string_split(sc.gram, ' ')[5] = c1.key
      LEFT JOIN x5 ON array_to_string(string_split(sc.gram, ' ')[1:4], ' ') = x5.ctx
      LEFT JOIN x4 ON array_to_string(string_split(sc.gram, ' ')[2:4], ' ') = x4.ctx
      LEFT JOIN x3 ON array_to_string(string_split(sc.gram, ' ')[3:4], ' ') = x3.ctx
      LEFT JOIN x2 ON string_split(sc.gram, ' ')[4] = x2.ctx
      CROSS JOIN tot
    ), j1 AS (
      SELECT *, (coalesce(ck1, 0) + 1) / (tt + vsz) AS p1 FROM j0
    ), j2 AS (
      SELECT *, CASE WHEN coalesce(cc2, 0) > 0
                THEN greatest(coalesce(ck2, 0) - 0.75, 0) / cc2 + 0.75 * nf2 / cc2 * p1
                ELSE p1 END AS p2
      FROM j1
    ), j3 AS (
      SELECT *, CASE WHEN coalesce(cc3, 0) > 0
                THEN greatest(coalesce(ck3, 0) - 0.75, 0) / cc3 + 0.75 * nf3 / cc3 * p2
                ELSE p2 END AS p3
      FROM j2
    ), j4 AS (
      SELECT *, CASE WHEN coalesce(cc4, 0) > 0
                THEN greatest(coalesce(ck4, 0) - 0.75, 0) / cc4 + 0.75 * nf4 / cc4 * p3
                ELSE p3 END AS p4
      FROM j3
    ), j5 AS (
      SELECT doc_id, w,
             log2(CASE WHEN coalesce(cc5, 0) > 0
                  THEN greatest(coalesce(c, 0) - 0.75, 0) / cc5 + 0.75 * nf5 / cc5 * p4
                  ELSE p4 END) AS lp
      FROM j4
    )
    SELECT doc_id,
           CAST(sum(w) AS BIGINT) AS n_bigrams,
           round(-sum(w * lp) / sum(w), 6) AS avg_nll,
           round(pow(2, round(-sum(w * lp) / sum(w), 6)), 4) AS ppl
    FROM j5 GROUP BY doc_id
    """,
)
def text_kn5_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-5 interpolated Kneser–Ney — CCNet/KenLM's production order,
    demonstrating that kn_score's order really is a parameter: the SAME call
    at n=5 over a served 5-gram count dataset, with the oracle replaying the
    full four-level recursion in SQL (per-order continuation tables c4→c1,
    per-order denominators x5→x2, bottom-up interpolation j1→j5). Registers
    past the gate window (the n=2/n=3 rows gate the family; this row is
    value-checked by the registry oracle suite every sweep)."""
    from parqueryd_spark.operators.lm import kn_score

    docs = load_table(spark, sf_dir, "documents")
    lm5 = _served_lm(spark, sf_dir, n=5)
    return kn_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm5, "text")


@query("text_kn_lm_incremental", oracle=_KN2_SQL)
def text_kn_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KN lifecycle's MERGE path under the value gate (VERDICT r13 item
    #7, the events_kmv_incremental precedent applied to the LM family): the
    corpus is split into three disjoint increments (doc_id mod 3 — a
    stand-in for daily ingest batches), each increment is counted
    INDEPENDENTLY (ngram_counts — n-grams never span documents, so the
    split is clean), the partials are combined with lm_merge, and the
    merged model KN-scores the doc_id < 300 slice. The oracle is the SAME
    one-shot whole-corpus KN replay as text_kn_lm_score: counts are linear
    (merge = sum matching gram rows, exact integer arithmetic), so every
    derived KN quantity — context totals, continuation type counts, the
    +1/+V floor — is bit-identical to one-shot training. This pins the
    property streaming/lm.py's maintenance face relies on (per-batch count
    partials, merge-on-read serving) under the driver's hash gate rather
    than pytest alone."""
    from parqueryd_spark.operators.lm import kn_score, lm_merge, ngram_counts

    docs = load_table(spark, sf_dir, "documents")
    parts = [
        ngram_counts(docs.where(increment_of("doc_id", i)), "text", 2)
        for i in range(3)
    ]
    lm = lm_merge(parts, k=0.5, n=2)
    return kn_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm, "text")


def _served_lm(spark: SparkSession, sf_dir: str, n: int = 2):
    """The LM on its SERVE path (the `_served_manifest` /`served_ivf_index`
    pattern): train + publish once per (sf_dir, order) as a
    ``served_artifact`` count dataset, hand every call the merge-on-read
    load. Training is the once-per-corpus ingest job (and `lm_append`/
    streaming/lm.py maintain it at O(increment)); the registry/bench row
    then times SCORING against the published counts. Counts are linear, so
    the served model is bit-exactly the inline-trained one — the oracle
    match is unaffected."""
    from parqueryd_spark.operators.lm import lm_load, lm_publish

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        lm_publish(spark, path, docs, "text", k=0.5, n=n)

    return lm_load(spark, served_artifact("lm", (os.path.abspath(sf_dir), n), build))


def _served_lm_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Streaming-layout LM count state taken through its FULL lifecycle,
    kept by ``served_artifact`` per sf_dir: three disjoint document
    increments (``increment_of`` — the daily-partition stand-in) each
    counted with ngram_counts into the EXACT ``batch=<id>`` + ``_meta``
    layout streaming/lm.py:stream_maintain_lm writes, then folded to one
    ``batch=-1`` generation by compact_lm_state (the r15 count-table
    compaction, ``_meta`` riding inside the atomic swap). The serving read
    below is the streaming reader itself (read_lm) — so the registry row
    gates maintain→compact→serve end to end."""
    from parqueryd_spark.operators.lm import ngram_counts
    from parqueryd_spark.sources.sinks import write_batch, write_meta
    from parqueryd_spark.streaming.lm import compact_lm_state

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        write_meta(spark.createDataFrame([(0.5, 2)], "k double, n int"), path)
        for i in range(3):
            write_batch(ngram_counts(docs.where(increment_of("doc_id", i)), "text", 2), path, i)
        compact_lm_state(spark, path)

    return served_artifact("lmc", os.path.abspath(sf_dir), build)


@query("text_lm_compacted_score", oracle=_LM2_SQL, bench=True)
def text_lm_compacted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k LM scoring served from a POST-COMPACTION ``batch=-1`` count
    generation — the count-table twin of events_kmv_compacted (VERDICT r14
    items #1/#3): where the KMV row gates compaction of idempotent-merge
    sketch state, this row gates the LINEAR count-table fold
    (streaming/lm.py:compact_lm_state) plus the ``_meta``-through-the-swap
    contract, end to end under the driver. Counts are linear, so increments
    folded to one generation are bit-exactly the one-shot count table and
    this row shares text_ngram_lm_score's full train+score SQL replay
    verbatim (the text_nb_incremental sharing pattern): a hash match PROVES
    maintain→compact→serve, not just resembles it. At 100 TB this is the
    LM serving steady state after a year of 5-minute maintenance triggers:
    scan planning reads one compacted generation plus the recent tail, and
    the model parameters can never detach from the counts."""
    from parqueryd_spark.operators.lm import lm_score
    from parqueryd_spark.streaming.lm import read_lm

    docs = load_table(spark, sf_dir, "documents")
    lm = read_lm(spark, _served_lm_compacted(spark, sf_dir))
    return lm_score(docs.filter(F.col("doc_id") < 300), "doc_id", lm, "text")


@query(
    "text_bpe_pair_stats",
    oracle="""
    WITH words AS (
      SELECT w AS word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ), chars AS (
      SELECT n, string_split(word, '') AS cs FROM words
    ), pairs AS (
      SELECT n, unnest([struct_pack(a := cs[i], b := cs[i+1])
                        for i in range(1, len(cs))]) AS p
      FROM chars WHERE len(cs) >= 2
    )
    SELECT p.a AS a, p.b AS b, CAST(sum(n) AS BIGINT) AS pair_count
    FROM pairs GROUP BY p.a, p.b
    ORDER BY pair_count DESC, a ASC, b ASC
    LIMIT 8
    """,
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics core of BPE tokenizer training (operators/bpe.py):
    corpus-frequency-weighted adjacent character pairs over the
    vocabulary-sized word table — each bpe_train iteration's argmax is the
    head of exactly this ranking (count desc, then lexicographic pair, the
    pytest-pinned determinism contract). The trainer's sequential rewrite is
    pinned against a pure-Python reference in tests/test_bpe.py; this row
    puts the weighted pair counting itself under the external DuckDB gate."""
    from parqueryd_spark.operators.bpe import word_table

    docs = load_table(spark, sf_dir, "documents")
    wt = word_table(docs)
    nsz = F.size("syms")
    pair = F.explode(
        F.arrays_zip(F.slice("syms", 1, nsz - 1), F.slice("syms", 2, nsz - 1))
    ).alias("p")
    return (
        wt.filter(nsz >= 2)
        .select("n", pair)
        .groupBy(F.col("p")["0"].alias("a"), F.col("p")["1"].alias("b"))
        .agg(F.sum("n").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(8)
    )


@query(
    "text_bpe_train_encode",
    bench=True,
    oracle="""
    WITH words AS (
      SELECT w AS word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ), chars AS (
      SELECT n, string_split(word, '') AS cs FROM words
    ), pairs AS (
      SELECT n, unnest([struct_pack(a := cs[i], b := cs[i+1])
                        for i in range(1, len(cs))]) AS p
      FROM chars WHERE len(cs) >= 2
    ), top AS (
      SELECT p.a AS a, p.b AS b
      FROM pairs GROUP BY p.a, p.b
      ORDER BY CAST(sum(n) AS BIGINT) DESC, a ASC, b ASC LIMIT 1
    )
    SELECT (SELECT a FROM top) AS first_a,
           (SELECT b FROM top) AS first_b,
           CAST((SELECT count(*) FROM words) AS BIGINT) AS n_words,
           TRUE AS roundtrip_ok,
           TRUE AS collapse_ok
    """,
)
def text_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BPE tokenizer training under the driver gate (VERDICT r10
    item #3): the hybrid trainer (operators/bpe.py:bpe_train_hybrid — one
    distributed corpus scan, then a production-vocab driver-side merge loop
    requested at num_merges=8192; training runs to pair exhaustion on this
    corpus) followed by the Arrow-batched rank-loop segmentation
    (bpe_segment_udf) over the vocabulary-sized word table.

    Value checks: the FIRST learned merge must equal the SQL argmax of the
    frequency-weighted adjacent-pair ranking (the oracle recomputes it —
    training plumbing, determinism contract and tie-break all gated);
    n_words pins the word-table cardinality; roundtrip_ok asserts every
    word's segmentation concatenates back to the word exactly;
    collapse_ok asserts every word frequent enough to self-support its
    merges (n >= 2) trained down to a single token, i.e. training genuinely
    ran to exhaustion. The merge SEQUENCE itself is pinned bit-for-bit
    against a pure-Python Sennrich reference in tests/test_bpe.py."""
    from parqueryd_spark.operators.bpe import bpe_segment_udf, bpe_train_hybrid, word_table

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_hybrid(docs, num_merges=8192)
    wt = word_table(docs).select("word", "n")
    seg = bpe_segment_udf(wt, merges)
    # a corpus where no pair reaches min_pair_count learns zero merges; the
    # oracle's scalar subqueries are NULL there, so emit NULLs, not a crash
    first_a = F.lit(merges[0][0]) if merges else F.lit(None).cast("string")
    first_b = F.lit(merges[0][1]) if merges else F.lit(None).cast("string")
    return seg.agg(
        F.first(first_a).alias("first_a"),
        F.first(first_b).alias("first_b"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.bool_and(F.array_join("bpe_tokens", "") == F.col("word")).alias("roundtrip_ok"),
        F.bool_and(
            F.when(F.col("n") >= 2, F.size("bpe_tokens") == 1).otherwise(F.lit(True))
        ).alias("collapse_ok"),
    )


@query(
    "text_nb_langid",
    oracle="""
    WITH tb AS (
      SELECT lang,
             CAST(('0x' || substr(md5(token || ':nb'), 1, 8)) AS BIGINT) % 1024 AS bucket
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
      )
    ),
    counts AS (SELECT lang, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
    totals AS (SELECT lang, count(*) AS t FROM tb GROUP BY 1),
    grid AS (
      SELECT totals.lang, totals.t, r.range AS bucket
      FROM totals CROSS JOIN range(1024) r
    ),
    model AS (
      SELECT g.lang, g.bucket,
             ln((coalesce(c.c, 0) + 1.0) / (g.t + 1024.0)) AS logp
      FROM grid g LEFT JOIN counts c ON c.lang = g.lang AND c.bucket = g.bucket
    ),
    priors AS (
      SELECT lang,
             ln(count(*) / CAST((SELECT count(*) FROM documents
                                 WHERE doc_id % 2 = 0 AND lang IS NOT NULL) AS DOUBLE)
               ) AS logprior
      FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1
    ),
    score_in AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token || ':nb'), 1, 8)) AS BIGINT) % 1024 AS bucket
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 1
      )
    ),
    scores AS (
      SELECT s.doc_id, m.lang AS label,
             sum(CAST(round(m.logp * 1000000.0) AS BIGINT))
               + any_value(CAST(round(p.logprior * 1000000.0) AS BIGINT)) AS score_n
      FROM score_in s
      JOIN model m ON m.bucket = s.bucket
      JOIN priors p ON p.lang = m.lang
      GROUP BY s.doc_id, m.lang
    ),
    top AS (SELECT doc_id, max(score_n) AS score_n FROM scores GROUP BY doc_id),
    pred AS (
      SELECT s.doc_id, min(s.label) AS predicted
      FROM scores s JOIN top t ON t.doc_id = s.doc_id AND t.score_n = s.score_n
      GROUP BY s.doc_id
    )
    SELECT d.lang, p.predicted, count(*) AS n
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY 1, 2
    """,
)
def text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based language ID trained IN the engine (operators/classify.py):
    multinomial Naive Bayes over 1024 md5-hashed token buckets, trained on
    the even-doc_id half of the corpus and scored on the odd half, reported
    as the (true lang, predicted, n) confusion matrix. The ENTIRE model —
    training counts, smoothing, priors, per-document scores, argmax with
    label tiebreak — is replayed by DuckDB from the same parquet, so the
    driver's hash gate verifies a trained classifier end-to-end, not just a
    heuristic. Scores are exact integer micro-nat sums (each model cell
    quantized once to round(logp*1e6) BIGINT — r15, retiring the float-sum
    rounding vector; see operators/classify.nb_score).
    Contrast with text_token_lang_stats' marker-list heuristic: this is the
    fasttext-shaped route — retrains by adding count tables, broadcasts a
    few-MB dense model, and scores with one (doc, class)-grain shuffle that
    never carries text. At 100 TB both train and score are single-scan.
    (Absolute accuracy on THIS corpus is near the majority baseline by
    construction — the synthetic text shares one vocabulary across langs
    with sparse markers, the same Bayes ceiling the marker heuristic hits —
    the gate checks the replay, not a benchmark score.)"""
    from parqueryd_spark.operators.classify import nb_score, nb_train

    docs = load_table(spark, sf_dir, "documents")
    model = nb_train(docs.where(F.col("doc_id") % 2 == 0), "lang", n_buckets=1024)
    pred = nb_score(docs.where(F.col("doc_id") % 2 == 1), model, n_buckets=1024)
    return (
        pred.withColumnRenamed("label", "predicted")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_nb_incremental",
    oracle="""
    WITH tb AS (
      SELECT lang,
             CAST(('0x' || substr(md5(token || ':nb'), 1, 8)) AS BIGINT) % 1024 AS bucket
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
      )
    ),
    counts AS (SELECT lang, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
    totals AS (SELECT lang, count(*) AS t FROM tb GROUP BY 1),
    grid AS (
      SELECT totals.lang, totals.t, r.range AS bucket
      FROM totals CROSS JOIN range(1024) r
    ),
    model AS (
      SELECT g.lang, g.bucket,
             ln((coalesce(c.c, 0) + 1.0) / (g.t + 1024.0)) AS logp
      FROM grid g LEFT JOIN counts c ON c.lang = g.lang AND c.bucket = g.bucket
    ),
    priors AS (
      SELECT lang,
             ln(count(*) / CAST((SELECT count(*) FROM documents
                                 WHERE doc_id % 2 = 0 AND lang IS NOT NULL) AS DOUBLE)
               ) AS logprior
      FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1
    ),
    score_in AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token || ':nb'), 1, 8)) AS BIGINT) % 1024 AS bucket
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % 2 = 1
      )
    ),
    scores AS (
      SELECT s.doc_id, m.lang AS label,
             sum(CAST(round(m.logp * 1000000.0) AS BIGINT))
               + any_value(CAST(round(p.logprior * 1000000.0) AS BIGINT)) AS score_n
      FROM score_in s
      JOIN model m ON m.bucket = s.bucket
      JOIN priors p ON p.lang = m.lang
      GROUP BY s.doc_id, m.lang
    ),
    top AS (SELECT doc_id, max(score_n) AS score_n FROM scores GROUP BY doc_id),
    pred AS (
      SELECT s.doc_id, min(s.label) AS predicted
      FROM scores s JOIN top t ON t.doc_id = s.doc_id AND t.score_n = s.score_n
      GROUP BY s.doc_id
    )
    SELECT d.lang, p.predicted, count(*) AS n
    FROM pred p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY 1, 2
    """,
)
def text_nb_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NB classifier's INCREMENTAL-training face under the driver's
    value gate (the events_kmv_incremental pattern): the training half is
    split into two disjoint increments (doc_id mod 4 picks 0 vs 2 within the
    even half), each increment reduced INDEPENDENTLY to its sufficient
    statistics (operators/classify.nb_count_partials — integer (class,
    bucket) token counts plus a doc-count marker row), and the model is
    finalized from the UNION of the partials (nb_model_from_partials).
    Because the statistics are integers and the only floats are final ln()
    of exact ratios, merge-of-parts is bit-identical to one-shot training —
    so this row shares text_nb_langid's full-corpus DuckDB oracle verbatim,
    and a hash match PROVES the incremental path, not just resembles it.
    At 100 TB this is how the classifier retrains: each day's increment is
    one counting scan; the model of all history is a sum of kilobyte count
    tables (streaming/classify.stream_maintain_nb maintains exactly these
    partials per micro-batch)."""
    from parqueryd_spark.operators.classify import (
        nb_count_partials,
        nb_model_from_partials,
        nb_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    inc_a = nb_count_partials(train.where(F.col("doc_id") % 4 == 0), "lang", n_buckets=1024)
    inc_b = nb_count_partials(train.where(F.col("doc_id") % 4 == 2), "lang", n_buckets=1024)
    model = nb_model_from_partials(inc_a.unionByName(inc_b), n_buckets=1024)
    pred = nb_score(docs.where(F.col("doc_id") % 2 == 1), model, n_buckets=1024)
    return (
        pred.withColumnRenamed("label", "predicted")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_heavy_hitters_by_lang",
    oracle="""
    SELECT lang, token, n_occurrences
    FROM (
      SELECT lang, token, count(*) AS n_occurrences,
             row_number() OVER (
               PARTITION BY lang ORDER BY count(*) DESC, token ASC
             ) AS rn
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE lang IS NOT NULL
      )
      GROUP BY lang, token
    )
    WHERE rn <= 5
    """,
)
def text_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-5 tokens PER LANGUAGE via the grouped two-pass Misra-Gries
    confirm (operators/sketches.py heavy_hitters_exact_topk_grouped): one
    bounded-state sketch pass keeps per-(partition, language) counters, a
    broadcast (lang, token) semi-join exact-counts only the candidates, and
    the group-wise refusal proof (eager short-candidate gate + in-plan
    raise_error on any group whose 5th count fails to beat its eviction
    error) makes the per-group cut provably exact — hash-matched here
    against DuckDB's full groupBy + row_number. The 100 TB shape for
    per-segment frequent-items reports (top tokens per language, hot URLs
    per domain): the full (group, key) stream never shuffles; only bounded
    summaries and candidate-grain partials do."""
    from parqueryd_spark.operators.sketches import heavy_hitters_exact_topk_grouped

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(T.tokens("text")).alias("token"))
    return heavy_hitters_exact_topk_grouped(
        toks, "lang", "token", k=5, capacity=1024
    )


def _served_hh_state(spark: SparkSession, sf_dir: str, capacity: int = 1024) -> str:
    """Published per-batch grouped Misra-Gries state for (lang, token),
    kept by ``served_artifact`` per (sf_dir, capacity): three disjoint
    document increments (doc_id mod 3) each summarized with
    _mg_summaries_grouped into the EXACT ``batch=<id>`` parquet layout
    streaming/rollup.py:stream_maintain_heavy_hitters_grouped writes, so
    the serving read path is the streaming reader itself."""
    from parqueryd_spark.operators.sketches import _mg_summaries_grouped
    from parqueryd_spark.sources.sinks import write_batch

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        for i in range(3):
            toks = docs.where(increment_of("doc_id", i)).select(
                "lang", F.explode(T.tokens("text")).alias("token")
            )
            write_batch(_mg_summaries_grouped(toks, "lang", "token", capacity), path, i)

    return served_artifact("hh", (os.path.abspath(sf_dir), capacity), build)


@query(
    "text_hh_served",
    bench=True,
    oracle="""
    SELECT lang, token, est_count, CAST(0 AS BIGINT) AS max_undercount
    FROM (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS est_count,
             row_number() OVER (
               PARTITION BY lang ORDER BY count(*) DESC, token ASC
             ) AS rn
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE lang IS NOT NULL
      )
      GROUP BY lang, token
    )
    WHERE rn <= 5
    """,
)
def text_hh_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 tokens SERVED from standing published grouped
    Misra-Gries state (VERDICT r12 item #6 / r13 items #5+#7): the query
    plan reads ONLY the bounded ``batch=<id>`` summary partitions through
    the streaming reader (streaming/rollup.py:read_heavy_hitters_grouped —
    counter sums per (group, key) + per-group eviction bounds) and never
    touches the raw documents table (plan-asserted in tests/test_plans.py).
    Value-checkable because this corpus's vocabulary sits far under the
    capacity, so NO partition ever evicts: every per-group error is 0,
    merged counts are exact by the MG bound (est <= true <= est + 0), and
    the serve answer equals DuckDB's exact per-language top-5 — the oracle
    also pins max_undercount = 0, i.e. the state PROVES its own exactness
    at this scale. At eviction-grade cardinalities the same state serves
    with an explicit nonzero undercount bound (pinned in
    tests/test_streaming_rollup.py) — the answer degrades to a bounded
    estimate, never silently."""
    from parqueryd_spark.streaming.rollup import read_heavy_hitters_grouped

    path = _served_hh_state(spark, sf_dir, capacity=1024)
    return read_heavy_hitters_grouped(spark, path, "lang", "token", k=5)
