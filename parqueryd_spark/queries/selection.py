"""Data-selection queries: semantic dedup (SemDeDup), prototypicality
pruning, leakage-safe splits, deterministic global shuffle, and
winnowing-overlap detection — the curation steps between dedup and training
that decide WHICH surviving documents a model actually sees.

Registered after the core window (#81+ in the registry) so the audited
50-row gate keeps its round-5 composition; every query here still carries a
full DuckDB oracle and is verified by tests/test_registry_oracle.py and
tools/driver_sim.py.

Oracle notes: centroid assignment uses deterministic first-16 centroids so
DuckDB can rebuild the identical mapping; connected components close with a
recursive CTE (same pattern as dedup_groups); split/shuffle arithmetic is
pure md5, byte-equal across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parqueryd_spark.operators import text as T
from parqueryd_spark.operators.dedup import near_dup_groups, ngram_jaccard_pairs
from parqueryd_spark.operators.sampling import (
    group_aware_split,
    seeded_shuffle,
    split_threshold,
)
from parqueryd_spark.operators.similarity import prototype_scores, semantic_dedup
from parqueryd_spark.queries import query
from parqueryd_spark.sources.parquet import load_table

_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_T_TRAIN = split_threshold(0.8)
_T_VAL = split_threshold(0.9)


def _cos_sql(x: str, y: str) -> str:
    """DuckDB cosine between two named DOUBLE[] expressions (same sequential
    double arithmetic as operators.similarity.cosine — bit-agreeing)."""
    return (
        f"list_dot_product({x}, {y})"
        f" / (sqrt(list_dot_product({x}, {x})) * sqrt(list_dot_product({y}, {y})))"
    )


# Shared oracle CTEs: deterministic first-16 centroids + nearest-centroid
# assignment with the winning cosine — the exact SQL mirror of
# resolve_centroids(..., "first_k") + ivf_assign(with_sim=True).
_ASSIGN_SQL = f"""
    cen AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings ORDER BY vec_id ASC LIMIT 16
    ), v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
    ), assign AS (
      SELECT vec_id, centroid_id, sim AS centroid_sim FROM (
        SELECT v.vec_id, cen.centroid_id,
               {_cos_sql('v.vv', 'cen.cv')} AS sim,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_cos_sql('v.vv', 'cen.cv')} DESC,
                                           cen.centroid_id ASC) AS rn
        FROM v CROSS JOIN cen
      ) WHERE rn = 1
    )
"""


@query(
    "embedding_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE {_ASSIGN_SQL}, pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assign a
      JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE {_cos_sql('va.vv', 'vb.vv')} >= 0.45
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node, min(label) AS group_id FROM reach GROUP BY node
    ), rep AS (
      SELECT group_id, node AS rep_id FROM (
        SELECT c.group_id, c.node,
               row_number() OVER (PARTITION BY c.group_id
                                  ORDER BY a.centroid_sim ASC, c.node ASC) AS rn
        FROM comp c JOIN assign a ON a.vec_id = c.node
      ) WHERE rn = 1
    )
    SELECT a.vec_id AS vec_id, a.centroid_id AS centroid_id,
           a.centroid_sim AS centroid_sim,
           COALESCE(c.group_id, a.vec_id) AS group_id,
           (c.node IS NULL OR r.rep_id = a.vec_id) AS keep
    FROM assign a
    LEFT JOIN comp c ON c.node = a.vec_id
    LEFT JOIN rep r ON r.group_id = c.group_id
    """,
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/similarity.py:
    semantic_dedup): cluster-scoped cosine pairs at >= 0.45 folded into
    duplicate groups, one least-prototypical representative kept per group.
    Deterministic first-16 centroids so the oracle can rebuild the identical
    assignment; the recursive CTE closes the pair graph exactly like the
    min-label propagation. 0.45 for the same reason embedding_near_dup uses
    it — this corpus's most-similar pair sits at 0.51."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.45, n_centroids=16, centroid_mode="first_k")


@query(
    "embedding_prototypes",
    oracle=f"""
    WITH {_ASSIGN_SQL}
    SELECT vec_id, centroid_id, centroid_sim,
           row_number() OVER (PARTITION BY centroid_id
                              ORDER BY centroid_sim DESC, vec_id ASC) AS proto_rank,
           count(*) OVER (PARTITION BY centroid_id) AS cluster_n
    FROM assign
    """,
)
def embedding_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality scores for data pruning (operators/similarity.py:
    prototype_scores — Sorscher et al. 2022 ranking): per-cluster cosine rank
    to the assigned centroid, linear cost, no pairwise work. The oracle
    rebuilds the assignment and both windows in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return prototype_scores(emb, n_centroids=16, centroid_mode="first_k")


_JACCARD_GROUPS_SQL = """
    toks AS (
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
    ), jpairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE c / (sa.n + sb.n - c) >= 0.8
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM jpairs
      UNION
      SELECT id_b AS a, id_a AS b FROM jpairs
    ), reach(node, label) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
    ), comp AS (
      SELECT node, min(label) AS group_id FROM reach GROUP BY node
    )
"""


@query(
    "pipeline_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_GROUPS_SQL}, skeys AS (
      SELECT d.doc_id, COALESCE(c.group_id, d.doc_id) AS skey,
             c.node IS NOT NULL AS grouped
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ), assigned AS (
      SELECT doc_id, skey, grouped,
             CASE WHEN CAST(('0x' || substr(md5(skey::VARCHAR || 'leak'), 1, 8)) AS BIGINT)
                       < {_T_TRAIN} THEN 'train'
                  WHEN CAST(('0x' || substr(md5(skey::VARCHAR || 'leak'), 1, 8)) AS BIGINT)
                       < {_T_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM skeys
    )
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN grouped THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           count(DISTINCT CASE WHEN grouped THEN skey END) AS n_groups
    FROM assigned GROUP BY split
    """,
)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/sampling.py:
    group_aware_split): near-dup groups from exact Jaccard >= 0.8 pairs become
    the split unit, so a document and its near-copies can never straddle
    train and eval — the leak a per-row hash split permits. Reports per-split
    doc totals plus how many grouped (near-dup) docs and distinct groups each
    split received; the oracle recomputes pairs, closes the graph with a
    recursive CTE, and replays the identical md5 bucket arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.8)
    groups = near_dup_groups(pairs)
    split = group_aware_split(
        docs.join(
            groups.select("doc_id", F.col("group_id").alias("dup_group")), "doc_id", "left"
        ),
        "doc_id",
        groups,
        _WEIGHTS,
        salt="leak",
    )
    grouped = F.col("dup_group").isNotNull()
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(grouped.cast("long")).alias("n_dup_docs"),
        F.count_distinct(F.col("dup_group")).alias("n_groups"),
    )


@query(
    "pipeline_global_shuffle",
    oracle="""
    SELECT doc_id, source,
           CAST(row_number() OVER (
             ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 8)) AS BIGINT) ASC,
                      doc_id ASC) AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (operators/sampling.py:seeded_shuffle):
    dense pseudorandom rank over the corpus by md5-bucket order. Spark
    computes it scalably — range-partition on the bucket, per-partition
    window, metadata-scale offsets — while the oracle's single window at
    sf0.01 verifies the composed rank is exactly the global one."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return seeded_shuffle(docs, "doc_id", salt="shuffle", n_output_partitions=8)


@query(
    "text_winnow_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), seqs AS (
      SELECT doc_id,
             [array_to_string(t[i:i+2], ' ')
              for i in range(1, greatest(len(t)-2, 1)+1)] AS sq
      FROM toks
    ), hs AS (
      SELECT doc_id, list_transform(sq, s -> md5(s)) AS h FROM seqs
    ), fps AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(0, greatest(len(h) - 4, 0) + 1),
               i -> list_aggregate(h[(i+1):(i+4)], 'min')))) AS fp
      FROM hs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs via shared winnowing fingerprints
    (operators/text.py:winnow_overlap_pairs, MOSS-style): documents sharing
    >= 5 window-min fingerprints — catches contained copies whole-document
    Jaccard misses. Runs the md5 variant so the oracle rebuilds the identical
    fingerprint sets and brute-counts the shared ones; production runs use
    xxhash64 fingerprints and a ``max_df`` boilerplate cap (asserted in
    tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_overlap_pairs(
        docs, "doc_id", "text", k=3, window=4, min_common=5, hash_mode="md5"
    )


def _pii_any_sql() -> str:
    """PII-presence predicate built from the SAME pattern dict the Spark
    operator compiles (operators/pii.py:PII_PATTERNS) — no transcription
    drift between engines."""
    from parqueryd_spark.operators.pii import PII_PATTERNS

    def lit(pat: str) -> str:
        # single quotes would break the SQL literal silently (skewed oracle);
        # escape defensively even though current patterns contain none
        return pat.replace("'", "''")

    counts = " + ".join(
        f"len(regexp_extract_all(text, '{lit(pat)}'))" for pat in PII_PATTERNS.values()
    )
    return f"({counts}) > 0"


def _data_card_oracle() -> str:
    from parqueryd_spark.queries.text import _PRED_SQL, _STOP_SQL

    quality = f"""
      least(length(text) / 400.0, 1.0) * 0.5
      + (len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL}))
         / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
      - ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
         / CAST(length(text) AS DOUBLE))
    """
    return f"""
    WITH per AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS n_tok,
             md5(text)                    AS digest,
             {quality}                    AS q,
             {_pii_any_sql()}             AS pii,
             {_PRED_SQL}                  AS plang
      FROM documents
    )
    SELECT source,
           count(*)                                        AS n_docs,
           CAST(sum(n_tok) AS BIGINT)                      AS n_tokens,
           round(avg(n_tok), 4)                            AS avg_tokens,
           count(DISTINCT digest)                          AS n_unique_texts,
           round(1 - count(DISTINCT digest)
                     / CAST(count(*) AS DOUBLE), 4)        AS dup_pct,
           round(avg(q), 4)                                AS avg_quality,
           CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END)
                AS BIGINT)                                 AS docs_with_pii,
           count(DISTINCT plang)                           AS n_langs
    FROM per GROUP BY source
    """


@query("pipeline_data_card", oracle=_data_card_oracle())
def pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card (operators/quality.py:data_card — the
    datasheets-for-datasets audit report): volume, token budget,
    exact-duplicate rate, mean quality, PII incidence, and language spread in
    ONE aggregation over one scan. The oracle recomputes every per-doc signal
    from the shared SQL fragments (language CASE, stopword quality, the PII
    regex dict itself) so the whole report cross-checks externally. The raw
    fixture corpus carries no PII, so docs_with_pii is legitimately 0 here;
    the PII arithmetic is exercised non-vacuously by
    pipeline_pii_redaction's deterministically enriched gate row."""
    from parqueryd_spark.operators.quality import data_card

    docs = load_table(spark, sf_dir, "documents")
    return data_card(docs, "text", group_cols=["source"])


@query(
    "ann_margin_match",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_cos_sql('CAST(a.embedding AS DOUBLE[])', 'CAST(b.embedding AS DOUBLE[])')} AS sim,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_cos_sql('CAST(a.embedding AS DOUBLE[])', 'CAST(b.embedding AS DOUBLE[])')} DESC,
                                         b.vec_id ASC) AS rank
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id >= 10 AND a.vec_id < 18
    ), tk AS (SELECT * FROM scored WHERE rank <= 4)
    SELECT query_id,
           arg_min(neighbor_id, rank) AS neighbor_id,
           max(sim)                   AS cosine_sim,
           max(sim) - avg(sim)        AS margin
    FROM tk GROUP BY query_id
    HAVING max(sim) - avg(sim) >= 0.0
    """,
)
def ann_margin_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-scored nearest-neighbor matching (operators/similarity.py:
    margin_topk_match, the Artetxe & Schwenk distance-margin criterion —
    sign-safe over the full cosine range, unlike the ratio variant): each
    query's best match accepted on how far it towers over the rest of its
    top-4 neighborhood rather than on raw cosine. Query vectors 10..17 (a
    distinct slice from the other ANN gate rows); the oracle recomputes the
    top-k window and the margin aggregate independently."""
    from parqueryd_spark.operators.similarity import margin_topk_match

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 18))
    return margin_topk_match(emb, qs, k=4, margin_threshold=0.0)


@query(
    "text_source_divergence",
    oracle="""
    WITH toks AS (
      SELECT source AS grp, unnest(string_split(text, ' ')) AS tok FROM documents
    ), grp_counts AS (
      SELECT grp, tok, count(*) AS c FROM toks GROUP BY grp, tok
    ), all_counts AS (
      SELECT tok, CAST(sum(c) AS BIGINT) AS ac FROM grp_counts GROUP BY tok
    ), totals AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS gt, count(*) AS n_distinct
      FROM grp_counts GROUP BY grp
    ), corpus AS (
      SELECT CAST(sum(ac) AS BIGINT) AS at FROM all_counts
    )
    SELECT g.grp AS source,
           max(t.gt)                                  AS n_tokens,
           max(t.n_distinct)                          AS n_distinct_tokens,
           round(sum((g.c / CAST(t.gt AS DOUBLE))
                     * ln((g.c / CAST(t.gt AS DOUBLE))
                          / (a.ac / CAST(c.at AS DOUBLE)))), 6) AS kl_divergence
    FROM grp_counts g
    JOIN all_counts a USING (tok)
    JOIN totals t USING (grp)
    CROSS JOIN corpus c
    GROUP BY g.grp
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution
    (operators/text.py:unigram_divergence) — the lexical-drift diagnostic a
    mixture-tuning pass reads before reweighting sources. The oracle rebuilds
    the token distributions and the divergence sum in DuckDB; both engines
    round to 6dp so float-summation order cannot differ."""
    docs = load_table(spark, sf_dir, "documents")
    return T.unigram_divergence(docs, "source", "text")
