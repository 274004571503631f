"""Named query registry — the driver-facing coverage surface.

Every implemented operator from SURVEY.md §2 (plus the north-star extensions)
gets one entry: a ``(spark, sf_dir) -> DataFrame`` callable and, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string over the same
parquet tables (pre-registered views: region nation customer supplier part
orders lineitem events documents embeddings).

Column-name contract: every computed column is aliased identically in the Spark
plan and the oracle SQL (the driver's compare sorts columns by name before
hashing values). Oracle-authoring gotcha: CAST integer sums to BIGINT (DuckDB
sums ints into HUGEINT).

Domain modules register themselves via the ``@query`` decorator on import:
``core`` (parqueryd parity), ``relational`` (joins/windows/sorts/set ops),
``scalars`` (string/date/math/json functions), ``text`` (analysis),
``dedup``, ``similarity``, ``events`` (time-series/streaming-equivalent).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, driver does rows-only check
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, bench: bool = False):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, oracle, bench)
        return fn

    return deco


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def increment_of(key_col: str, i: int, n: int = 3):
    """Membership predicate for the disjoint-increment splits the
    incremental/served-state rows use (``key mod n == i``, a stand-in for
    daily partitions). NULL keys route deterministically to increment 0
    (ADVICE r14: a bare ``pmod(key, n) == i`` evaluates NULL for NULL keys
    and silently drops those rows from EVERY increment, so the served state
    would diverge from the full-corpus oracle the moment the key column
    turns nullable). With the coalesce the increments PARTITION the table —
    their union is the whole corpus for any key content — which is the
    property every merge-equals-one-shot oracle in this registry relies on."""
    from pyspark.sql import functions as F

    return F.coalesce(F.pmod(F.col(key_col), F.lit(n)), F.lit(0)) == i


_SERVED: dict[tuple, str] = {}
_SERVED_LOCK = threading.RLock()
_SERVED_ROOT: str | None = None


def served_artifact(kind: str, key, build: Callable[[str], None]) -> str:
    """The directory of the published artifact ``(kind, key)``: the one owner
    of standing state in the registry. Reused data has exactly two lifetimes:

    - Published standing state (indexes, manifests, sketch and LM state,
      hand-laid shard copies) lives for the process, here. The first call
      runs ``build(path)`` into a fresh empty dir under one process-scoped
      root and records ``path`` only after ``build`` returns; later calls get
      the recorded dir, and a recorded dir that has gone is rebuilt. A failed
      build removes its partial dir and records nothing. The root is removed
      at interpreter exit. This models state published at ingest: the
      untimed warm-up builds it, timed runs only read it.
    - A frame reused inside one call lives only as long as that call's plan:
      take it through ``localCheckpoint(eager=True)``, whose blocks the
      ContextCleaner frees with the plan, or ``persist()`` it and
      ``unpersist()`` it before the function returns. A CacheManager entry
      left behind outlives the call and serves the next one from memory.
      The eager checkpoint has two costs: the operator runs a Spark job when
      it is called, not when its result is used, and its blocks are not
      recomputed if an executor is lost (Spark documents local checkpoints as
      unsafe under dynamic allocation), where a persisted frame would be.

    A lookup of a built artifact takes no lock. Builds are serialized
    process-wide: one lock covers every kind, so a build waits for any other
    build in flight. The lock is reentrant, so a build may itself call
    ``served_artifact``.
    """
    global _SERVED_ROOT
    path = _SERVED.get((kind, key))
    if path is not None and os.path.isdir(path):
        return path
    with _SERVED_LOCK:
        path = _SERVED.get((kind, key))
        if path is not None and os.path.isdir(path):
            return path
        if _SERVED_ROOT is None or not os.path.isdir(_SERVED_ROOT):
            _SERVED_ROOT = tempfile.mkdtemp(prefix="parqueryd_spark_served_")
            atexit.register(shutil.rmtree, _SERVED_ROOT, True)
        path = tempfile.mkdtemp(prefix=f"parqueryd_spark_{kind}_", dir=_SERVED_ROOT)
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        _SERVED[(kind, key)] = path
        return path


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The headline bench set, in PINNED execution order (BENCH_ORDER).

    Bench rows used to run in registry order, which GATE_WINDOW rotations
    reshuffle every round — and execution position is not timing-neutral on
    a shared JVM (rows that moved from late to early in the r13 rotation ran
    1.4-1.5x slower purely from JIT/codegen warm-up landing on them instead
    of on their predecessors). Pinning the r12 order keeps per-query numbers
    comparable across rounds regardless of how the correctness gate rotates.
    """
    flagged = {name for name, q in REGISTRY.items() if q.bench}
    if flagged != set(BENCH_ORDER):
        # RuntimeError, not assert: this consistency gate must survive
        # ``python -O`` (ADVICE r13 — the r12 parsed:null regression class
        # would otherwise go unchecked at runtime)
        raise RuntimeError(
            f"bench flags and BENCH_ORDER diverged: "
            f"{sorted(flagged ^ set(BENCH_ORDER))}"
        )
    return {name: REGISTRY[name].fn for name in BENCH_ORDER}


# r12's registry order, frozen (see bench_queries docstring). Append new
# bench rows at the END so historical positions keep their thermal context.
BENCH_ORDER = [
    "q1_pricing_summary",
    "q5_local_volume",
    "events_exact_quantile_by_type",
    "text_heavy_hitter_tokens",
    "dedup_substrings",
    "dedup_ngram_jaccard",
    "events_exact_quantile",
    "scan_hive_partition_pruned",
    "ann_bruteforce_topk",
    "events_anomaly_mad",
    "scan_zonemap_pruned",
    "join_broadcast_dims",
    "join_fact_fact_revenue",
    "text_ngram_lm_score",
    "text_bpe_train_encode",
    "scd2_events_asof",
    "text_bm25_search",
    "q3_shipping_priority",
    "dedup_ngram_capped",
    "dedup_minhash_lsh",
    "events_windowed_aggs",
    "ann_ivf_index_topk",
    "pipeline_bloom_decontaminate",
    "skew_salted_join",
    "text_token_lang_stats",
    "ann_ivfpq_index_topk",
    "ann_ivfsq_index_topk",
    "dedup_spans",
    "events_funnel",
    "events_hll_rollup_bound",
    "q9_product_type_profit",
    "q21_waiting_supplier",
    # r14 additions (appended at END per the rule above): the serving rows —
    # the 100 TB-relevant latency axis (answers from standing published
    # state / published count tables, raw tables absent or never re-read)
    "events_kmv_served",
    "text_hh_served",
    "events_countmin_served",
    "text_kn_lm_score",
    "text_kn3_lm_score",
    # r15 additions (END per the rule above): the post-compaction serves —
    # the same published-state latency axis as events_kmv_served, measured
    # against batch=-1 generations (the long-lived-maintenance steady
    # state) for both merge classes: idempotent sketch state (KMV) and
    # linear count-table state (LM)
    "events_kmv_compacted",
    "text_lm_compacted_score",
    # the parity call on the one-task side of aggregate_files' split-size
    # gate; q1_pricing_summary (one 10.8 MB file) stays on the shuffled side
    "q1_sharded",
]


# Register all domain modules; GATE_WINDOW (below) then pins the registry's
# first 50 entries explicitly, so registration order within a module no longer
# silently decides what the driver's 50-row correctness gate audits.
from parqueryd_spark.queries import core  # noqa: E402,F401
from parqueryd_spark.queries import tpch  # noqa: E402,F401
from parqueryd_spark.queries import dedup  # noqa: E402,F401
from parqueryd_spark.queries import events  # noqa: E402,F401
from parqueryd_spark.queries import similarity  # noqa: E402,F401
from parqueryd_spark.queries import multimodal  # noqa: E402,F401
from parqueryd_spark.queries import pipeline  # noqa: E402,F401
from parqueryd_spark.queries import relational  # noqa: E402,F401
from parqueryd_spark.queries import text  # noqa: E402,F401
from parqueryd_spark.queries import scalars  # noqa: E402,F401
from parqueryd_spark.queries import quantization  # noqa: E402,F401
from parqueryd_spark.queries import curation  # noqa: E402,F401
from parqueryd_spark.queries import analytics  # noqa: E402,F401
from parqueryd_spark.queries import quality  # noqa: E402,F401
from parqueryd_spark.queries import selection  # noqa: E402,F401

from parqueryd_spark.queries import estimates  # noqa: E402,F401
from parqueryd_spark.queries import tpch_extended  # noqa: E402,F401

# The driver's correctness gate audits the FIRST 50 registry entries. Pin that
# window explicitly to 50 oracle-backed queries spanning every operator family
# (parqueryd parity, TPC-H core, dedup, events, ANN, multimodal, pipeline,
# relational, text) so the gate signal never depends on module import order.
# Rows-only-by-design estimate queries (events_sketch_aggs,
# text_heavy_hitter_tokens — since round 11 the deterministic first-k
# IVF/IVF-SQ routes are value-checked outright, and since round 12 both PQ
# serving routes are too, via deterministic spread codebooks + full SQL
# replays) sit past the window; their accuracy
# IS driver-checked: the oracle-backed error-bound companions from
# queries/estimates.py (sketch_error_bounds, ann_ivf_recall_bound,
# ann_pq_recall_bound, heavy_hitter_bound, and round 8's
# ann_ivfpq_recall_bound) are IN the window (VERDICT r7 item #2), in place
# of five TPC-H rows whose operator shape an in-window twin already covers
# (q14~q19/q6 filter-ratio, q18~having_scalar_subquery, q10~q3+topk_orders,
# q4~join_types_suite's semi-join, q6~q1+q19's single-table filter+agg; all
# five stay registered and pytest-oracled past the window).
# Round 9 rotation (VERDICT r8 items #1/#5): the six round-8 family rows that
# were oracle-backed but sat past the window — interval/band joins, bloom
# point-lookup skipping, metadata-only counting, KMV overlap bound, bloom
# decontamination — plus the new shard_schema_drift row are IN; seven rows
# whose operator shape an in-window twin already covers are displaced (still
# registered + pytest-oracled past the window): q3 (join+agg+topk ≡
# join_fact_fact_revenue + topk_orders, q5/q19 keep the TPC-H anchor),
# dedup_simhash (banded-LSH candidates ≡ dedup_minhash_lsh), dedup_spans
# (digest-groupBy min-struct ≡ dedup_exact), multimodal_metadata (Arrow
# mapInPandas ≡ multimodal_features), events_exact_distinct_pcts (exact
# distinct ≡ groupby_count_variants + sketch_error_bounds' exact side),
# pivot_agg (group-arrangement ≡ rollup_cube_agg), having_scalar_subquery
# (agg-filter ≡ q5 + global_agg_no_keys compositions).
# Round 9 also rotated IN ann_sq_recall_bound (the new scalar-quantization
# family's driver-gated recall bound, operators/squant.py), displacing
# range_join_price_bands — arithmetic binning + broadcast equi-join, both
# mechanisms covered in-window by band_join_error_click /
# interval_join_user_windows (bucketize→equi-join) and join_broadcast_dims —
# and text_hash_embeddings (the embedding-GENERATION family: feature-hashing
# md5 bucket+sign vectors value-checked end-to-end), displacing
# text_edit_distance, a single built-in scalar function whose pure-Column
# text-scalar shape text_token_lang_stats / text_curation_funnel keep
# in-window.
# Round 10 rotation: three new oracle-backed families enter — events_exact_
# quantile (exact order statistics by multi-pass histogram narrowing,
# operators/selection.py), events_anomaly_mad (robust median/MAD outlier
# flagging, operators/analytics.py), text_ngram_lm_score (bigram-LM
# perplexity scoring, operators/lm.py — the CCNet curation signal,
# value-checked end-to-end). Displaced, each with in-window shape twins and
# all still registered + pytest-oracled: events_windowed_aggs (time-bucket
# aggregation ≡ events_incremental_rollup; overlapping-window semantics ≡
# events_gap_fill_rolling's frames), embedding_array_ops (element_at/size/
# slice/aggregate/array_max all exercised by ann_bruteforce_topk +
# text_hash_embeddings + embedding_near_dup), window_analytics (rank/lag/
# rolling frames ≡ events_gap_fill_rolling + events_sessionization +
# topk_orders' ordered ranking).
# Round 11 rotation (VERDICT r10 item #1): six round-10 oracle-backed rows
# enter — pipeline_k_anonymity (QI-group suppression, null-safe anti-join),
# events_exact_quantile_by_type (grouped exact selection, shared passes),
# events_exact_quantile_cont (interpolated quantile_cont contract),
# scan_hive_partition_pruned (hive-layout manifest pruning),
# scan_metadata_stats (metadata-only min/max/count serving), and
# events_exact_distinct_pcts (exact distinct + percentile composite, back in
# after its r9 displacement). Displaced, each with in-window shape twins and
# all still registered + pytest-oracled: pipeline_decontaminate (broadcast
# k-gram suppression ≡ pipeline_bloom_decontaminate, the strictly more
# general Bloom route), ann_pq_recall_bound (PQ recall gating ≡
# ann_ivfpq_recall_bound, which trains the same codebooks inside the IVF
# route, next to ann_ivf_recall_bound), scan_zonemap_count (metadata-only
# counting ≡ scan_metadata_stats + scan_zonemap_pruned), events_kmv_
# overlap_bound (estimate-vs-exact bound shape ≡ sketch_error_bounds; the
# KMV mechanics stay registry-oracled), band_join_error_click (bucketize→
# equi-join range predicate ≡ interval_join_user_windows), and
# string_agg_ordered (multi-agg groupBy shape ≡ groupby_agg_methods; the
# array_sort∘collect_list∘array_join mechanism stays registry-oracled).
# Round 12 rotation (VERDICT r11 item #1): the five round-11 oracle-backed
# family rows enter — dedup_substrings (exact substring dedup at arbitrary
# token boundaries, full value-check of dropped-token sets AND rebuilt text),
# dedup_substrings_incremental (one-shot ≡ incremental index equality),
# text_bpe_train_encode (BPE train/encode roundtrip + first-merge SQL
# argmax), events_exact_quantile_cont_by_type (now MULTI-prob grouped cont —
# p25/p50/p95 in shared passes, closing the selection matrix's last cell,
# VERDICT r11 item #8), text_repeated_passages (repeated-passage diagnostic).
# Displaced, each with in-window shape twins and all still registered +
# pytest-oracled past the window: dedup_exact (digest-groupBy min-struct
# keeper ≡ dedup_substrings, the strictly finer-grain exact-dedup route;
# hash-group shape also in dedup_groups), events_exact_quantile_cont (global
# interpolated ≡ events_exact_quantile_cont_by_type, strictly more general:
# grouped + multi-prob; a global call IS the grouped engine over no keys,
# one selection engine for every quantile row),
# events_exact_distinct_pcts (exact distinct ≡ groupby_count_variants +
# sketch_error_bounds' exact side; percentile ≡ events_exact_quantile — the
# r9 displacement argument, re-applied after its r11 in-window verification),
# text_token_lang_stats (pure-Column text scalar stats ≡ text_curation_funnel,
# the r9 text_edit_distance precedent), scan_bloom_lookup (manifest
# file-skipping ≡ scan_zonemap_pruned + scan_hive_partition_pruned; bloom
# membership mechanics ≡ pipeline_bloom_decontaminate).
# Round 12b rotation (late round 12 — the newly VALUE-CHECKED sketch rows and
# the remaining round-12 lifecycle rows enter): text_heavy_hitter_tokens
# (no longer rows-only: two-pass Misra-Gries → exact confirm with in-plan
# completeness proof, displacing its own bound companion heavy_hitter_bound —
# a strict upgrade, the window now audits exact VALUES for this operator
# instead of a boolean bound; the raw-sketch bound stays registry-oracled),
# events_kmv_distinct + events_kmv_overlap (md5_52 KMV theta sketches —
# distinct counts AND set operations replayed bit-for-bit by DuckDB,
# displacing ann_ivf_recall_bound and ann_sq_recall_bound, whose serving
# routes ann_ivf_index_topk / ann_ivfsq_index_topk have been value-checked
# registry rows since r11; ann_ivfpq_recall_bound stays as the in-window
# recall anchor for the hardest compression tier, and sketch_error_bounds
# stays gating the one remaining rows-only row), dedup_minhash_incremental
# (same signature/banding machinery as dedup_minhash_lsh PLUS the published-
# index increment lifecycle — strictly more coverage; the lsh row stays a
# bench row and registry-oracled), and pipeline_substring_decontaminate
# (decontamination at substring grain against the substring index,
# displacing pipeline_bloom_decontaminate whose broadcast-membership shape
# it composes at finer grain; the Bloom mechanics stay registry-oracled via
# pipeline_bloom_decontaminate + scan_bloom_lookup). Also in r12b:
# text_nb_langid (model-based classification — multinomial NB over hashed
# token features, train+score+argmax replayed end-to-end by DuckDB — a
# family nothing in-window covered) displaces text_hash_embeddings, whose
# md5 feature-hash mechanics are exactly the NB row's bucketing and whose
# array-generation shape stays in-window via ann_bruteforce_topk +
# embedding_near_dup; it remains registry-oracled past the window.
# Round 13 rotation (VERDICT r12 item #2: 58 registry rows had never been
# inside a gate window — gate evidence is the hard signal). This round
# rotates IN 32 of them, the largest batch the 50-slot window takes while
# keeping one anchor per family: the ENTIRE never-gated TPC-H tail (q2, q7,
# q8, q9, q11, q12, q13, q15, q16, q17, q20, q21, q22 — 13 rows), all five
# value-checked ANN index-SERVING routes (ann_ivf_index_topk, ann_pq_topk,
# ann_ivfpq_index_topk, ann_ivfpq_residual_topk, ann_ivfsq_index_topk — the
# 100 TB query path: published partitioned indexes, DPP-pruned probes), the
# two incremental lifecycles (events_kmv_incremental, text_nb_incremental),
# the grouped heavy-hitter row (text_heavy_hitters_by_lang), the nine
# never-gated pipeline curation rows (pii_redaction, chunk_documents,
# exact_sample, source_caps, weighted_sample, domain_mixture,
# leakage_safe_split, global_shuffle, data_card), the skew-join twin
# skew_salted_join (salted_skew_groupby verified r12), and the RESHAPED
# events_sketch_aggs (VERDICT r12 item #3: formerly the one rows-only row,
# now exact n_events + in-query bound booleans — every one of the 150
# registry rows is now value-checked; entering the window proves the
# reshape under the driver's own gate). Displaced to make room — every one
# verified in at least one prior gate (most in 3-5 consecutive gates) and
# all still registered + pytest-oracled past the window, with in-window
# twins: groupby_agg_methods / groupby_count_variants / global_agg_no_keys /
# where-op parity rows beyond where_ops_raw_rows (multi-agg + count-variant
# + empty-key shapes all exercised by q1 + the 13-row tail, e.g. q16's
# grouped count-distinct, q13's left-join count, q17's global avg),
# q5_local_volume / q19_disjunctive_filter (TPC-H anchors: 13 tail rows
# in-window), events_kmv_distinct / events_kmv_overlap (same md5_52 sketch
# machinery inside events_kmv_incremental, which ALSO gates the
# publish+increment lifecycle), text_heavy_hitter_tokens (global MG+confirm ≡
# text_heavy_hitters_by_lang's grouped superset), dedup_groups /
# dedup_substrings_incremental / dedup_ngram_jaccard / text_repeated_passages
# / pipeline_substring_decontaminate (dedup anchors stay via dedup_substrings
# + dedup_minhash_incremental; banded-candidate and index-increment machinery
# in-window through the minhash row), scan_metadata_stats /
# scan_hive_partition_pruned (manifest serving ≡ scan_zonemap_pruned, kept),
# events_exact_quantile / events_exact_quantile_cont_by_type /
# events_gap_fill_rolling / events_incremental_rollup / events_anomaly_mad
# (selection anchor stays via events_exact_quantile_by_type; window frames
# via events_sessionization), ann_bruteforce_topk / ann_ivfpq_recall_bound
# twin coverage note: recall_bound KEPT, bruteforce displaced (exact-cosine
# shape inside every recall bound's exact side), join_broadcast_dims /
# join_fact_fact_revenue / join_types_suite / topk_orders / set_ops_summary
# / rollup_cube_agg (join+agg+semi/anti/outer+topk shapes all inside the
# TPC-H tail: q21 anti/semi, q13 outer, q15 view-join+max, q2 correlated
# min; grouping-arrangement stays registry-oracled), salted_skew_groupby
# (≡ skew_salted_join, the join-side twin entering), pipeline_split_pack /
# pipeline_k_anonymity (nine pipeline rows in-window), text_ngram_lm_score /
# text_curation_funnel (LM scoring ≡ text_nb_* lifecycle rows; pure-Column
# scalar stats ≡ text_bm25_search's tokenization, kept in-window).
# Round 13b (late round 13, the r12b precedent: families born this round get
# gated this round): the four new r13 rows enter — text_kn_lm_score
# (Kneser-Ney scoring, full SQL replay), pipeline_quality_calibration
# (per-source percent_rank), pipeline_calibration_serve (frozen-CDF step
# lookup), events_heavy_spenders_by_type (grouped WEIGHTED heavy hitters).
# Displaced, each with in-window twins and all still registered +
# pytest-oracled: sketch_error_bounds (its exact checks are now INSIDE the
# reshaped events_sketch_aggs row — same envelope booleans plus the exact
# group count, strictly more), text_bm25_search (gated r9-r12; its
# tokenization/scalar shapes ride text_nb_langid + text_heavy_hitters_by_lang;
# BM25 mechanics stay registry-oracled), embedding_near_dup (gated r8-r12;
# embedding machinery in-window via the five ANN serving routes, banding via
# dedup_minhash_incremental), events_sessionization (gated r10-r12;
# gaps-and-islands window mechanics stay registry-oracled, window-frame
# coverage in-window via interval_join_user_windows + scd2_events_asof).
# Round 14 rotation (VERDICT r13 item #1 — the coverage closer): rotates IN
# the final 28 registry rows that had NEVER been inside a driver gate window
# (after this round the union of CORRECTNESS_r1..r14 covers the registry
# completely) plus the four rows born in r14 (text_kn3_lm_score — order-3
# Kneser-Ney with a full per-order SQL replay; text_kn_lm_incremental —
# merged-increment KN counts under the one-shot oracle;
# events_kmv_served / text_hh_served — answers served from standing
# published sketch state with raw-table-absent plans, VERDICT r12 item #6).
# 18 anchors stay, one per family, preferring rows whose operators CHANGED
# this round (events_sketch_aggs: rank-based envelope rewrite, ADVICE r13;
# pipeline_calibration_serve: id-type fix, ADVICE r13; text_kn_lm_score:
# kn_score generalized to order-n — all three must re-prove under the
# driver's own gate). Displaced (32, every one gated in r13, all still
# registered + pytest-oracled past the window, with in-window twins): the
# 12-row TPC-H tail q2/q7/q8/q11-q13/q15-q17/q20-q22 (join+agg+semi/anti/
# outer/correlated shapes ride q1 + q9 + the registry suite), four of the
# five ANN serving routes ann_ivf_index_topk / ann_pq_topk /
# ann_ivfpq_residual_topk / ann_ivfsq_index_topk (the richest route
# ann_ivfpq_index_topk stays; incoming ann_ivf_topk + four recall-bound
# rows cover the rest of the family), ann_ivfpq_recall_bound (incoming
# ann_ivfpq_residual_recall_bound + ann_ivfsq_recall_bound are the same
# machinery at harder tiers), events_kmv_incremental (events_kmv_served is
# the same md5_52 sketch + merge machinery PLUS the published-state read),
# interval_join_user_windows (asof_join_events stays; incoming
# fuzzy_join_part_names adds the join family's missing member),
# eight pipeline curation rows pii_redaction / chunk_documents /
# source_caps / weighted_sample / domain_mixture / leakage_safe_split /
# global_shuffle / data_card (pipeline_exact_sample stays as the curation
# anchor; incoming quality_checks / table_stats_part / table_diff_snapshots
# gate the quality family), pipeline_quality_calibration
# (pipeline_calibration_serve stays — the serve path subsumes the rank
# mechanics), text_nb_incremental (text_nb_langid stays — same NB count
# tables), text_heavy_hitters_by_lang (text_hh_served is the same grouped
# MG machinery PLUS the published-state serve), text_bpe_train_encode
# (incoming text_bpe_pair_stats + text_encode_ids split the same BPE
# lifecycle), events_heavy_spenders_by_type (grouped MG in-window via
# text_hh_served; weighted counters pytest-pinned). Late-r14 swap:
# events_countmin_served (born r14 — the served-sketch trio's third member,
# fixed literal probe keys so the plan is raw-table-absent) enters,
# displacing scd2_events_asof (gated r13; its as-of window mechanics stay
# in-window via asof_join_events, snapshot history via the incoming
# table_diff_snapshots).
# Round 15 rotation (VERDICT r14 items #2-#3): text_kn5_lm_score enters —
# the ONE registry row with no driver-gate evidence (born after the r14
# window froze; four-level SQL-replay oracle) — displacing
# text_kn_lm_incremental (gated r14; the KN merge machinery stays pinned by
# the in-window n=2/n=3/n=5 trio plus pytest). events_kmv_compacted enters —
# born r15, serves from a POST-compaction batch=-1 generation under the
# same md5_52 hash oracle, putting the compaction contract under the
# driver's gate rather than pytest alone — displacing events_kmv_served
# (gated r14; its read path is a strict subset of the compacted row's
# build-fold-serve lifecycle and stays plan-asserted + benched). Anchors
# whose operators changed in r15 are already in-window and re-prove under
# this gate: text_nb_langid (nb_score 1-ulp rounding retirement, VERDICT
# item #6), events_sketch_aggs (non-null rank-bound fix, ADVICE r15),
# text_kn_lm_score / text_kn3_lm_score (kn_score level caching, ADVICE r15).
GATE_WINDOW = [
    # parity anchors (O1-O7)
    "q1_pricing_summary",
    "where_ops_raw_rows",
    "shard_schema_drift",
    # TPC-H anchor
    "q9_product_type_profit",
    # sketch envelope (reshaped r14: rank-based bound) + served sketch state
    "events_sketch_aggs",
    "events_kmv_compacted",
    "text_hh_served",
    # KN LM family: n=2 anchor + n=3 + the n=5 CCNet-parity row (r15)
    "text_kn_lm_score",
    "text_kn3_lm_score",
    "text_kn5_lm_score",
    # ANN: serving anchor + the never-gated recall/serving tail
    "ann_ivfpq_index_topk",
    "ann_ivf_topk",
    "ann_ivfpq_residual_recall_bound",
    "ann_ivfsq_recall_bound",
    "ann_margin_match",
    # dedup anchors + never-gated dedup rows
    "dedup_substrings",
    "dedup_minhash_incremental",
    "dedup_ngram_capped",
    "text_normalize_dedup",
    "embedding_semantic_dedup",
    # embeddings / hybrid retrieval (never-gated)
    "embedding_label_centroids",
    "embedding_prototypes",
    "hybrid_search_rerank",
    # joins
    "asof_join_events",
    "skew_salted_join",
    "fuzzy_join_part_names",
    # events / windows / selection
    "events_exact_quantile_by_type",
    "events_funnel",
    "events_cohort_retention",
    "events_anomaly_zscore",
    "events_histogram_quantiles",
    "events_hll_rollup_bound",
    "events_countmin_freq",
    "part_price_quantiles",
    "topk_parts_by_revenue",
    # multimodal
    "multimodal_features",
    # pipeline curation + quality
    "pipeline_exact_sample",
    "pipeline_calibration_serve",
    "quality_checks",
    "table_stats_part",
    "table_diff_snapshots",
    # text: classifier anchor + never-gated text rows
    "text_nb_langid",
    "text_bigram_logprob",
    "text_unigram_logprob",
    "text_encode_ids",
    "text_bpe_pair_stats",
    "text_winnow_overlap",
    "text_source_divergence",
    # served count-min (born late r14)
    "events_countmin_served",
    # file skipping
    "scan_zonemap_pruned",
]


def _pin_gate_window() -> None:
    assert len(GATE_WINDOW) == 50, f"gate window must be exactly 50, got {len(GATE_WINDOW)}"
    missing = [n for n in GATE_WINDOW if n not in REGISTRY]
    assert not missing, f"gate-window queries not registered: {missing}"
    no_oracle = [n for n in GATE_WINDOW if REGISTRY[n].oracle is None]
    assert not no_oracle, f"gate-window queries lack a DuckDB oracle: {no_oracle}"
    reordered = {n: REGISTRY[n] for n in GATE_WINDOW}
    reordered.update((n, q) for n, q in REGISTRY.items() if n not in reordered)
    REGISTRY.clear()
    REGISTRY.update(reordered)


_pin_gate_window()

# Flagship re-export for __spark_entry__.entry()
from parqueryd_spark.queries.core import q1_pricing_summary  # noqa: E402,F401
