"""Physical-plan assertions: not just *what* each operator computes but *how* —
pushdown, pruning, join strategy, and codegen must be the plan we'd want at
100 TB (AQE may re-plan at runtime, but the static plan shows intent)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.core import aggregate_files
from parqueryd_spark.plans.audit import explain_str, plan_report
from parqueryd_spark.queries.core import q1_pricing_summary
from parqueryd_spark.queries.relational import (
    join_broadcast_dims,
    join_fact_fact_revenue,
    topk_orders,
    window_analytics,
)
from tests.conftest import SF_SMOKE, max_partition_bytes


def test_q1_filter_pushdown_and_pruning(spark):
    df = q1_pricing_summary(spark, SF_SMOKE)
    plan = explain_str(df, "formatted")
    # the where-term predicate must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan must NOT read unused columns like l_comment-ish ones
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    assert "l_quantity" in read_schema
    rep = plan_report(df)
    assert rep["batched_scan"] and rep["python_evals"] == 0
    # the sf0.001 file is under openCostInBytes, so Spark's split size
    # covers it: one task, no shuffle
    assert rep["exchanges"] == 0 and "Coalesce 1" in explain_str(df, "simple")
    # with maxPartitionBytes below its bytes: one shuffle, partial agg -> final agg
    with max_partition_bytes(spark, os.path.getsize(os.path.join(SF_SMOKE, "lineitem.parquet")) - 1):
        big = q1_pricing_summary(spark, SF_SMOKE)
    assert plan_report(big)["exchanges"] == 1 and "Coalesce" not in explain_str(big, "simple")


def test_where_term_in_pushdown(spark):
    import os

    df = aggregate_files(
        spark,
        [os.path.join(SF_SMOKE, "lineitem.parquet")],
        ["l_returnflag"],
        [["l_quantity", "sum", "s"]],
        where_terms=[["l_linenumber", "in", [1, 2]], ["l_quantity", ">", 10]],
    )
    plan = explain_str(df, "formatted")
    assert "PushedFilters" in plan
    assert "In(l_linenumber" in plan and "GreaterThan(l_quantity,10" in plan


def test_fact_tables_never_broadcast(spark):
    """No fact table may feed a BroadcastExchange: the estimate that makes a
    fact look broadcastable at sf0.001 grows with the data, so the plan shape
    must already be the shuffle join we'd want at 100 TB."""
    from parqueryd_spark.plans.audit import broadcast_scan_tables
    from parqueryd_spark.queries.tpch import (
        q3_shipping_priority,
        q4_priority_exists,
        q5_local_volume,
        q10_returned_items,
    )

    for fn in (q3_shipping_priority, q4_priority_exists, q5_local_volume,
               q10_returned_items, join_fact_fact_revenue):
        bcast = broadcast_scan_tables(fn(spark, SF_SMOKE))
        assert "lineitem" not in bcast, f"{fn.__name__} broadcasts lineitem: {bcast}"


def _bounded_build_ok() -> set[str]:
    """Queries whose intentional broadcast build side is a BOUNDED subset or
    reduction of a growing table. The payload is bounded by an operator
    parameter or the calendar, not by SF, so the hint is scale-safe even
    though the scan basename is a growing table. Reviewed per entry; add here
    only with the bound stated."""
    return {
        # ANN query/probe sets: fixed handful of query vectors by contract
        "ann_bruteforce_topk",       # 5 query vectors
        "ann_ivf_topk",              # 5 query vectors + 16 centroids
        "ann_ivf_index_topk",        # 5 query vectors x nprobe=4 probe rows +
                                     # 16 centroids (published-index route;
                                     # the corpus side is the pruned scan)
        "ann_ivf_exhaustive_topk",   # 5 query vectors + 16 centroids
        # the refine rows' re-rank (similarity._rerank) broadcasts the
        # refine*k*|Q| shortlist id pairs and one vector per query; the
        # corpus streams past both (tests/test_ann_paths.py pins it)
        "ann_pq_topk",               # 8 query LUT rows + refine*k shortlist
                                     # id pairs + 8 query vectors
        "ann_ivfpq_index_topk",      # 5 query vectors x nprobe=4 LUT rows +
                                     # 16 centroids + refine*k shortlist
                                     # id pairs + 5 query vectors
        "ann_ivfpq_recall_bound",    # same builds, 8 query vectors
        "ann_ivfpq_residual_recall_bound",  # same builds as
                                     # ann_ivfpq_recall_bound (8 query
                                     # vectors x nprobe=4 per-pair LUT rows +
                                     # 16 centroids + refine*k shortlist id
                                     # pairs + query vectors); residual
                                     # encoding changes LUT contents, not
                                     # build-side cardinality
        "ann_ivfpq_residual_topk",   # 5 query vectors x nprobe=4 per-pair
                                     # LUT rows + 16 centroids + refine*k
                                     # shortlist id pairs + query vectors
                                     # (value-checked replay route; same
                                     # bounds as the recall row)
        "ann_sq_recall_bound",       # 8 query vectors (const+weight rows) +
                                     # refine*k shortlist id pairs + query
                                     # vectors; the corpus side is the codes
                                     # stream
        "ann_ivfsq_index_topk",      # 8 query vectors x nprobe=4 probe rows
                                     # (published-index route; codes scan is
                                     # DPP-pruned) + refine*k shortlist id
                                     # pairs + query vectors
        "ann_ivfsq_recall_bound",    # same builds, 8 query vectors
        "ann_margin_match",          # bounded query set
        "ann_ivf_recall_bound",      # same builds as the two IVF rows
        "ann_pq_recall_bound",       # same builds as ann_pq_topk
        "embedding_prototypes",      # one centroid per label (label-bounded)
        # 1-row / stats-row builds
        "events_countmin_freq",      # sketch table: <= depth x width = 1024
                                     # counter cells regardless of SF
        "text_bm25_search",          # one corpus-stats row
        "text_heavy_hitter_tokens",  # one max-undercount row + MG candidate
                                     # set (<= capacity x partitions keys —
                                     # the sketch's bounded state, never the
                                     # token stream)
        "text_heavy_hitters_by_lang",  # per-group MG candidates (<= groups x
                                     # capacity x partitions; group col is
                                     # low-cardinality by contract) + one
                                     # error row per group
        "topk_parts_by_revenue",     # weighted MG candidates (<= capacity x
                                     # partitions part keys) + one error row
                                     # — the sketch's bounded state, never
                                     # the (part, price) stream
        "heavy_hitter_bound",        # one max-undercount row + k=20 list
        "text_nb_langid",            # dense NB model: n_buckets x n_classes
                                     # rows + one prior row per class — a
                                     # parameter-bounded reduction, the whole
                                     # point of the broadcast-model design
        "text_nb_incremental",       # same dense model, built from partials
        "text_unigram_logprob",      # one vocab-total row
        "text_bigram_logprob",       # one vocab-total row
        "text_ngram_lm_score",       # one vocab-size row (operators/lm.py:
                                     # lm.vocab is a single aggregated row;
                                     # the count tables join un-hinted)
        "text_kn_lm_incremental",    # kn_score's totals crossJoin: ONE row
                                     # (type-count x vocab-size) — the
                                     # per-order count tables join un-hinted;
                                     # only this row trains from raw docs
                                     # in-plan (the serve rows read published
                                     # counts, so their scans aren't flagged)
        "text_source_divergence",    # one corpus-total row
        "hybrid_search_rerank",      # 20-row shortlist + 1-row query vector
        # parameter- or calendar-bounded lists
        "text_ngram_stats",          # top-V vocab (V is a parameter)
        "pipeline_split_pack",       # one row per split (2-3)
        "pipeline_domain_mixture",   # one row per domain (low-cardinality dim)
        "pipeline_decontaminate",    # benchmark k-grams: eval suites are small
                                     # by contract (the corpus side never
                                     # shuffles by gram — that's the design)
        "pipeline_bloom_decontaminate",  # one bloom row (map of <= m/64 longs,
                                     # ~1.2 B/key at fpp=1%) + the verified
                                     # contaminated key set (hits + ~fpp FPs)
                                     # — both parameter-bounded reductions
        "events_cohort_retention",   # one row per cohort week: grows with the
                                     # calendar (~52/yr), not with event rows
    }


def test_no_hint_forced_broadcast_of_sf_growing_tables(spark):
    """With the size-estimate threshold disabled, the only broadcasts left in
    a plan are HINT-FORCED ones — which never revert when statistics grow, so
    an SF-growing table (fact or supplier/customer/part) must not survive
    here. Estimate-driven broadcasts of those tables at toy SF remain fine
    (they revert); this test proves q2/q21/q14/q19's broadcasts are
    estimate-driven, not forced (VERDICT r6 #3)."""
    from parqueryd_spark.plans.audit import broadcast_scan_tables
    from parqueryd_spark.queries import REGISTRY

    growing = {
        "lineitem", "orders", "events", "documents", "embeddings",
        "supplier", "customer", "part",
    }
    # one-row scalar-subquery builds: the broadcast payload is a single
    # aggregated row, not the scan it derives from — legitimate under any SF
    scalar_ok = {
        "q11_important_stock",       # 0.2%-of-total threshold row
        "q15_top_supplier",          # max(total_revenue) row
        "q22_global_sales_opportunity",  # avg positive balance row
        "having_scalar_subquery",    # global avg row
        "pipeline_k_anonymity",      # kept-row count: one aggregated row
                                     # (the enforcement anti-join itself is
                                     # un-hinted — AQE sizes the violation
                                     # side)
    }
    BOUNDED_BUILD_OK = _bounded_build_ok()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    offenders = {}
    try:
        for name, q in REGISTRY.items():
            if name in scalar_ok or name in BOUNDED_BUILD_OK:
                continue
            forced = broadcast_scan_tables(q.fn(spark, SF_SMOKE))
            bad = forced & growing
            if bad:
                offenders[name] = sorted(bad)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert offenders == {}, f"hint-forced broadcasts of SF-growing tables: {offenders}"


def test_dim_join_broadcasts(spark):
    rep = plan_report(join_broadcast_dims(spark, SF_SMOKE))
    assert rep["has_broadcast_join"]
    assert not rep["has_sortmerge_join"]  # fact side must not shuffle for dims


def test_fact_join_pushes_date_filter(spark):
    df = join_fact_fact_revenue(spark, SF_SMOKE)
    plan = explain_str(df, "formatted")
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_topk_is_take_ordered(spark):
    rep = plan_report(topk_orders(spark, SF_SMOKE))
    assert rep["has_take_ordered"]  # heap top-k, never a global sort


def test_window_topn_group_limit(spark):
    plan = explain_str(window_analytics(spark, SF_SMOKE), "simple")
    # Spark inserts WindowGroupLimit below the shuffle for rank<=k filters
    assert "WindowGroupLimit" in plan


def test_q6_all_predicates_pushed(spark):
    from parqueryd_spark.queries.tpch import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF_SMOKE)
    plan = explain_str(df, "formatted")
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"missing pushed filter {pushed}"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_returnflag" not in read_schema


def test_q14_q19_broadcast_part(spark):
    from parqueryd_spark.queries.tpch import q14_promo_revenue, q19_disjunctive_filter

    for fn in (q14_promo_revenue, q19_disjunctive_filter):
        rep = plan_report(fn(spark, SF_SMOKE))
        assert rep["has_broadcast_join"] and not rep["has_sortmerge_join"], fn.__name__


def test_q18_aggregates_before_join_and_takes_ordered(spark):
    from parqueryd_spark.queries.tpch import q18_large_orders

    df = q18_large_orders(spark, SF_SMOKE)
    rep = plan_report(df)
    assert rep["has_take_ordered"]  # top-20 must be a heap, not a global sort
    simple = explain_str(df, "simple")
    # the lineitem pre-aggregation must sit BELOW the orders join: explain
    # prints top-down, so the aggregate's line must come after the join's
    agg_pos = simple.find("HashAggregate")
    join_pos = simple.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert agg_pos > join_pos, "lineitem aggregation planned above the join"


def test_q4_semi_join_strategy(spark):
    from parqueryd_spark.queries.tpch import q4_priority_exists

    simple = explain_str(q4_priority_exists(spark, SF_SMOKE), "simple")
    assert "LeftSemi" in simple
    # orders-side date range must still push to the scan
    plan = explain_str(q4_priority_exists(spark, SF_SMOKE), "formatted")
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_no_python_in_core_paths(spark):
    """Core parity + relational + text queries must be 100% JVM-side."""
    from parqueryd_spark.queries import REGISTRY

    jvm_only = [
        "q1_pricing_summary",
        "join_broadcast_dims",
        "text_token_lang_stats",
        "text_curation_funnel",
        "text_ngram_stats",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "pipeline_split_pack",
        "ann_bruteforce_topk",
        "events_gap_fill_rolling",
        "events_windowed_aggs",
        "events_sketch_aggs",
        "q6_forecast_revenue",
        "q18_large_orders",
        "pipeline_pii_redaction",
        "dedup_spans",
        "part_price_quantiles",
        "events_funnel",
        "events_cohort_retention",
        "text_unigram_logprob",
        "events_anomaly_zscore",
        "pipeline_exact_sample",
        "fuzzy_join_part_names",
        "pipeline_chunk_documents",
        "quality_checks",
        "text_bm25_search",
        "hybrid_search_rerank",
        "pipeline_source_caps",
    ]
    for name in jvm_only:
        rep = plan_report(REGISTRY[name].fn(spark, SF_SMOKE))
        assert rep["python_evals"] == 0, f"{name} has Python in the hot path"


def test_extended_tpch_plan_audit(spark):
    """Every extended TPC-H query must be JVM-only, never broadcast a fact
    table, and never degrade to a cartesian / nested-loop join (the correlated
    subqueries are all decorrelated into aggregate-then-join by construction —
    a BroadcastNestedLoopJoin would mean one slipped through)."""
    from parqueryd_spark.plans.audit import broadcast_scan_tables
    from parqueryd_spark.queries.tpch_extended import EXTENDED

    # scalar subqueries (one-row aggregate broadcast against the probe side)
    # legitimately plan ONE BroadcastNestedLoopJoin whose build side is 1 row
    scalar_broadcasts = {
        "q11_important_stock": 1,   # 0.2%-of-total threshold
        "q15_top_supplier": 1,      # max(total_revenue)
        "q22_global_sales_opportunity": 1,  # avg positive balance
    }
    for name, (fn, _oracle, _bench) in EXTENDED.items():
        df = fn(spark, SF_SMOKE)
        rep = plan_report(df)
        assert rep["python_evals"] == 0, f"{name} has Python in the hot path"
        simple = explain_str(df, "simple")
        assert "CartesianProduct" not in simple, f"{name} plans a cartesian product"
        allowed = scalar_broadcasts.get(name, 0)
        got = simple.count("BroadcastNestedLoopJoin")
        assert got <= allowed, f"{name}: {got} nested-loop joins (allowed {allowed})"
        if allowed:
            # the fact scan legitimately sits under the scalar broadcast's
            # one-row aggregate; the payload shipped is 1 row, not the scan
            continue
        # forced-only check: with the size estimate disabled, any fact scan
        # still feeding a BroadcastExchange is HINT-forced — the class that
        # never reverts at scale. Estimate-driven broadcasts of fact-derived
        # aggregates at toy SF are fine (AQE reverts them as statistics grow).
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bcast = broadcast_scan_tables(fn(spark, SF_SMOKE))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "lineitem" not in bcast, f"{name} force-broadcasts lineitem: {bcast}"
        assert "orders" not in bcast, f"{name} force-broadcasts orders: {bcast}"


def test_lint_plan_flags_bad_and_passes_good(spark):
    """lint_plan is the user-facing form of this file's assertions: a clean
    registry query lints clean; deliberately bad plans produce the expected
    findings."""
    from pyspark.sql import functions as F

    from parqueryd_spark.plans.audit import lint_plan
    from parqueryd_spark.queries import REGISTRY
    from parqueryd_spark.sources.parquet import load_table

    good = REGISTRY["q1_pricing_summary"].fn(spark, SF_SMOKE)
    assert lint_plan(good) == []

    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    # forced fact broadcast (warn: static small-SF plans can't distinguish a
    # hint from an estimate, so the rule flags for review instead of failing)
    bad_bcast = orders.join(
        F.broadcast(lineitem), F.col("o_orderkey") == F.col("l_orderkey")
    )
    assert any(
        f["rule"] == "fact-broadcast" and f["severity"] == "warn"
        for f in lint_plan(bad_bcast)
    )
    # cartesian product
    cart = lineitem.select("l_orderkey").hint("shuffle_replicate_nl").crossJoin(
        orders.select("o_orderkey")
    )
    rules = {f["rule"] for f in lint_plan(cart)}
    assert "cartesian-product" in rules
    # row-at-a-time Python UDF
    from pyspark.sql.functions import udf

    plus = udf(lambda x: x + 1, "long")
    bad_udf = orders.select(plus("o_orderkey").alias("k"))
    rules = {f["rule"] for f in lint_plan(bad_udf)}
    assert "row-python-udf" in rules
    # function-wrapped predicate: only the implied IsNotNull pushes, the real
    # filter runs post-scan — the rule must see through the IsNotNull
    nation = load_table(spark, SF_SMOKE, "nation")
    wrapped = nation.where(F.upper(F.col("n_name")) == F.lit("KENYA"))
    rules = {f["rule"] for f in lint_plan(wrapped)}
    assert "unpushed-filters" in rules
    # while a genuinely pushed predicate stays clean
    pushed = nation.where(F.col("n_name") == "KENYA")
    assert "unpushed-filters" not in {f["rule"] for f in lint_plan(pushed)}


def test_cap_per_group_plans_group_limit(spark):
    """row_number <= n must compile to WindowGroupLimit (map-side per-group
    top-n before the shuffle) — the property that makes per-source caps
    affordable at corpus scale."""
    from parqueryd_spark.queries import REGISTRY

    df = REGISTRY["pipeline_source_caps"].fn(spark, SF_SMOKE)
    simple = explain_str(df, "simple")
    assert "WindowGroupLimit" in simple
    assert plan_report(df)["python_evals"] == 0


def test_registry_lints_error_free(spark):
    """No registry query may carry an error-severity lint finding (cartesian
    products, row-at-a-time Python UDFs). Warns are allowed: small-SF size
    estimates legitimately broadcast fact-derived subplans that revert to
    shuffle joins when the statistics grow."""
    from parqueryd_spark.plans.audit import lint_plan
    from parqueryd_spark.queries import REGISTRY

    errors = {}
    for name, q in REGISTRY.items():
        finds = [
            f for f in lint_plan(q.fn(spark, SF_SMOKE)) if f["severity"] == "error"
        ]
        if finds:
            errors[name] = finds
    assert errors == {}


def test_bench_plans_lint_error_free(spark):
    """Default-tier smoke audit: no bench row's plan carries an
    error-severity lint finding (the full registry is
    test_registry_lints_error_free, in the slow tier)."""
    from parqueryd_spark.plans.audit import lint_plan
    from parqueryd_spark.queries import bench_queries

    errors = {}
    for name, fn in bench_queries().items():
        finds = [f for f in lint_plan(fn(spark, SF_SMOKE)) if f["severity"] == "error"]
        if finds:
            errors[name] = finds
    assert errors == {}


def test_ivf_index_search_is_partition_pruned(spark):
    """VERDICT r7 item #3: the gated/benched IVF row must serve from the
    published centroid-partitioned index with the scan pruned to the probed
    buckets — the plan's PartitionFilters must carry a
    dynamicpruningexpression on centroid_id (DPP from the broadcast probe
    join), so a query batch scans ~nprobe/n_centroids of the corpus
    regardless of corpus size, with no driver-side collect."""
    from parqueryd_spark.queries.similarity import ann_ivf_index_topk

    plan = explain_str(ann_ivf_index_topk(spark, SF_SMOKE), "formatted")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "index scan lost its partition filters"
    assert any("dynamicpruningexpression" in l and "centroid_id" in l for l in pf), pf


def test_kmv_served_plan_never_touches_raw_events(spark):
    """events_kmv_served (VERDICT r12 item #6): the serving plan must read
    ONLY the published batch=<id> sketch partitions — the raw events table
    is absent from every scan. That's the whole point of standing sketch
    state: answering distinct counts without re-reading raw ids."""
    from parqueryd_spark.queries.events import events_kmv_served

    plan = explain_str(events_kmv_served(spark, SF_SMOKE), "formatted")
    assert "events.parquet" not in plan, "serving plan scans the raw table"
    assert "parqueryd_spark_kmv_" in plan, "serving plan lost the state dir"


def test_kmv_compacted_plan_serves_batch_minus_1_only(spark):
    """events_kmv_compacted (r15): the post-compaction serve must read ONLY
    the compacted kilobyte state — raw events absent from every scan, and
    the state dir is the dedicated compacted generation (kmvc prefix), whose
    only partition is batch=-1 (asserted on disk, not just in the plan)."""
    import os

    from parqueryd_spark.queries.events import _served_kmv_compacted_state, events_kmv_compacted

    plan = explain_str(events_kmv_compacted(spark, SF_SMOKE), "formatted")
    assert "events.parquet" not in plan, "serving plan scans the raw table"
    assert "parqueryd_spark_kmvc_" in plan, "serving plan lost the compacted state dir"
    state = _served_kmv_compacted_state(spark, SF_SMOKE, k=128)
    batches = [d for d in os.listdir(state) if d.startswith("batch=")]
    assert batches == ["batch=-1"], batches


def test_lm_compacted_serve_reads_state_not_retrain(spark):
    """text_lm_compacted_score (r15): the scoring plan must read the model
    from the COMPACTED count generation (lmc state dir, whose only
    partition is batch=-1) — documents.parquet appears ONLY as the
    doc_id < 300 scoring slice, never re-aggregated into counts. The scan
    count pins that: exactly one documents scan (the slice), with the
    count/context/vocab tables all fed from the state dir."""
    import os

    from parqueryd_spark.queries.text import _served_lm_compacted, text_lm_compacted_score

    plan = explain_str(text_lm_compacted_score(spark, SF_SMOKE), "formatted")
    assert "parqueryd_spark_lmc_" in plan, "serving plan lost the compacted state dir"
    assert plan.count("documents.parquet") <= 1, (
        "documents scanned more than once — the model is being re-derived "
        "from raw text instead of served from published counts"
    )
    state = _served_lm_compacted(spark, SF_SMOKE)
    batches = [d for d in os.listdir(state) if d.startswith("batch=")]
    assert batches == ["batch=-1"], batches
    assert os.path.isdir(os.path.join(state, "_meta")), "_meta lost in the swap"


def test_countmin_served_plan_never_touches_raw_events(spark):
    """events_countmin_served: the frequency serve probes a FIXED literal
    key set against the published counter cells — the raw events table must
    be absent from the plan entirely (the other two serving rows still read
    their probe keys from published state; this one proves the any-key
    regime: frequency answers with zero raw-data access)."""
    from parqueryd_spark.queries.estimates import events_countmin_served

    plan = explain_str(events_countmin_served(spark, SF_SMOKE), "formatted")
    assert "events.parquet" not in plan, "serving plan scans the raw table"
    assert "parqueryd_spark_cm_" in plan, "serving plan lost the state dir"


def test_hh_served_plan_never_touches_raw_documents(spark):
    """text_hh_served: the grouped heavy-hitter serve must read ONLY the
    published Misra-Gries summaries, never the documents table."""
    from parqueryd_spark.queries.text import text_hh_served

    plan = explain_str(text_hh_served(spark, SF_SMOKE), "formatted")
    assert "documents.parquet" not in plan, "serving plan scans the raw table"
    assert "parqueryd_spark_hh_" in plan, "serving plan lost the state dir"


def test_ivfpq_index_search_is_partition_pruned(spark):
    """Same DPP contract as the IVF row: the served IVF-PQ search's codes
    scan must be pruned to the probed centroid buckets."""
    from parqueryd_spark.queries.quantization import ann_ivfpq_index_topk

    plan = explain_str(ann_ivfpq_index_topk(spark, SF_SMOKE), "formatted")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "codes scan lost its partition filters"
    assert any("dynamicpruningexpression" in l and "centroid_id" in l for l in pf), pf
