"""Similarity search over embedding columns (north-star scope).

The embeddings table carries ``array<float>`` vectors. All arithmetic casts to
double first and uses higher-order functions (zip_with + aggregate) — JVM-side,
sequential left-to-right summation, which makes results bit-reproducible against
engines that do the same (the DuckDB oracle uses list_dot_product on DOUBLE[]).

Scale design (100 TB / billions of vectors):

- **brute-force top-k**: queries x corpus as a broadcast join (queries are
  small), per-partition partial top-k via window rank. Exact; the baseline.
- **IVF bucketing**: coarse-quantize the corpus to its nearest centroid
  (broadcast centroid list, one map pass), then search only the query's
  ``nprobe`` closest buckets — corpus scan cost drops by ~n_centroids/nprobe.
  Centroids are either taken deterministically from the corpus itself (first
  K by id — reproducible without an iterative fit; the oracle-stable default)
  or fitted with seeded MLlib KMeans under cosine distance
  (:func:`kmeans_centroids`, ``ivf_publish(..., centroids="kmeans")`` — the
  production coarse quantizer; recall dominance on clustered corpora is
  pytest-pinned in tests/test_ivf_lifecycle.py).

Every ANN route here and in ``squant``/``quantization`` runs the same steps
through one helper each: :func:`resolve_centroids` (the coarse centroids
from a frame, ``"first_k"`` or ``"kmeans"``), ``_probe`` (each query's
``nprobe`` nearest centroids), ``_topk_per_query`` (the per-query top-k,
tie-broken on neighbor id) and ``_rerank`` (the exact cosine re-rank of an
approximate shortlist).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parqueryd_spark.operators.util import spread_partitions
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import publish_batch, write_batch


def as_double(vec) -> F.Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b) -> F.Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self excluded).

    Broadcast the (small) query set; rank with a window partitioned by query id,
    tie-broken by neighbor id for determinism. Returns
    (query_id, neighbor_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    scored = _flat_candidates(
        corpus, q, id_col, as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cosine_sim", cosine(F.col("qv"), F.col("cv")))
    return _topk_per_query(scored, "cosine_sim", k)


def _flat_candidates(corpus: DataFrame, per_query: DataFrame, id_col: str, *cols) -> DataFrame:
    """Every corpus row, as (neighbor_id, ``cols``), against every row of
    the broadcast ``per_query`` frame (keyed by query_id), self excluded —
    the exhaustive candidates of :func:`brute_force_topk`, ``sq_search`` and
    ``pq_search``."""
    c = spread_partitions(corpus.select(F.col(id_col).alias("neighbor_id"), *cols))
    return c.join(F.broadcast(per_query), F.col("neighbor_id") != F.col("query_id"))


def _probed_candidates(index: DataFrame, probes: DataFrame, id_col: str, *cols) -> DataFrame:
    """The rows of a centroid-tagged ``index``, as (neighbor_id, ``cols``),
    in each query's probed buckets, self excluded. ``probes``
    (query_id, centroid_id, ...) is the broadcast side, so its centroid_id
    equality prunes a centroid-partitioned scan through DPP."""
    return (
        index.select(F.col(id_col).alias("neighbor_id"), *cols, "centroid_id")
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _first_per_query(df: DataFrame, n: int, *order: F.Column) -> DataFrame:
    """The one per-query window of the ANN family: number each query's rows
    by ``order`` as ``rank`` and keep the first ``n``."""
    w = W.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= n)


def _topk_per_query(
    scored: DataFrame, score: str, k: int, ascending: bool = False
) -> DataFrame:
    """Per-query top-``k`` of a (query_id, neighbor_id, ``score``) frame,
    best score first (highest, or lowest with ``ascending``), ties broken on
    the lower neighbor id. Returns (query_id, neighbor_id, score, rank)."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    return _first_per_query(scored, k, order, F.col("neighbor_id").asc()).select(
        "query_id", "neighbor_id", score, "rank"
    )


def _probe(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query's ``nprobe`` nearest centroids by cosine, ties broken on
    the lower centroid id — the probe step of every IVF search. The centroid
    list is metadata scale and broadcast. Returns
    (query_id, qv, centroid_id, cv) with the vectors as ``array<double>``."""
    q = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    cen = centroids.select("centroid_id", as_double(F.col(vec_col)).alias("cv"))
    ranked = q.crossJoin(F.broadcast(cen)).withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    return _first_per_query(
        ranked, nprobe, F.col("sim").desc(), F.col("centroid_id").asc()
    ).select("query_id", "qv", "centroid_id", "cv")


def _rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-rank of an approximate (query_id, neighbor_id)
    shortlist against the full-precision ``corpus`` — the one refine step of
    ``sq_topk``, ``pq_topk``, ``ivfsq_search`` and ``ivfpq_search``.

    The corpus streams past two bounded broadcasts and is never a build side
    or shuffled (it grows with the data; a size-estimate plan at small scale
    would broadcast it). The first broadcast carries the shortlist's
    refine·k·|Q| (query_id, neighbor_id) id pairs, the second one vector per
    query, so the payload is refine·k·|Q| id pairs plus |Q| vectors. A fused
    shortlist × query-vector frame would carry refine·k·|Q| vectors instead.
    ``cosine_sim`` is rounded to 6 places before ranking. Returns
    (query_id, neighbor_id, cosine_sim, rank)."""
    q = queries.select(F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv"))
    rer = (
        corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("nv"))
        .join(F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine_sim", F.round(cosine("qv", "nv"), 6))
    )
    return _topk_per_query(rer, "cosine_sim", k)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    with_sim: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, deterministic
    tie-break on centroid id). One broadcast-join map pass over the corpus.
    ``with_sim=True`` also returns the winning cosine as ``centroid_sim``
    (what :func:`semantic_dedup` / :func:`prototype_scores` rank on).

    The argmax is a groupBy + max(struct(sim, -centroid_id)): max on the
    struct picks highest sim, ties resolve to the lowest centroid id, and —
    unlike the row_number()-window formulation this replaces — the aggregate
    gets MAP-SIDE partial combine, so the exchange carries one row per vector
    instead of the full |corpus| x |centroids| cross-join fan-out (at 4096
    centroids, a 4096x shuffle-volume difference; locally identical results
    and wall time, verified at 64k x 400)."""
    c = spread_partitions(corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")))
    cen = centroids.select(F.col(centroid_id), as_double(F.col(vec_col)).alias("cv"))
    scored = c.crossJoin(F.broadcast(cen)).withColumn("sim", cosine(F.col("v"), F.col("cv")))
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("sim"), (-F.col(centroid_id)).alias("neg_cid"))
        ).alias("b")
    )
    out = best.select(
        id_col,
        (-F.col("b.neg_cid")).alias(centroid_id),  # type-preserving double negate
        F.col("b.sim").alias("centroid_sim"),
    )
    if with_sim:
        return out
    return out.drop("centroid_sim")


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Fit MLlib KMeans over the embedding column and return a centroids
    DataFrame shaped like corpus rows (centroid_id, vec_col). The production
    IVF coarse quantizer. Cosine distance matches the metric the buckets are
    probed with (Euclidean clustering of unnormalized vectors would split
    same-direction vectors across buckets). Seeded + fixed training partition
    count for machine-independent reproducibility (KMeans|| init samples per
    partition)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(as_double(F.col(vec_col))).alias("features")
    ).repartition(8)
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, distanceMeasure="cosine"
    ).fit(train)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in center]) for i, center in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, f"centroid_id int, `{vec_col}` array<double>")


def resolve_centroids(
    corpus: DataFrame,
    centroids: DataFrame | str,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """The coarse centroids (centroid_id, vec_col) of every IVF route.
    ``centroids`` is a prebuilt frame (returned as is) or a mode string, which
    needs ``n_centroids``: ``"first_k"`` takes the ``n_centroids`` lowest-id
    corpus vectors, with centroid_id = that vector's id in the id column's
    type (deterministic and fit-free, a K-row lookup; the oracle-stable mode
    the registry rows use); ``"kmeans"`` fits seeded MLlib KMeans under
    cosine distance (:func:`kmeans_centroids`, int ids)."""
    if not isinstance(centroids, str):
        return centroids
    if n_centroids is None:
        raise ValueError("centroids mode string requires n_centroids")
    if centroids == "kmeans":
        return kmeans_centroids(corpus, n_centroids, vec_col=vec_col, seed=seed)
    if centroids == "first_k":
        return (
            corpus.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
        )
    raise ValueError(
        f"centroids must be a DataFrame, 'kmeans', or 'first_k'; got {centroids!r}"
    )


def _publish_centroids(centroids: DataFrame, index_dir: str) -> DataFrame:
    """Write an index's coarse centroids to ``<index_dir>/centroids`` with an
    int ``centroid_id`` (the type the partitioned codes read back with) and
    return that frame for the publish-time assignment."""
    cents = centroids.withColumn("centroid_id", F.col("centroid_id").cast("int"))
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    return cents


def _appended_counts(spark, state_dir: str, batch: str) -> DataFrame:
    """Per-centroid row counts of one appended ``batch=`` partition of an
    index's vectors or codes, (centroid_id, n_appended)."""
    return (
        read_resolved(spark, [state_dir])
        .filter(F.col("batch") == batch)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_appended"))
    )


def ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistable ANN index: every corpus vector tagged with its nearest
    centroid, (id_col, vec_col, centroid_id). A 100 TB pipeline builds this
    once per corpus generation, writes it partitioned by ``centroid_id``
    (``write_partitioned`` / ``atomic_publish``), and serves every subsequent
    query batch from it — searches then read ONLY the probed buckets'
    partitions (partition pruning on centroid_id), never the full corpus."""
    assignment = ivf_assign(corpus, centroids, id_col, vec_col)
    return corpus.join(assignment, id_col)


def ivf_search(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k search against a prebuilt :func:`ivf_index`: rank centroids per
    query (broadcast — centroid lists are metadata-scale), scan only the
    ``nprobe`` best buckets, window-rank the verified cosines. Returns
    (query_id, neighbor_id, cosine_sim, rank)."""
    probes = _probe(queries, centroids, nprobe, id_col, vec_col).drop("cv")
    scored = _probed_candidates(
        index, probes, id_col, as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cosine_sim", cosine(F.col("qv"), F.col("cv")))
    return _topk_per_query(scored, "cosine_sim", k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_mode: str = "first_k",
) -> DataFrame:
    """Approximate top-k: IVF coarse quantization, probing the query's
    ``nprobe`` nearest buckets — the one-shot composition of
    :func:`ivf_index` + :func:`ivf_search`. ``centroid_mode``: ``"first_k"``
    takes the first n_centroids corpus vectors by id (deterministic,
    fit-free); ``"kmeans"`` fits MLlib KMeans (better bucket balance =>
    better recall at the same nprobe).
    Returns (query_id, neighbor_id, cosine_sim, rank)."""
    centroids = resolve_centroids(corpus, centroid_mode, n_centroids, id_col, vec_col)
    index = ivf_index(corpus, centroids, id_col, vec_col)
    return ivf_search(index, centroids, queries, nprobe, id_col, vec_col, k)


def multiprobe_assign(
    vectors: DataFrame,
    centroids: list,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids (max cosine).

    ``centroids`` is a driver-side list of ``(centroid_id, [floats])`` —
    metadata-scale, like a broadcast dim table, so the assignment is a pure
    projection: per-centroid similarities are literal-array dot products
    folded into one codegen'd map pass + explode. No join, no shuffle.

    Centroids are L2-normalized driver-side, so each similarity is one dot
    product divided by the row vector's norm (computed once per row).
    Returns (id_col, v: array<double>, centroid_id) with nprobe rows per
    input vector.
    """
    import math

    v = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).withColumn("_nv", norm(F.col("v")))
    structs = []
    for cid, vec in centroids:
        n = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        lit_c = F.array(*[F.lit(float(x) / n) for x in vec])
        sim = dot(F.col("v"), lit_c) / F.col("_nv")
        # negate so ascending struct sort = sim desc, centroid_id asc tie-break
        structs.append(F.struct((-sim).alias("neg_sim"), F.lit(int(cid)).alias("cid")))
    probes = F.slice(F.sort_array(F.array(*structs)), 1, nprobe)
    return v.select(
        id_col,
        "v",
        F.explode(F.transform(probes, lambda s: s["cid"])).alias("centroid_id"),
    )


def pca_fit(
    corpus: DataFrame, k: int, vec_col: str = "embedding"
) -> list[list[float]]:
    """Fit a k-component PCA basis over the embedding column (MLlib, one
    distributed covariance pass) and return the components as plain Python
    lists (k x dim — metadata-scale, like centroid lists). Matches Spark
    ML's own projection convention (no mean-centering at transform time), so
    corpus and queries projected with :func:`pca_project` live in the same
    space as ``PCAModel.transform`` output.

    Reduction is only as good as the spectrum: validate low-rank recall
    against :func:`brute_force_topk` on YOUR corpus before deploying — on a
    near-isotropic embedding table (like the synthetic fixture) k=16 of 64
    keeps only ~16% of top-5 neighbors, while real text embeddings
    concentrate variance and reduce far more gracefully. A full-rank basis
    is an orthonormal rotation and preserves top-k exactly (tested)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(as_double(F.col(vec_col))).alias("features"))
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(train)
    pc = model.pc.toArray()  # dim x k
    return [[float(pc[d][j]) for d in range(pc.shape[0])] for j in range(pc.shape[1])]


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project vectors onto a fitted basis with PURE Column arithmetic: each
    reduced dimension is a dot product against a literal component vector —
    no MLlib vector materialization and no Python at serve time, so query
    batches project at scan speed. Returns (id_col, vec_col) with the
    reduced ``array<double>``, drop-in for every ANN operator here (shorter
    vectors = cheaper cosines and tighter IVF/PQ codes; spectral-norm
    preservation keeps near-neighbors near)."""
    v = as_double(F.col(vec_col))
    reduced = F.array(
        *[dot(v, F.array(*[F.lit(x) for x in comp])) for comp in components]
    )
    return df.select(F.col(id_col), reduced.alias(vec_col))


def ivf_publish(
    spark,
    index_dir: str,
    corpus: DataFrame,
    centroids: DataFrame | str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str = "base",
    n_centroids: int | None = None,
    seed: int = 42,
) -> None:
    """Persist a self-contained IVF index: centroids at
    ``<index_dir>/centroids`` and assigned vectors at ``<index_dir>/vectors``
    partitioned by ``(batch, centroid_id)`` — the layout that makes the index
    a living dataset rather than a one-shot artifact. Searches prune on the
    second-level ``centroid_id`` directories regardless of batch;
    ``ivf_append`` adds later corpus increments as new ``batch=`` partitions
    (idempotently replayable — re-writing a batch overwrites exactly its own
    partition); the centroids file is the metadata the appends quantize
    against.

    ``centroids`` is a prebuilt centroids DataFrame (``centroid_id,
    vec_col``) or a :func:`resolve_centroids` mode string (``n_centroids``
    required): ``"kmeans"`` is the production coarse quantizer — on
    clustered corpora fitted centroids track the real cluster structure, so
    equal-``nprobe`` searches probe the buckets the true neighbors actually
    landed in (recall dominance over first-K is pytest-pinned on a clustered
    synthetic corpus); ``"first_k"`` is the oracle-stable mode the registry
    rows use."""
    centroids = _publish_centroids(
        resolve_centroids(corpus, centroids, n_centroids, id_col, vec_col, seed), index_dir
    )
    publish_batch(
        ivf_index(corpus, centroids, id_col, vec_col),
        f"{index_dir}/vectors",
        batch,
        partition_by=["centroid_id"],
    )


def ivf_load(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vectors, centroids) of a published index. The vectors frame is
    search-ready for :func:`ivf_search` — partition pruning on centroid_id
    still applies through the extra batch directory level."""
    return (
        read_resolved(spark, [f"{index_dir}/vectors"]),
        read_resolved(spark, [f"{index_dir}/centroids"]),
    )


def ivf_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    batch: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF maintenance: quantize ``new_vectors`` against the
    index's OWN persisted centroids and add them as the ``batch=<batch>``
    partition — cost is one broadcast-assign pass over the increment, never a
    re-scan or re-cluster of the existing corpus (the daily-growth shape, the
    vector twin of dedup.incremental_minhash_pairs). Returns per-centroid
    counts of the appended batch.

    Re-running the same batch id overwrites exactly that partition
    (``sources/sinks.write_batch``), so a failed-and-replayed ingest cannot
    double-count.

    Centroids are frozen at publish time; appended vectors that sit far from
    every centroid degrade recall silently. Watch :func:`ivf_bucket_stats` —
    when new batches skew heavily into few buckets (or grow a bucket far past
    the mean), rebuild with fresh ``kmeans_centroids`` and republish.
    """
    centroids = read_resolved(spark, [f"{index_dir}/centroids"])
    write_batch(
        ivf_index(new_vectors, centroids, id_col, vec_col),
        f"{index_dir}/vectors",
        batch,
        partition_by=["centroid_id"],
    )
    return _appended_counts(spark, f"{index_dir}/vectors", batch)


def ivf_bucket_stats(spark, index_dir: str) -> DataFrame:
    """Per-centroid occupancy of a published index, by batch — the rebuild
    trigger metric (metadata-scale output: n_centroids x n_batches rows,
    computed from a column-pruned scan of the two partition columns)."""
    return (
        read_resolved(spark, [f"{index_dir}/vectors"])
        .groupBy("centroid_id", "batch")
        .agg(F.count("*").alias("n_vectors"))
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    mode: str = "bucketed",
    n_centroids: int = 16,
    nprobe: int = 6,
    centroids: list | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).

    ``mode="bucketed"`` (default, the 100 TB path): multi-probe IVF — each
    vector lands in its ``nprobe`` nearest of ``n_centroids`` buckets, pairs
    are generated only within a bucket (hash join on centroid_id, never a
    cartesian product), exact-cosine verified, then deduped. Precision is
    always 1.0 (every candidate is verified); recall depends on
    (n_centroids, nprobe) — (16, 6) reproduces the exact >=0.45 pair set at
    sf0.001/0.01/0.1 (asserted in tests). At scale use n_centroids ~ sqrt(n)
    with kmeans_centroids() and keep nprobe a small constant: candidate cost
    is sum(bucket_size^2), not n^2.

    ``mode="exact"``: the all-pairs baseline (id-ordered self join) — the
    oracle for recall tests, quadratic by construction.

    ``centroids``: optional driver-side [(centroid_id, [floats])]; defaults
    to the first ``n_centroids`` vectors by id (deterministic, fit-free —
    a K-row lookup, metadata-scale like kmeans_centroids' clusterCenters).
    Returns (id_a, id_b, cosine_sim)."""
    if mode not in ("bucketed", "exact"):
        raise ValueError(f"mode must be 'bucketed' or 'exact', got {mode!r}")
    if mode == "exact":
        v = spread_partitions(
            vectors.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        )
        a = v.withColumnsRenamed({"id": "id_a", "v": "va"})
        b = v.withColumnsRenamed({"id": "id_b", "v": "vb"})
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim")
        )
    if centroids is None:
        first_k = resolve_centroids(vectors, "first_k", n_centroids, id_col, vec_col)
        centroids = [
            (i, list(r[vec_col]))
            for i, r in enumerate(sorted(first_k.collect(), key=lambda r: r["centroid_id"]))
        ]
    if not centroids:
        # empty corpus => no buckets; preserve the output schema
        return vectors.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine_sim"),
        ).limit(0)
    assigned = spread_partitions(
        multiprobe_assign(vectors, centroids, nprobe, id_col, vec_col)
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), "centroid_id"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "centroid_id"
    )
    # A pair sharing m probed buckets is generated m (<= nprobe) times; the
    # verified survivors are bit-identical (same double arithmetic on the
    # same inputs), so distinct() after the threshold filter dedups exactly.
    return (
        a.join(b, ["centroid_id"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .distinct()
    )


def search_literal(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors of ONE literal query vector — the ad-hoc
    "find things like this embedding" call (the batch form with a query
    TABLE is :func:`brute_force_topk`; the indexed form is
    :func:`ivf_search` over a published index). Returns
    (neighbor_id, cosine_sim, rank) as a heap top-k: scan -> score ->
    TakeOrderedAndProject, no shuffle of the corpus."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cosine(as_double(F.col(vec_col)), q).alias("cosine_sim"),
    )
    out = scored.orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc()).limit(k)
    return out.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())),
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroid_mode: str = "first_k",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public): the
    embedding-space analog of minhash dedup for paraphrase/template duplicates
    that share no exact n-grams.

    Plan: (1) coarse-cluster the corpus — ``first_k`` deterministic centroids
    or seeded MLlib KMeans (:func:`kmeans_centroids`); (2) generate candidate
    pairs ONLY within a cluster (hash join on centroid_id — cost is
    sum(cluster_size^2), never the n^2 cartesian the paper's GPU baseline
    pays); (3) exact-cosine verify against ``threshold``; (4) fold pairs into
    duplicate groups (connected components — edges never cross clusters, so a
    group lives inside one cluster); (5) keep ONE representative per group:
    the member LEAST similar to its centroid (the paper's diversity-keeping
    low-prototypicality choice), ties broken on lowest id.

    Returns one row per input vector: (id_col, centroid_id, centroid_sim,
    group_id, keep) — ungrouped vectors keep themselves, group_id = own id.
    At 100 TB: use ``centroid_mode="kmeans"`` with n_centroids ~ sqrt(n) so
    clusters stay bounded; cross-cluster near-dups are missed by construction
    (the documented SemDeDup approximation — the same tradeoff its published
    results accept).
    """
    from parqueryd_spark.operators.dedup import near_dup_groups

    centroids = resolve_centroids(vectors, centroid_mode, n_centroids, id_col, vec_col)
    # localCheckpoint (not persist): the assignment is reused across the
    # fixpoint loop's actions AND the returned plan, so a bare persist could
    # never be unpersisted without recompute — the checkpoint truncates
    # lineage instead and its storage is released with the DataFrame
    assigned = ivf_assign(vectors, centroids, id_col, vec_col, with_sim=True).localCheckpoint()
    v = spread_partitions(
        vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    )
    av = assigned.join(v, id_col)
    a = av.select(F.col(id_col).alias("id_a"), "centroid_id", F.col("v").alias("va"))
    b = av.select(F.col(id_col).alias("id_b"), "centroid_id", F.col("v").alias("vb"))
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b")
    )
    groups = near_dup_groups(pairs)  # (doc_id, group_id), grouped vectors only
    members = groups.join(
        assigned.select(F.col(id_col).alias("doc_id"), "centroid_sim"), "doc_id"
    )
    w = W.partitionBy("group_id").orderBy(F.col("centroid_sim").asc(), F.col("doc_id").asc())
    flagged = members.withColumn("keep", F.row_number().over(w) == 1).select(
        F.col("doc_id").alias(id_col), F.col("group_id").alias("_gid"), "keep"
    )
    out = assigned.join(flagged, id_col, "left").select(
        id_col,
        "centroid_id",
        "centroid_sim",
        F.coalesce(F.col("_gid"), F.col(id_col)).alias("group_id"),
        F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
    )
    return out


def prototype_scores(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroid_mode: str = "first_k",
) -> DataFrame:
    """Prototypicality scoring for data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws", public): rank every example by cosine similarity to
    its cluster centroid. High-sim rows are prototypical/easy (prunable when
    data is abundant); low-sim rows are hard/rare (prunable when data is
    scarce). One broadcast assignment pass + one per-cluster window — no
    pairwise work at all, so it scales linearly where pair-based dedup is
    quadratic-per-bucket.

    Returns (id_col, centroid_id, centroid_sim, proto_rank, cluster_n) with
    ``proto_rank`` 1 = most prototypical within its cluster. Select a keep set
    with e.g. ``F.col("proto_rank") > F.col("cluster_n") * lit(frac)`` (drop
    the easiest ``frac``)."""
    centroids = resolve_centroids(vectors, centroid_mode, n_centroids, id_col, vec_col)
    assigned = ivf_assign(vectors, centroids, id_col, vec_col, with_sim=True)
    w = W.partitionBy("centroid_id").orderBy(F.col("centroid_sim").desc(), F.col(id_col).asc())
    wc = W.partitionBy("centroid_id")
    return assigned.select(
        id_col,
        "centroid_id",
        "centroid_sim",
        F.row_number().over(w).alias("proto_rank"),
        F.count(F.lit(1)).over(wc).alias("cluster_n"),
    )


def margin_topk_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin_threshold: float = 0.0,
    margin_mode: str = "distance",
) -> DataFrame:
    """Margin-scored nearest-neighbor matching (the margin criterion of
    Artetxe & Schwenk 2019, public — the bitext-mining / cross-corpus
    alignment scorer): each query's best match is accepted not on absolute
    cosine (miscalibrated per query — hubness) but on how much it stands OUT
    from the rest of its top-k neighborhood. This is the forward-direction
    variant; run it both ways and intersect for the paper's full
    bidirectional criterion.

    ``margin_mode="distance"`` (default): ``sim(top1) - mean(sim(top-k))``
    — the paper's distance variant, sign-safe over the full cosine range
    [-1, 1] (always >= 0, larger = more distinctive).
    ``margin_mode="ratio"``: ``sim(top1) / mean(sim(top-k))`` — the ratio
    variant; only meaningful when the neighborhood mean is positive (a zero
    or negative mean flips/undefines the ratio and would reject exactly the
    outlier queries whose one real match towers over a dissimilar
    neighborhood), so reserve it for normalized same-domain corpora where
    top-k cosines are positive by construction.

    Plan: :func:`brute_force_topk` (broadcast queries, window top-k over the
    corpus — swap in :func:`ivf_search` over a published index at scale),
    then ONE aggregate per query: top-1 id via ``min_by(rank)``, top-1 sim
    via ``max``, margin from the top-k mean. Returns
    (query_id, neighbor_id, cosine_sim, margin) for margins >= threshold.
    """
    if margin_mode not in ("distance", "ratio"):
        raise ValueError(f"margin_mode must be 'distance' or 'ratio', got {margin_mode!r}")
    tk = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    if margin_mode == "distance":
        margin = F.max("cosine_sim") - F.avg("cosine_sim")
    else:
        margin = F.max("cosine_sim") / F.avg("cosine_sim")
    agg = tk.groupBy("query_id").agg(
        F.min_by("neighbor_id", "rank").alias("neighbor_id"),
        F.max("cosine_sim").alias("cosine_sim"),
        margin.alias("margin"),
    )
    return agg.filter(F.col("margin") >= margin_threshold)


def incremental_semantic_pairs(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs of a NEW vector batch against a published IVF
    index (:func:`ivf_publish`) plus within the batch itself — the vector
    twin of ``dedup.incremental_minhash_pairs``: a growing corpus dedups its
    daily increment without ever re-pairing corpus x corpus.

    Plan: centroids load driver-side (metadata-scale) and become literal
    arrays, so the new batch multiprobes into its ``nprobe`` nearest buckets
    in one codegen'd map pass — no join, no shuffle of the increment; the
    index side is read ONLY for the probed ``centroid_id`` partitions
    (partition-pruned — the reason the index persists partitioned by
    centroid). Candidates are exact-cosine verified, so precision is 1.0;
    recall follows the same (n_centroids, nprobe) tradeoff as
    ``cosine_near_dup_pairs`` — a corpus vector is found when its home
    bucket is among the new vector's probes (nprobe = n_centroids is
    exhaustive and exact). Cost per increment: |new| signature work +
    sum(probed-bucket sizes), never |corpus|^2.

    Precondition: id spaces of the index and the new batch are disjoint
    (same contract as incremental_minhash_pairs). Returns
    (id_a = new id, id_b = corpus-or-new id, cosine_sim).
    """
    vectors, centroids_df = ivf_load(spark, index_dir)
    cents = [
        (int(r["centroid_id"]), [float(x) for x in r[vec_col]])
        for r in centroids_df.collect()
    ]
    assigned = spread_partitions(
        multiprobe_assign(new_vectors, cents, nprobe, id_col, vec_col)
    )
    a = assigned.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "centroid_id")
    corpus = vectors.select(
        F.col(id_col).alias("id_b"), as_double(F.col(vec_col)).alias("vb"), "centroid_id"
    )
    # a corpus vector lives in exactly one bucket, so each (new, corpus) pair
    # joins at most once — no distinct needed on this branch
    new_vs_corpus = (
        a.join(corpus, "centroid_id")
        .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )
    b = assigned.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "centroid_id")
    # new-new pairs can share up to nprobe buckets; verified survivors are
    # bit-identical, so distinct() dedups exactly
    new_vs_new = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .distinct()
    )
    return new_vs_corpus.unionByName(new_vs_new)
