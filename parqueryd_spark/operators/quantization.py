"""Product quantization (PQ) for embedding columns — the memory tier below
IVF in the ANN ladder (brute-force → IVF bucket pruning → PQ compression).

At 100 TB the embedding column is the problem: 10⁹ × 64-dim float32 ≈ 256 GB
that a re-ranking scan must touch. PQ stores each vector as ``m`` small codes
(here 8 × 1 byte = 32× smaller): split the dimensions into ``m`` subspaces,
k-means each subspace to ``k`` centroids ("codebook"), and replace each
sub-vector with its nearest centroid id. Search uses the asymmetric distance
computation (ADC) of Jégou et al., "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): per query, precompute an m×k lookup table of exact
query-sub-vector → centroid distances, then a candidate's approximate distance
is m table lookups — no float vector ever re-read.

Spark-first shape:

- **train** on a bounded deterministic sample (driver numpy Lloyd iterations —
  metadata-scale like the IVF centroid bootstrap, ≤ sample_n × dim floats).
- **encode** is an Arrow-batched vectorized pandas UDF: one numpy
  argmin-over-codebook per subspace, whole batches at a time. (A pure-Column
  variant with m×k SEPARATE sqdist aggregates per row was tried first and
  rejected by measurement: it pushes Catalyst analysis/codegen to minutes at
  m=16. The deterministic replay route's :func:`pq_encode_cols` is the
  viable Column form — the codebook is ONE literal array per subspace and
  the distance ONE ``transform`` lambda, so expression size is O(m).) One
  map pass, no shuffle; output (id, codes) is the persistable compressed
  index.
- **search**: each query's m×k LUT is one numpy pass on the small query side;
  the corpus-sized work — broadcast-join codes × queries, approximate distance
  as m ``element_at`` lookups, window top-k — stays JVM-side Column exprs.
  The big side is never shuffled, and the float vectors are never re-read.
- **refine** (the production default): ADC is a shortlist generator — take
  ``refine × k`` ADC candidates, join back the shortlist's true vectors, exact
  cosine re-rank, emit top-k (``similarity._rerank``, shared with the SQ
  routes). Full-precision reads touch only |queries| × refine × k rows
  instead of the corpus.

The ``codebook`` mode picks one route for train, encode and query tables
(``_pq_route``): ``"kmeans"`` (seeded numpy trainer, Arrow-batched encode,
numpy LUTs — the production default) or ``"spread"`` (the deterministic,
SQL-replayable route: :func:`pq_codebooks_spread`, :func:`pq_encode_cols`
and driver-side LUTs that a DuckDB oracle reproduces bit for bit).

Vectors are L2-normalized first (default) so squared-L2 ranking equals cosine
ranking (‖a−b‖² = 2 − 2·cos for unit vectors) — comparable with the exact
:func:`parqueryd_spark.operators.similarity.brute_force_topk` baseline, which
anchors the recall tests.

Composes with IVF: encode residuals per bucket for IVF-PQ; here the flat
variant keeps the oracle story clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.similarity import (
    _appended_counts,
    _flat_candidates,
    _probe,
    _probed_candidates,
    _publish_centroids,
    _rerank,
    _topk_per_query,
    as_double,
    ivf_assign,
    norm,
    resolve_centroids,
)
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import publish_batch, read_meta, write_batch


def _nv_col(vec_col: str, normalize: bool) -> F.Column:
    """Zero-guarded L2 normalization as a JVM left fold — the exact
    arithmetic DuckDB's ``x / sqrt(list_dot_product(x, x))`` performs, so
    values agree bit-for-bit across engines (the IVF-SQ replay precedent)."""
    v = as_double(F.col(vec_col))
    if not normalize:
        return v
    nrm = norm(v)
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(
        F.transform(v, lambda x: x * F.lit(0.0))
    )


def _sub_d2s(nvcol: F.Column, j: int, dsub: int, cbj: list[list[float]]) -> F.Column:
    """Array of k squared-L2 distances between a vector's j-th subspace slice
    and each codebook entry. The codebook is ONE literal array-of-arrays and
    the distance is ONE fold lambda applied per element by ``transform`` —
    this is what makes a pure-Column PQ viable: expression size stays O(m),
    not the O(m x k) separate-aggregate blowup the docstring's rejected
    variant hit. Left-fold accumulation matches DuckDB's
    ``list_dot_product(ld, ld)`` bit-for-bit."""
    s = F.slice(nvcol, j * dsub + 1, dsub)
    cb_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cbj])
    return F.transform(
        cb_lit,
        lambda c: F.aggregate(
            F.zip_with(s, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_codebooks_spread(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 2048,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Deterministic, SQL-REPLAYABLE codebooks (VERDICT r11 item #2): per
    subspace j, SORT the sample's j-th subvector slices lexicographically
    (ties broken by sample rank) and take the k evenly-spaced quantile rows
    ``floor(i·n/k)`` — no random init, no Lloyd iterations, no numpy float
    paths. Sorting per subspace spreads the entries over each subspace's own
    distribution (recall within a few points of seeded k-means at the
    registry configurations, still bound-gated by the recall rows), and
    every operation is either pure comparison/indexing or the JVM fold
    normalization, so a DuckDB oracle re-derives the identical codebooks
    from the same parquet (``ORDER BY slice, rn`` + ``(i*n)//k``) and the
    whole encode/ADC/re-rank route hash-matches outright — the technique
    that value-checked the IVF/IVF-SQ routes in round 11.
    :func:`pq_train` remains the production trainer."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        corpus.select(F.col(id_col).alias("_id"), _nv_col(vec_col, normalize).alias("_v"))
        .orderBy("_id")
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks_spread needs a non-empty corpus")
    rows.sort(key=lambda r: r["_id"])  # collect() after limit need not be ordered
    n = len(rows)
    codebooks = []
    for j in range(m):
        subs = [
            [float(x) for x in r["_v"][j * dsub : (j + 1) * dsub]] for r in rows
        ]
        # (slice, sample rank) — a TOTAL order both engines reproduce
        # (Python list compare ≡ DuckDB list ORDER BY, elementwise)
        order = sorted(range(n), key=lambda t: (subs[t], t))
        codebooks.append([subs[order[(i * n) // k]] for i in range(k)])
    return codebooks


def pq_encode_cols(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """:func:`pq_encode`'s pure-Column twin for the deterministic replay
    route: argmin per subspace as array_min + first array_position over the
    transform-computed distance array (first-min tie-break, identical to
    numpy argmin and to the oracle's ``ORDER BY d2, code`` rn=1). One map
    pass, no shuffle, no Python anywhere."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    base = corpus.select(F.col(id_col), _nv_col(vec_col, normalize).alias("_nv"))
    codes = []
    for j in range(m):
        d2s = _sub_d2s(F.col("_nv"), j, dsub, codebooks[j])
        codes.append((F.array_position(d2s, F.array_min(d2s)) - 1).cast("int"))
    return base.select(F.col(id_col), F.array(*codes).alias("codes"))


# bound on the rows a driver-side LUT build collects: query vectors, or
# (query, probed centroid) pairs on the residual route
_MAX_LUT_ROWS = 65536


def _hat(v: list[float]) -> list[float]:
    """Zero-guarded L2 normalization in the JVM fold's order (see
    :func:`_nv_col`)."""
    import math

    s = 0.0
    for x in v:
        s += x * x
    nrm = math.sqrt(s)
    return [x / nrm for x in v] if nrm > 0 else [x * 0.0 for x in v]


def _det_luts(rows: DataFrame, keys: list[str], vector_of, codebooks: list) -> DataFrame:
    """The driver-side ADC tables of the replay route: collect
    ``rows`` (bounded by ``_MAX_LUT_ROWS``), map each to the vector it
    quantizes (``vector_of``), and return ``keys`` + ``lut``, the m x k
    squared sub-distances. Python floats are IEEE doubles and the loops
    accumulate in the same left-assoc order as the JVM fold (and DuckDB's
    list_dot_product), so every distance is bit-identical to the oracle's —
    while the per-search plan stays tiny: a first pure-Column cut shipped
    the m x k codebook as literal expression trees, and MEASURING it showed
    py4j CONSTRUCTION of those trees (~4 s/plan at 16x32) dominating the
    actual 0.7 s execution."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    collected = rows.limit(_MAX_LUT_ROWS + 1).collect()
    if len(collected) > _MAX_LUT_ROWS:
        raise ValueError(
            f"ADC-table input exceeds {_MAX_LUT_ROWS} rows — the driver-side "
            "LUT collect is bounded by contract; chunk the query set"
        )
    m, dsub = len(codebooks), len(codebooks[0][0])
    out = []
    for r in collected:
        x = vector_of(r)
        lut = []
        for j in range(m):
            sub = x[j * dsub : (j + 1) * dsub]
            row = []
            for c in codebooks[j]:
                d2 = 0.0
                for a, b in zip(sub, c):
                    d2 += (a - b) * (a - b)
                row.append(d2)
            lut.append(row)
        out.append(tuple(r[k] for k in keys) + (lut,))
    fields = rows.select(*keys).schema.fields
    schema = StructType(list(fields) + [StructField("lut", ArrayType(ArrayType(DoubleType())))])
    return rows.sparkSession.createDataFrame(out, schema)


def pq_lut_det(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """:func:`pq_lut`'s DETERMINISTIC twin for the replay route: the m x k
    ADC table of each query computed driver-side (:func:`_det_luts`) over
    the bounded query batch; the corpus side never comes near the driver."""
    rows = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_v")
    )

    def vector_of(r):
        v = [float(x) for x in r["_v"]]
        return _hat(v) if normalize else v

    return _det_luts(rows, ["query_id"], vector_of, codebooks)


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 2048,
    iters: int = 10,
    seed: int = 13,
    normalize: bool = True,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: per-subspace Lloyd k-means on a deterministic sample.

    Returns ``codebooks[m][k][dim//m]`` as plain nested lists (broadcast as
    expression literals by encode/search). The sample is the first
    ``sample_n`` rows by id — deterministic across runs and partitionings —
    and the collect is bounded metadata scale (sample_n × dim doubles),
    the same posture as the IVF centroid bootstrap
    (`similarity.resolve_centroids`). numpy seeded init → reproducible.
    """
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train needs a non-empty corpus to fit codebooks")
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if normalize:
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    codebooks = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # k-means++-lite init: distinct sample rows, seeded choice
        uniq = np.unique(S, axis=0)
        init_idx = rng.choice(len(uniq), size=min(k, len(uniq)), replace=False)
        C = uniq[np.sort(init_idx)]
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        if len(C) < k:  # degenerate tiny corpora: pad with repeats
            C = np.vstack([C, C[[0] * (k - len(C))]])
        codebooks.append([[float(x) for x in row] for row in C])
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode every vector to its m nearest-centroid codes via an
    Arrow-batched pandas UDF (numpy argmin per subspace, first-min tie-break
    matching np.argmin), one map pass, no shuffle. Output
    (id, codes: array<int>) is the persistable compressed index: m bytes of
    information per vector vs dim × 4. The UDF is a self-contained closure
    capturing only the numpy codebook (cloudpickled by value — executors need
    no repo import)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(codebooks, dtype=np.float64)  # (m, k, dsub)
    do_norm = normalize

    @pandas_udf("array<int>")
    def _enc(vecs):
        import numpy as _np
        import pandas as _pd

        X = _np.array([_np.asarray(v, dtype=_np.float64) for v in vecs])
        if len(X) == 0:
            return _pd.Series([], dtype=object)
        if do_norm:
            X = X / _np.linalg.norm(X, axis=1, keepdims=True)
        m, _, dsub = C.shape
        codes = _np.empty((len(X), m), dtype=_np.int32)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            # ‖s−c‖² over the batch: (n,1,d)-(k,d) → (n,k); argmin per row
            d2 = ((S[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return _pd.Series(list(codes))

    return corpus.select(F.col(id_col), _enc(as_double(F.col(vec_col))).alias("codes"))


def pq_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Per-query ADC lookup table (m arrays of k exact sub-distances) — one
    numpy pass over the small query side."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(codebooks, dtype=np.float64)
    do_norm = normalize

    @pandas_udf("array<array<double>>")
    def _lut(vecs):
        import numpy as _np
        import pandas as _pd

        out = []
        m, _, dsub = C.shape
        for v in vecs:
            x = _np.asarray(v, dtype=_np.float64)
            if do_norm:
                x = x / _np.linalg.norm(x)
            rows = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                rows.append(((C[j] - s[None, :]) ** 2).sum(axis=1))
            out.append(_np.array(rows))
        return _pd.Series(out)

    return queries.select(
        F.col(id_col).alias("query_id"), _lut(as_double(F.col(vec_col))).alias("lut")
    )


def pq_search(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    normalize: bool = True,
    lut_mode: str = "numpy",
) -> DataFrame:
    """ADC top-k: broadcast the per-query LUTs against the codes table;
    approximate distance = Σⱼ lut[j][code_j] — m JVM-side ``element_at``
    lookups per candidate, no Python on the corpus-sized stream and no
    full-vector reads. Window top-k per query, deterministic neighbor-id
    tie-break. Returns (query_id, neighbor_id, approx_dist, rank).
    ``lut_mode="det"`` computes the query LUTs with :func:`pq_lut_det`
    (driver-side, bit-identical to the oracle's fold arithmetic) instead of
    numpy."""
    lut_fn = pq_lut_det if lut_mode == "det" else pq_lut
    q = lut_fn(queries, codebooks, id_col=id_col, vec_col=vec_col, normalize=normalize)
    scored = _flat_candidates(codes, q, id_col, "codes").withColumn(
        "approx_dist", _adc(len(codebooks))
    )
    return _topk_per_query(scored, "approx_dist", k, ascending=True).withColumn(
        "approx_dist", F.round("approx_dist", 6)
    )


def _adc(m: int) -> F.Column:
    """A candidate's ADC distance, ``Σⱼ lut[j][code_j]`` — m JVM-side
    ``element_at`` lookups."""
    approx = F.lit(0.0)
    for j in range(m):
        approx = approx + F.element_at(F.element_at("lut", j + 1), F.col("codes")[j] + 1)
    return approx


def _pq_route(codebook: str):
    """(trainer, encoder, lut_mode) of a ``codebook`` mode — the one place
    the ``"kmeans"``/``"spread"`` choice is made. Trainers share the
    (corpus, dim, m, k, vec_col, id_col, normalize) keywords and encoders
    the (corpus, codebooks, id_col, vec_col, normalize) ones."""
    if codebook == "kmeans":
        return pq_train, pq_encode, "numpy"
    if codebook == "spread":
        return pq_codebooks_spread, pq_encode_cols, "det"
    raise ValueError(f"codebook must be 'kmeans' or 'spread'; got {codebook!r}")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    k_codes: int = 16,
    k: int = 5,
    refine: int = 4,
    codebook: str = "kmeans",
) -> DataFrame:
    """Train → encode → ADC shortlist → exact re-rank in one call (flat PQ).

    With ``refine`` > 0 the ADC pass only generates a ``refine × k``
    shortlist; the shortlist's true vectors are joined back and exactly
    cosine-re-ranked, so full-precision reads are |queries| × refine × k rows.
    ``refine=0`` returns the raw ADC ranking.
    ``codebook="kmeans"`` (production default) is the seeded numpy trainer +
    Arrow-batched encode; ``codebook="spread"`` is the deterministic,
    SQL-replayable route (:func:`pq_codebooks_spread` + the pure-Column
    encode/LUT) that the registry rows hash-check outright against a full
    DuckDB replay (VERDICT r11 item #2).
    Returns (query_id, neighbor_id, cosine_sim, rank) under refine,
    (query_id, neighbor_id, approx_dist, rank) without."""
    train, encode, lut_mode = _pq_route(codebook)
    cb = train(corpus, dim=dim, m=m, k=k_codes, vec_col=vec_col, id_col=id_col)
    codes = encode(corpus, cb, id_col=id_col, vec_col=vec_col)
    if refine <= 0:
        return pq_search(
            codes, queries, cb, id_col=id_col, vec_col=vec_col, k=k, lut_mode=lut_mode
        )
    shortlist = pq_search(
        codes, queries, cb, id_col=id_col, vec_col=vec_col, k=refine * k, lut_mode=lut_mode
    )
    return _rerank(shortlist, queries, corpus, k, id_col, vec_col)


def _residual_frame(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, __resid): each vector's IVF residual — unit-normalized
    vector minus its unit-normalized assigned centroid — computed JVM-side
    (transform/zip_with; one broadcast-assign pass, no Python on the corpus).
    Unit space keeps the residual formulation consistent with the cosine
    metric the buckets are probed with (‖â−b̂‖² = 2−2·cos)."""
    assignment = ivf_assign(corpus, centroids, id_col, vec_col)
    cen = centroids.select("centroid_id", as_double(F.col(vec_col)).alias("__cv"))
    base = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
        .join(assignment, id_col)
        .join(F.broadcast(cen), "centroid_id")
    )
    xhat = F.transform(F.col("__v"), lambda x: x / norm(F.col("__v")))
    chat = F.transform(F.col("__cv"), lambda x: x / norm(F.col("__cv")))
    return base.select(
        F.col(id_col),
        F.col("centroid_id"),
        F.zip_with(xhat, chat, lambda a, b: a - b).alias("__resid"),
    )


def _pq_input(
    vectors: DataFrame, centroids: DataFrame, residual: bool, encode, id_col: str, vec_col: str
):
    """What an IVF-PQ index's codes quantize, as (frame, vector column,
    normalize, encoded): the raw vectors, normalized by the encoder, or
    their unit-space residuals (:func:`_residual_frame`, already JVM fold
    arithmetic, so the spread route stays SQL-replayable on them too).
    ``encoded(codebooks)`` is the (id, codes, centroid_id) rows ``encode``
    makes of the frame. The residual frame feeds the codebook sample and the
    encode, so it is checkpointed eagerly (the within-call lifetime rule of
    ``queries.served_artifact``) and computed once; its rows carry their
    centroid, so they are encoded keyed by (id, centroid_id) and need no
    join back to an assignment."""
    if residual:
        resid = _residual_frame(vectors, centroids, id_col, vec_col).localCheckpoint(eager=True)
        keyed = resid.select(F.struct(id_col, "centroid_id").alias("__key"), "__resid")

        def encoded(cb):
            codes = encode(keyed, cb, id_col="__key", vec_col="__resid", normalize=False)
            return codes.select("__key.*", "codes")

        return resid, "__resid", False, encoded
    assignment = ivf_assign(vectors, centroids, id_col, vec_col)

    def encoded(cb):
        return encode(vectors, cb, id_col=id_col, vec_col=vec_col).join(assignment, id_col)

    return vectors, vec_col, True, encoded


def ivfpq_publish(
    spark,
    index_dir: str,
    corpus: DataFrame,
    centroids: DataFrame | str,
    dim: int,
    m: int = 16,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str = "base",
    residual: bool = False,
    n_centroids: int | None = None,
    seed: int = 42,
    codebook: str = "kmeans",
) -> None:
    """Publish an IVF-PQ index — the canonical 100 TB ANN layout (coarse
    quantizer for pruning x product quantizer for compression, the
    FAISS-IVFPQ architecture; Jegou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011):

    - ``<index_dir>/centroids`` — the coarse centroids (metadata scale);
    - ``<index_dir>/codebooks`` — the m per-subspace codebooks as
      (j, code, sub) rows (m x k_codes rows, metadata scale);
    - ``<index_dir>/codes`` — one (id, codes: array<int>, batch, centroid_id)
      row per vector, PARTITIONED BY (batch, centroid_id): m small ints per
      vector instead of dim floats (16x compression at dim=64/m=16), bucketed
      so searches dynamic-partition-prune to the probed buckets.

    At 100 TB the codes table is the only corpus-sized artifact a search
    touches (~m bytes/vector, further cut nprobe/n_centroids by pruning);
    full-precision vectors are read ONLY for the refine-k re-rank join.

    ``residual=False`` (default): codes quantize the raw (normalized)
    vectors — one shared codebook set serves every bucket, appends stay
    embarrassingly parallel, and the refine re-rank recovers most of the
    residual path's recall edge; this is the oracle-stable registry route.
    ``residual=True``: the standard IVF-PQ formulation (Jegou et al. §III) —
    codes quantize ``x̂ − ĉ(x)`` (the vector minus its assigned coarse
    centroid, unit space), which concentrates the quantizer's dynamic range
    on the within-bucket spread, so un-refined ADC ranking is measurably
    sharper at equal (m, k_codes); searches then build one LUT per
    (query, probed centroid) pair instead of per query. The flag is
    persisted as the codes' ``_meta`` sidecar (``sinks.publish_batch``) and
    honored by load/append/search. ``centroids`` is a frame or a
    ``similarity.resolve_centroids`` mode string; ``codebook`` picks the
    ``_pq_route`` for either encoding.
    """
    train, encode, _ = _pq_route(codebook)
    centroids = _publish_centroids(
        resolve_centroids(corpus, centroids, n_centroids, id_col, vec_col, seed), index_dir
    )
    src, vcol, normalize, encoded = _pq_input(
        corpus, centroids, residual, encode, id_col, vec_col
    )
    cb = train(src, dim=dim, m=m, k=k_codes, vec_col=vcol, id_col=id_col, normalize=normalize)
    cb_rows = [(j, c, cb[j][c]) for j in range(len(cb)) for c in range(len(cb[j]))]
    spark.createDataFrame(cb_rows, "j int, code int, sub array<double>").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/codebooks")
    meta = spark.createDataFrame(
        [(bool(residual), str(codebook))], "residual boolean, codebook string"
    )
    publish_batch(encoded(cb), f"{index_dir}/codes", batch, partition_by=["centroid_id"], meta=meta)


def ivfpq_meta(spark, index_dir: str) -> dict:
    """Index metadata ({'residual': bool, 'codebook': str}); an index
    published without meta, or before a flag existed, defaults to
    raw-vector encoding with the seeded-kmeans trainer. A meta that exists
    but cannot be read raises: serving codes at a guessed encoding returns
    wrong neighbors."""
    row = read_meta(spark, f"{index_dir}/codes")
    if row is None:
        return {"residual": False, "codebook": "kmeans"}
    cbmode = row["codebook"] if "codebook" in row.__fields__ else "kmeans"
    return {"residual": bool(row["residual"]), "codebook": str(cbmode or "kmeans")}


def ivfpq_load(spark, index_dir: str):
    """(codes, centroids, codebooks) of a published IVF-PQ index. The
    codebooks parquet is collected back to the nested-list form the
    encode/LUT operators take — m x k_codes rows, metadata scale, same
    posture as the centroid bootstrap."""
    codes = read_resolved(spark, [f"{index_dir}/codes"])
    cents = read_resolved(spark, [f"{index_dir}/centroids"])
    rows = read_resolved(spark, [f"{index_dir}/codebooks"]).collect()
    mm = 1 + max(r["j"] for r in rows)
    kk = 1 + max(r["code"] for r in rows)
    cb = [[None] * kk for _ in range(mm)]
    for r in rows:
        cb[r["j"]][r["code"]] = list(r["sub"])
    return codes, cents, cb


def _pair_luts(pairs: DataFrame, codebooks: list) -> DataFrame:
    """Residual ADC tables: one LUT per (query, probed centroid) pair over
    ``q̂ − ĉ`` — the residual-space twin of :func:`pq_lut` (which is
    per-query). ``pairs`` carries (query_id, centroid_id, qv, cv); the UDF is
    a self-contained Arrow-batched closure over the small probe-pair frame
    (|queries| × nprobe rows, metadata scale)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(codebooks, dtype=np.float64)

    @pandas_udf("array<array<double>>")
    def _lut2(qvs, cvs):
        import numpy as _np
        import pandas as _pd

        out = []
        m, _, dsub = C.shape
        for qv, cv in zip(qvs, cvs):
            q = _np.asarray(qv, dtype=_np.float64)
            c = _np.asarray(cv, dtype=_np.float64)
            x = q / _np.linalg.norm(q) - c / _np.linalg.norm(c)
            rows = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                rows.append(((C[j] - s[None, :]) ** 2).sum(axis=1))
            out.append(_np.array(rows))
        return _pd.Series(out)

    return pairs.withColumn("lut", _lut2("qv", "cv")).drop("qv", "cv")


def _pair_luts_det(pairs: DataFrame, codebooks: list) -> DataFrame:
    """:func:`_pair_luts`' DETERMINISTIC twin for the residual replay route:
    the per-(query, probed centroid) ADC tables over ``q̂ − ĉ``, computed
    driver-side by :func:`_det_luts` over the bounded probe-pair frame
    (|queries| x nprobe rows)."""

    def vector_of(r):
        q = _hat([float(x) for x in r["qv"]])
        c = _hat([float(x) for x in r["cv"]])
        return [a - b for a, b in zip(q, c)]

    return _det_luts(pairs, ["query_id", "centroid_id"], vector_of, codebooks)


def ivfpq_search(
    codes: DataFrame,
    centroids: DataFrame,
    codebooks: list,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    nprobe: int = 4,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    lut_mode: str = "numpy",
) -> DataFrame:
    """Top-k against a published IVF-PQ index: rank centroids per query
    (broadcast — metadata scale), ADC-score ONLY the probed buckets' codes
    (the probe-LUT join prunes the partitioned codes scan via DPP, asserted
    in tests/test_plans.py), shortlist ``refine*k`` by approximate distance,
    then exactly cosine-re-rank the shortlist against full-precision vectors
    (``corpus``; reads |queries| x refine x k rows). ``refine=0`` (or
    ``corpus=None``) returns the raw ADC ranking
    (query_id, neighbor_id, approx_dist, rank); with refine it returns
    (query_id, neighbor_id, cosine_sim, rank).

    ``residual`` must match the index's publish-time flag (see
    ``ivfpq_meta``): the residual path builds one LUT per (query, probed
    centroid) pair — same broadcast size (|queries| × nprobe LUT rows reach
    every probed bucket either way), the corpus-sized codes stream and the
    JVM-side ``element_at`` scoring are identical."""
    probes = _probe(queries, centroids, nprobe, id_col, vec_col)
    if residual:
        # nqueries x nprobe LUT rows either way; "det" is the replay route
        lut2_fn = _pair_luts_det if lut_mode == "det" else _pair_luts
        probe_luts = lut2_fn(probes, codebooks)
    else:
        # lut_mode="det": the oracle-replayable driver-computed LUT (indexes
        # published with codebook="spread" — VERDICT r11 item #2)
        lut_fn = pq_lut_det if lut_mode == "det" else pq_lut
        luts = lut_fn(queries, codebooks, id_col=id_col, vec_col=vec_col)
        # broadcast: |queries| LUT rows by construction (BOUNDED_BUILD_OK) —
        # unhinted this planned a SortMergeJoin that shuffled+sorted both
        # tiny sides into 32 partitions, twice (main plan + DPP subquery)
        probe_luts = probes.select("query_id", "centroid_id").join(F.broadcast(luts), "query_id")
    scored = _probed_candidates(codes, probe_luts, id_col, "codes").withColumn(
        "approx_dist", _adc(len(codebooks))
    )
    if refine <= 0 or corpus is None:
        return _topk_per_query(scored, "approx_dist", k, ascending=True).withColumn(
            "approx_dist", F.round("approx_dist", 6)
        )
    shortlist = _topk_per_query(scored, "approx_dist", refine * k, ascending=True)
    return _rerank(shortlist, queries, corpus, k, id_col, vec_col)


def ivfpq_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    batch: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF-PQ maintenance, the compressed-tier twin of
    operators/similarity.ivf_append: encode ``new_vectors`` against the
    index's OWN persisted codebooks and assign them against its persisted
    centroids, landing the increment as the ``batch=<batch>`` partition —
    one broadcast-assign + one Arrow-batched encode pass over the increment,
    never a re-scan, re-cluster, or re-train of the existing corpus. Returns
    per-centroid counts of the appended batch.

    Re-running the same batch id overwrites exactly that partition
    (``sources/sinks.write_batch``), so a failed-and-replayed ingest cannot
    double-count.

    Both quantizers are frozen at publish time: appended vectors far from
    every coarse centroid degrade probe recall, and drift from the PQ
    codebooks' training distribution degrades ADC ranking. Watch bucket
    occupancy (the IVF signal) and refined-vs-raw recall on a holdout (the
    PQ signal); on drift, rebuild with fresh centroids/codebooks and
    republish.
    """
    _, centroids, cb = ivfpq_load(spark, index_dir)
    meta = ivfpq_meta(spark, index_dir)
    # a spread index's bit-exact replay contract extends to APPENDS: the
    # numpy encoder's pairwise-summation norms differ from the JVM fold at
    # ulp level, which can flip a near-tie argmin and silently break the
    # index's hash-match property — encode with the index's own route
    _, encode, _ = _pq_route(meta["codebook"])
    *_, encoded = _pq_input(new_vectors, centroids, meta["residual"], encode, id_col, vec_col)
    write_batch(encoded(cb), f"{index_dir}/codes", batch, partition_by=["centroid_id"])
    return _appended_counts(spark, f"{index_dir}/codes", batch)
