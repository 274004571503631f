"""The ANN serving loop a growing embedding corpus runs:

    day 0: fit centroids on the seed corpus, publish the IVF index
    day N: quantize ONLY the new vectors against the stored centroids and
           append them as a replayable batch partition
    serve: every query batch probes its nprobe best buckets of the
           published index (partition-pruned scan)
    watch: per-bucket occupancy by batch — when appends skew into few
           buckets, refit centroids and republish

Runnable:

    python examples/ann_index_lifecycle.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parqueryd_spark import get_spark
from parqueryd_spark.operators.similarity import (
    brute_force_topk,
    ivf_append,
    ivf_bucket_stats,
    ivf_load,
    ivf_publish,
    ivf_search,
    kmeans_centroids,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark("ann-index-lifecycle")
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    increment = emb.filter(F.col("vec_id") % 2 == 1)

    with tempfile.TemporaryDirectory() as work:
        idx = os.path.join(work, "ivf")

        # day 0: fit + publish
        centroids = kmeans_centroids(seed, n_centroids=8)
        ivf_publish(spark, idx, seed, centroids)
        print(f"published index over {seed.count()} vectors, 8 buckets")

        # day N: append the increment against the STORED centroids
        counts = ivf_append(spark, idx, increment, batch="day1")
        print(f"appended {sum(r.n_appended for r in counts.collect())} vectors")

        # serve: probe 3 of 8 buckets per query
        vectors, cen = ivf_load(spark, idx)
        queries = emb.filter(F.col("vec_id") < 3)
        approx = ivf_search(vectors, cen, queries, nprobe=3, k=5)
        exact = brute_force_topk(emb, queries, k=5)
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        print(f"recall@5 at nprobe=3/8: {len(a & e) / len(e):.2f}")

        # watch: occupancy by batch — the rebuild trigger metric
        for r in ivf_bucket_stats(spark, idx).orderBy("centroid_id", "batch").collect():
            print(f"  bucket {r.centroid_id} batch {r.batch}: {r.n_vectors}")

        # memory tier below: IVF-PQ — same bucketed layout, but the scan
        # reads 16-byte PQ codes instead of full vectors; full-precision
        # reads touch only the refine*k shortlist re-rank
        from parqueryd_spark.operators.quantization import (
            ivfpq_load,
            ivfpq_publish,
            ivfpq_search,
        )

        pq_idx = os.path.join(work, "ivfpq")
        ivfpq_publish(
            spark, pq_idx, emb, "first_k", dim=64, m=16, k_codes=16, n_centroids=8
        )
        codes, cen2, cb = ivfpq_load(spark, pq_idx)
        pq_approx = ivfpq_search(
            codes, cen2, cb, queries, corpus=emb, nprobe=3, k=5, refine=4
        )
        p = {(r.query_id, r.neighbor_id) for r in pq_approx.collect()}
        print(f"IVF-PQ recall@5 at nprobe=3/8, refine=4: {len(p & e) / len(e):.2f}")


if __name__ == "__main__":
    main()
