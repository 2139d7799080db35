"""MLlib-backed ANN: BucketedRandomProjectionLSH index build + batch top-k.

SURVEY §2.7 Q6 option (a) / §7 step 9: the Spark-idiomatic batch ANN is
MLlib's LSH family — random-hyperplane bucketing fit as an ML model, the
hashed collection persisted as the index, and search as a bucket-join.
This complements the custom IVF/HNSW operators with the stock-Spark path
(the BASELINE "bulk index build via Spark + MLlib" posture).

Semantics: Euclidean (L2) distance only — that is what BRP-LSH hashes for.
Results are ordered by (distance, id) per query, the reference's universal
tie rule (flat.rs:27-46).

Scale design:
- `fit` samples the random projections driver-side (no Spark job); the
  expensive part is `transform` (adds the bucket keys) — persisted via the
  keyed cache, so repeated query batches reuse one hashed copy (index
  residency, SCALE.md).
- `approxSimilarityJoin` is a shuffle join on (hash-table, bucket) keys:
  candidate volume is controlled by `bucket_length` (bucket width) and
  `num_hash_tables` (OR-amplification). At 100 TB the bucket key is the
  partition key and hot buckets are the skew concern — cap them upstream
  exactly like `max_bucket_size` in the MinHash path.
- With `bucket_length` >= the data diameter every row lands in one bucket
  per table and the join degenerates to exact brute force — that is the
  oracle configuration (the same exhaustive-parameter trick as the HNSW
  high-ef agreement invariant, hnsw.rs:659-687); realistic parameters are
  validated by overlap@k tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def brp_lsh_topk(
    coll: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    bucket_length: float = 4.0,
    num_hash_tables: int = 4,
    seed: int = 42,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    threshold: float = float("inf"),
) -> DataFrame:
    """Per-query L2 top-k over LSH candidates: rows sharing >= 1 bucket with
    the query (any hash table) are scored exactly; smaller `bucket_length` /
    fewer tables trade recall for candidate volume.

    Returns (query_id, id, score, distance, rank) — score is the reference's
    raw-mode L2 score (-distance), rank (long) 1..k per query by
    (distance, id) through `search.rank_per_query`.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from vettore_spark.operators.search import rank_per_query
    from vettore_spark.plans.cache import cached_persist

    feat = coll.select(
        F.col(id_col),
        array_to_vector(F.col(vector_col).cast("array<double>")).alias("_features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=float(bucket_length),
        numHashTables=int(num_hash_tables),
        seed=int(seed),
    )
    model = lsh.fit(feat)
    indexed = cached_persist(
        feat,
        ("brp_lsh", float(bucket_length), int(num_hash_tables), int(seed),
         id_col, vector_col),
        model.transform,
    )
    qf = queries.select(
        F.col(query_id_col),
        array_to_vector(F.col(query_vec_col).cast("array<double>")).alias(
            "_features"
        ),
    )
    joined = model.approxSimilarityJoin(indexed, qf, float(threshold), distCol="_d")
    return rank_per_query(
        joined, k, query_id_col=f"datasetB.{query_id_col}",
        id_col=f"datasetA.{id_col}", key="_d",
    ).select(
        F.col(f"datasetB.{query_id_col}").alias(query_id_col),
        F.col(f"datasetA.{id_col}").alias(id_col),
        (-F.col("_d")).alias("score"),
        F.col("_d").alias("distance"),
        F.col("rank").cast("long").alias("rank"),
    )


def kmeans_centroids(
    coll: DataFrame,
    *,
    k: int,
    max_iter: int = 20,
    seed: int = 20260813,
    vector_col: str = "vector",
) -> DataFrame:
    """Cluster-scale IVF centroid training with MLlib KMeans (the BASELINE
    "bulk index build via Spark + MLlib" posture): unlike the driver-side
    codebook trainers in operators/pq.py (which collect a sample), this
    trains distributed — the right path when even a training sample is too
    large for one machine. Fixed seed for reproducibility (kmeans|| init +
    float reduction order make it deterministic per Spark version/layout,
    not bit-portable across clusters — recall is validated by overlap@k,
    not value equality, like every approximate mode).

    Returns (centroid_id, centroid array<double>) ready for
    operators/ann.ivf_topk or sources/store.CellPartitionedStore."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    assembled = coll.select(
        array_to_vector(F.col(vector_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(assembled)
    spark = coll.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id long, centroid array<double>",
    )
    return cents
