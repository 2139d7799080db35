"""Query registry: every implemented operator exposed as a (spark_fn, oracle
SQL) pair for the driver's DuckDB-oracle correctness gate.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame whose
column names and rounded values match the oracle SQL run by DuckDB over the
same parquet tables (views: region nation customer supplier part orders
lineitem events documents embeddings).

Floats are rounded (5-6 dp) IN BOTH ENGINES so f64 summation-order noise
cannot flip the order-insensitive value hash.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import threading
import time
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions import kernels as K
from vettore_spark.operators import ann as ANN
from vettore_spark.operators import dedup as D
from vettore_spark.operators import multivector as MV
from vettore_spark.operators import search as S
from vettore_spark.operators import text as TX

DIMS = 64  # embeddings table dimensionality (TESTDATA.md)


# Source tables are memory-resident, like the reference's ETS collections
# (SURVEY §1.2 — every search scans RAM; the store IS an in-memory table).
# Memoized per (SparkContext, sf_dir, table) so repeated queries hit the
# persisted columnar copy instead of re-reading parquet. The testdata dirs
# are immutable, so there is no staleness. At 100 TB this maps to caching
# the hot collection/dimension tables and letting facts stream from parquet
# (SCALE.md); at bench scale everything fits.
_TABLE_CACHE: dict = {}


# Fact tables whose cached partitioning should match the session's
# parallelism. The synthetic testdata ships one row group per file, so the
# parquet scan yields 1-3 splits and every map-heavy stage over the cached
# relation runs on 1-3 cores regardless of local[N]; a production table at
# scale has thousands of splits, so normalizing the cache to
# defaultParallelism reproduces the cluster's map-side parallelism locally.
# One round-robin shuffle at cache fill, amortized across the session.
# Dimension tables stay as-read (extra empty partitions only add task
# launch overhead to the many tiny-scan queries).
_WIDE_TABLES = {"lineitem", "orders", "events", "documents"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Oracle parity must not depend on the ambient JVM timezone: every
    # date_trunc/date_format in the registry buckets in SESSION-local
    # time while the DuckDB oracles' naive timestamps are effectively
    # UTC. Several temporal queries pinned this individually; pinning at
    # the shared loader covers every consumer (r14 — the tz analog of
    # the Java-vs-RE2 \s audit). The pin rides every CALL, not just the
    # cache-miss path: the tz is read at EXECUTION time, so a direct
    # q_* caller (bypassing the _prepared dispatch pin) with a warm
    # table cache must still get UTC buckets.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    if name == "events":
        # parquet TIMESTAMP(NANOS): readable only as long nanos
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _WIDE_TABLES:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    df = df.persist()
    _TABLE_CACHE[key] = df
    return df


# The query vector is a constant of the workload (the reference receives it
# as a literal argument); resolve it once per (sf_dir, vec_id), not with a
# Spark job per query invocation.
_QVEC_CACHE: dict = {}


def _qvec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    key = (sf_dir, vec_id)
    v = _QVEC_CACHE.get(key)
    if v is None:
        row = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        v = [float(x) for x in row["embedding"]]
        _QVEC_CACHE[key] = v
    return v


def _round(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    out = df
    for c, nd in cols.items():
        out = out.withColumn(c, F.round(F.col(c), nd))
    return out


# SQL fragment: the query vector as DOUBLE[] scalar subquery
_QV = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"


# ---------------------------------------------------------------------------
# flat exact top-k, one per metric family (Q1, K1-K8, K12-K14)
# ---------------------------------------------------------------------------


def q_flat_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="l2", k=10,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_L2 = f"""
SELECT vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + search composition (SURVEY §2.2: the reference stores
    metadata but cannot filter on it — declarative pre-filtering is the
    Spark superset surface). The label predicate prunes BEFORE scoring:
    Catalyst pushes it into the parquet scan, so the distance expression
    runs only on surviving rows — at 100 TB a selective filter turns a
    full-corpus scan into a fraction of it for free."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label") < 3)
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="l2", k=10,
        id_col="vec_id", vector_col="embedding", extra_cols=["label"],
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FILTERED_TOPK = f"""
SELECT vec_id, label, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, label, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE label < 3)
ORDER BY d, vec_id LIMIT 10
"""


def q_flat_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="cosine", k=10,
        id_col="vec_id", vector_col="embedding", pre_normalized=False,
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_COSINE = f"""
SELECT vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance
FROM (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {_QV}) AS c FROM embeddings)
ORDER BY 1 - c, vec_id LIMIT 10
"""


def q_flat_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="inner_product", k=10,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_DOT = f"""
SELECT vec_id, round(p, 5) AS score, round(-p, 5) + 0.0 AS distance
FROM (SELECT vec_id, list_dot_product(embedding::DOUBLE[], {_QV}) AS p FROM embeddings)
ORDER BY -p, vec_id LIMIT 10
"""


def q_flat_topk_manhattan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="manhattan", k=10,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_MANHATTAN = f"""
SELECT vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id,
        list_sum(list_transform(list_zip(embedding::DOUBLE[], {_QV}),
                 z -> abs(z[1] - z[2]))) AS d
      FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


def q_flat_topk_chebyshev(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="chebyshev", k=10,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_CHEBYSHEV = f"""
SELECT vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id,
        list_reduce(list_transform(list_zip(embedding::DOUBLE[], {_QV}),
                    z -> abs(z[1] - z[2])), (a, b) -> greatest(a, b)) AS d
      FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# multi-query batched top-k (J3) — the Spark-native generalization
# ---------------------------------------------------------------------------


def q_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query top-k (J3). Physical strategy: Arrow GEMM
    (operators/ann.brute_force_topk) — identical semantics to the
    expression path (operators/search.multi_query_topk, exercised in
    tests), but the per-pair true-cosine is a NumPy matrix product per
    Arrow batch instead of three interpreted 64-step folds, the reference's
    batched-SIMD design point (SURVEY §4 P4). Per-partition local top-k
    bounds the shuffle at O(queries x k)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = ANN.brute_force_topk(
        emb, queries, metric="cosine", k=5,
        id_col="vec_id", vector_col="embedding",
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_MULTI_QUERY_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance, rn AS rank
FROM ranked WHERE rn <= 5
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self k-NN graph: every vector's 3 nearest neighbors (+ itself at
    rank 1) — the graph-construction primitive under graph dedup and
    HNSW-style indexes. Physical strategy: block-grid cogroup GEMM
    (ann.self_knn_topk) — the query side is the collection itself, so no
    driver collect and no broadcast; every (query-block, data-block) pair
    is one bounded task. The approximate 100 TB variant blocks by IVF cell
    or LSH bucket instead of the full grid."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    out = ANN.self_knn_topk(
        emb, k=4, metric="cosine", id_col="vec_id", vector_col="embedding",
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_KNN_GRAPH = """
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id,
         list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS c
  FROM embeddings a CROSS JOIN embeddings b),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance, rn AS rank
FROM ranked WHERE rn <= 4
"""


def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor pairs (operators/ann.py::mutual_knn_pairs):
    (a, b) kept only when each is in the other's 3-NN — the hub-killing
    filter bitext mining and near-dup hardening use on top of a kNN graph.
    Edge table is the exact block-grid graph (knn_graph's plan, non-self
    ranks), built once and PERSISTED so both sides of the mutuality join
    read the materialized table; mutuality is ONE left-semi equi-join of
    the O(n*k) edge table with its own reversed projection — no window,
    nothing widens. At 100 TB the same join runs over an IVF/LSH-blocked
    approximate graph (the `knn=` parameter)."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    out = ANN.mutual_knn_pairs(
        emb, k=3, metric="cosine", id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy("src", "dst")


SQL_MUTUAL_KNN_PAIRS = """
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id,
         list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS c
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id <> b.vec_id),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored),
e AS (SELECT query_id AS src, vec_id AS dst, c
      FROM ranked WHERE rn <= 3)
SELECT e.src, e.dst, round(e.c, 5) AS score, round(1 - e.c, 5) AS distance
FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
WHERE e.src < e.dst
ORDER BY e.src, e.dst
"""


def q_mutual_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN over the BLOCKED approximate edge graph — the corpus-
    scale tier of the pairing family, gated the way tpch_q6_zorder gates
    Z-order: the Spark side runs mutual_knn_pairs(knn=blocked_knn_topk(...))
    (operators/ann.py::blocked_knn_topk — sign-prefix blocks, neighbors
    searched only within a block, sum(|block|^2) work instead of n^2 and
    NO rank-merge window), and the oracle reproduces the deterministic
    blocking exactly (block id = sign bits of the first 4 raw dims), so
    the gate proves the approximate path's semantics, not just the exact
    one's. Recall vs the exact mutual graph is measured in SCALE.md."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    edges = ANN.blocked_knn_topk(
        emb, k=3, metric="cosine", n_bits=4,
        id_col="vec_id", vector_col="embedding",
    )
    out = ANN.mutual_knn_pairs(
        emb, k=3, metric="cosine", id_col="vec_id", vector_col="embedding",
        knn=edges,
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy("src", "dst")


def q_mutual_knn_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN over the MULTI-BAND blocked graph — the recall-recovery
    knob of the blocked tier (SCALE.md r8: recall 1-(1-p)^B at linear
    cost): band b blocks on the sign bits of dims [3b, 3b+3), per-band
    in-block top-k edges are unioned, pairs deduped (bit-identical
    score/distance across bands), and re-ranked by ONE (distance, id)
    window over O(B*n*k) rows — the only window in the plan. The oracle
    replays both bands' blocking exactly; gating this proves the
    band-merge semantics cross-engine, completing the tier ladder
    exact -> single-band -> multi-band."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    edges = ANN.blocked_knn_topk(
        emb, k=3, metric="cosine", n_bits=3, n_bands=2,
        id_col="vec_id", vector_col="embedding",
    )
    out = ANN.mutual_knn_pairs(
        emb, k=3, metric="cosine", id_col="vec_id", vector_col="embedding",
        knn=edges,
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy("src", "dst")


def q_mutual_knn_cellblocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN over a CELL-blocked graph (blocked_knn_topk block_col=) —
    the trained-IVF production shape: at 100 TB the block column is a
    KMeans cell assignment (mllib_lsh.kmeans_centroids + ivf_assign);
    here it is the table's own label column, the deterministic stand-in
    that lets the oracle reproduce the blocking exactly (kmeans|| is not
    bit-portable cross-engine — same reason the IVF gates probe label-mean
    centroids). Plan shape is identical either way: one groupBy-block
    in-block exact kNN (no window at all), one persisted edge table, one
    mutuality semi-join."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    edges = ANN.blocked_knn_topk(
        emb, k=3, metric="cosine", block_col="label",
        id_col="vec_id", vector_col="embedding",
    )
    out = ANN.mutual_knn_pairs(
        emb, k=3, metric="cosine", id_col="vec_id", vector_col="embedding",
        knn=edges,
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy("src", "dst")


SQL_MUTUAL_KNN_CELLBLOCKED = """
WITH scored AS (
  SELECT a.vec_id AS query_id, c.vec_id,
         list_cosine_similarity(c.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS c
  FROM embeddings a JOIN embeddings c
    ON a.label = c.label AND a.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored),
e AS (SELECT query_id AS src, vec_id AS dst, c FROM ranked WHERE rn <= 3)
SELECT e.src, e.dst, round(e.c, 5) AS score, round(1 - e.c, 5) AS distance
FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
WHERE e.src < e.dst
ORDER BY e.src, e.dst
"""


def _sql_band_edges(bit_dims: tuple[int, ...], k: int) -> str:
    blk = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(bit_dims)
    )
    return f"""
  SELECT query_id, vec_id, c FROM (
    SELECT query_id, vec_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id,
             list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS c
      FROM (SELECT vec_id, embedding, {blk} AS blk FROM embeddings) a
      JOIN (SELECT vec_id, embedding, {blk} AS blk FROM embeddings) b
        ON a.blk = b.blk AND a.vec_id <> b.vec_id))
  WHERE rn <= {k}"""


SQL_MUTUAL_KNN_MULTIBAND = f"""
WITH u AS ({_sql_band_edges((0, 1, 2), 3)}
  UNION
  {_sql_band_edges((3, 4, 5), 3)}),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM u),
e AS (SELECT query_id AS src, vec_id AS dst, c FROM ranked WHERE rn <= 3)
SELECT e.src, e.dst, round(e.c, 5) AS score, round(1 - e.c, 5) AS distance
FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
WHERE e.src < e.dst
ORDER BY e.src, e.dst
"""


SQL_MUTUAL_KNN_BLOCKED = """
WITH b AS (
  SELECT vec_id, embedding,
           (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS blk
  FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, c.vec_id,
         list_cosine_similarity(c.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS c
  FROM b a JOIN b c ON a.blk = c.blk AND a.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored),
e AS (SELECT query_id AS src, vec_id AS dst, c
      FROM ranked WHERE rn <= 3)
SELECT e.src, e.dst, round(e.c, 5) AS score, round(1 - e.c, 5) AS distance
FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
WHERE e.src < e.dst
ORDER BY e.src, e.dst
"""


# ---------------------------------------------------------------------------
# prefix / quantized / funnel / hybrid pipelines (Q2-Q5, Q9)
# ---------------------------------------------------------------------------


def q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.prefix_topk(
        emb, _qvec(spark, sf_dir), dims=16, metric="l2", k=10,
        id_col="vec_id", vector_col="embedding",
    )
    return out.select("vec_id", F.round(F.col("_rank"), 5).alias("prefix_distance"))


SQL_PREFIX_TOPK = f"""
SELECT vec_id, round(d, 5) AS prefix_distance
FROM (SELECT vec_id,
        list_distance((embedding::DOUBLE[])[1:16], ({_QV})[1:16]) AS d
      FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "binary_vector", K.compress_sign_bits("embedding", DIMS)
    )
    # candidates = limit*20, the reference bench's config
    # (bench/search_modes_bench.exs: candidates = min(records, limit*20))
    out = S.quantized_search(
        emb, _qvec(spark, sf_dir), dims=DIMS, metric="l2", k=10, candidates=200,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_QUANTIZED_TOPK = f"""
WITH cand AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           len(list_filter(list_zip(embedding::DOUBLE[], {_QV}),
               z -> (z[1] >= 0) != (z[2] >= 0))) AS ham
    FROM embeddings)
  ORDER BY ham, vec_id LIMIT 200)
SELECT e.vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)) e
ORDER BY d, vec_id LIMIT 10
"""


def q_filtered_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + two-stage composition (§2.2 superset × Q4): the label
    filter prunes BEFORE the packed-Hamming candidate stage AND the exact
    rerank — Catalyst pushes it into both scans, so at 100 TB a selective
    predicate shrinks every stage, not just the final one."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("label") < 3)
        .withColumn("binary_vector", K.compress_sign_bits("embedding", DIMS))
    )
    out = S.quantized_search(
        emb, _qvec(spark, sf_dir), dims=DIMS, metric="l2", k=10, candidates=100,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FILTERED_QUANTIZED_TOPK = f"""
WITH cand AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           len(list_filter(list_zip(embedding::DOUBLE[], {_QV}),
               z -> (z[1] >= 0) != (z[2] >= 0))) AS ham
    FROM embeddings WHERE label < 3)
  ORDER BY ham, vec_id LIMIT 100)
SELECT e.vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE label < 3 AND vec_id IN (SELECT vec_id FROM cand)) e
ORDER BY d, vec_id LIMIT 10
"""


def q_funnel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = S.funnel_search(
        emb, _qvec(spark, sf_dir), dims=DIMS, stages=[16], metric="l2",
        k=10, candidates=200, id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FUNNEL_TOPK = f"""
WITH cand AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           list_distance((embedding::DOUBLE[])[1:16], ({_QV})[1:16]) AS pd
    FROM embeddings)
  ORDER BY pd, vec_id LIMIT 200)
SELECT e.vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)) e
ORDER BY d, vec_id LIMIT 10
"""


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "binary_vector", K.compress_sign_bits("embedding", DIMS)
    )
    out = S.hybrid_search(
        emb, _qvec(spark, sf_dir), dims=DIMS, metric="l2", k=10, candidates=200,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_HYBRID_TOPK = f"""
WITH funnel_cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, list_distance((embedding::DOUBLE[])[1:64], ({_QV})[1:64]) AS pd
    FROM embeddings)
  ORDER BY pd, vec_id LIMIT 200),
quant_cand AS (
  SELECT vec_id FROM (
    SELECT vec_id,
           len(list_filter(list_zip(embedding::DOUBLE[], {_QV}),
               z -> (z[1] >= 0) != (z[2] >= 0))) AS ham
    FROM embeddings)
  ORDER BY ham, vec_id LIMIT 200),
cand AS (SELECT vec_id FROM funnel_cand UNION SELECT vec_id FROM quant_cand)
SELECT e.vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)) e
ORDER BY d, vec_id LIMIT 10
"""


# sparse variant of the embeddings (|x| <= 0.1 zeroed) so truthiness-based
# metrics (hamming/jaccard, K9/K10) are non-degenerate
_SPARSE = "list_transform(embedding::DOUBLE[], x -> CASE WHEN abs(x) > 0.1 THEN x ELSE 0.0 END)"
_SPARSE_Q = f"(SELECT {_SPARSE} FROM embeddings WHERE vec_id = 0)"


def _sparse_col():
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.when(F.abs(x) > 0.1, x).otherwise(0.0),
    )


def q_flat_topk_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn("sparse", _sparse_col())
    q = [x if abs(x) > 0.1 else 0.0 for x in _qvec(spark, sf_dir)]
    out = S.flat_topk(
        emb, q, metric="jaccard", k=10, id_col="vec_id", vector_col="sparse",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_JACCARD = f"""
WITH s AS (SELECT vec_id, {_SPARSE} AS v FROM embeddings),
d AS (SELECT vec_id,
        CASE WHEN len(list_filter(list_zip(v, {_SPARSE_Q}), z -> z[1] != 0 OR z[2] != 0)) = 0
             THEN 0.0
             ELSE 1.0 - len(list_filter(list_zip(v, {_SPARSE_Q}), z -> z[1] != 0 AND z[2] != 0)) * 1.0
                      / len(list_filter(list_zip(v, {_SPARSE_Q}), z -> z[1] != 0 OR z[2] != 0))
        END AS jd
      FROM s)
SELECT vec_id, round(-jd, 5) + 0.0 AS score, round(jd, 5) AS distance
FROM d ORDER BY jd, vec_id LIMIT 10
"""


def q_flat_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn("sparse", _sparse_col())
    q = [x if abs(x) > 0.1 else 0.0 for x in _qvec(spark, sf_dir)]
    out = S.flat_topk(
        emb, q, metric="hamming", k=10, id_col="vec_id", vector_col="sparse",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_FLAT_TOPK_HAMMING = f"""
WITH s AS (SELECT vec_id, {_SPARSE} AS v FROM embeddings),
d AS (SELECT vec_id,
        len(list_filter(list_zip(v, {_SPARSE_Q}), z -> (z[1] != 0) != (z[2] != 0)))::DOUBLE AS hd
      FROM s)
SELECT vec_id, round(-hd, 5) + 0.0 AS score, round(hd, 5) AS distance
FROM d ORDER BY hd, vec_id LIMIT 10
"""


def q_packed_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-bit Jaccard (K20) over sign-bit vectors: equals unpacked
    jaccard over the >=0 indicator vectors (the oracle)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "binary_vector", K.compress_sign_bits("embedding", DIMS)
    )
    qb = S._query_bits_sql(_qvec(spark, sf_dir))
    raw = K.packed_jaccard("binary_vector", qb, DIMS)
    out = (
        emb.select("vec_id", raw.alias("_rank"))
        .orderBy(F.col("_rank").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("_rank", 5).alias("jaccard_distance"))
    )
    return out


SQL_PACKED_JACCARD_TOPK = f"""
WITH b AS (SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS v
           FROM embeddings),
q AS (SELECT list_transform(e, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS v
      FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)),
d AS (SELECT vec_id,
        CASE WHEN len(list_filter(list_zip(b.v, (SELECT v FROM q)), z -> z[1] = 1 OR z[2] = 1)) = 0
             THEN 0.0
             ELSE 1.0 - len(list_filter(list_zip(b.v, (SELECT v FROM q)), z -> z[1] = 1 AND z[2] = 1)) * 1.0
                      / len(list_filter(list_zip(b.v, (SELECT v FROM q)), z -> z[1] = 1 OR z[2] = 1))
        END AS jd
      FROM b)
SELECT vec_id, round(jd, 5) AS jaccard_distance
FROM d ORDER BY jd, vec_id LIMIT 10
"""


def q_similarity_score_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K14 :similarity score mode for a distance metric: score = 1/(1+raw)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="l2", k=10,
        id_col="vec_id", vector_col="embedding", score_mode="similarity",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_SIMILARITY_SCORE_MODE = f"""
SELECT vec_id, round(1.0 / (1.0 + d), 5) AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


# ---------------------------------------------------------------------------
# multi-vector MaxSim (M1/M2/Q8): docs = embeddings grouped by label
# ---------------------------------------------------------------------------


def _docs_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-vector 'document' table (embeddings grouped by label) —
    derived collection state shared by the MaxSim and MUVERA queries,
    persisted once per source (reference model: `vectors` live on the
    stored embedding row, not rebuilt per search)."""
    from vettore_spark.plans.cache import cached_persist

    emb = _t(spark, sf_dir, "embeddings")
    return cached_persist(
        emb,
        ("docs_by_label",),
        lambda s: s.groupBy("label").agg(
            F.collect_list(F.col("embedding").cast("array<double>")).alias("vectors")
        ),
    )


def q_maxsim_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_by_label(spark, sf_dir)
    q0 = _qvec(spark, sf_dir, 0)
    q1 = _qvec(spark, sf_dir, 1)
    out = MV.maxsim_topk(
        docs, [q0, q1], metric="cosine", k=5,
        id_col="label", vectors_col="vectors", vector_col=None,
    ).select("label", "score")
    return _round(out, {"score": 5})


SQL_MAXSIM_LABEL_TOPK = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN (0, 1)),
best AS (
  SELECT e.label, q.vec_id,
         max(list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) AS m
  FROM embeddings e CROSS JOIN q
  GROUP BY e.label, q.vec_id),
scored AS (SELECT label, sum(m) AS s FROM best GROUP BY label)
SELECT label, round(s, 5) AS score FROM scored
ORDER BY s DESC, label LIMIT 5
"""


# ---------------------------------------------------------------------------
# kernels as aggregations: mean vector (A1), normalizations (K15-K17),
# sign-bit population (K18)
# ---------------------------------------------------------------------------


def q_mean_vector_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("avg_val"))
        .select("label", F.col("pos").cast("long").alias("pos"), "avg_val")
    )


SQL_MEAN_VECTOR_BY_LABEL = """
SELECT label, i AS pos, round(avg(x), 6) AS avg_val
FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x, unnest(range(0, 64)) AS i
      FROM embeddings)
GROUP BY label, i
"""


def q_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    l2n = K.normalize_l2("embedding")
    mmn = K.normalize_minmax("embedding")
    zn = K.normalize_zscore("embedding")
    ssum = lambda c: F.aggregate(c, F.lit(0.0), lambda s, x: s + x)  # noqa: E731
    absmax = lambda c: F.array_max(F.transform(c, F.abs))  # noqa: E731
    return emb.select(
        "vec_id",
        F.round(ssum(l2n), 5).alias("l2_sum"),
        F.round(ssum(mmn), 5).alias("mm_sum"),
        F.round(absmax(zn), 5).alias("z_absmax"),
    )


SQL_NORMALIZE_STATS = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         list_min(embedding::DOUBLE[]) AS lo,
         list_max(embedding::DOUBLE[]) AS hi,
         list_sum(embedding::DOUBLE[]) / 64.0 AS mu
  FROM embeddings),
withsig AS (
  SELECT *, sqrt(list_sum(list_transform(v, x -> (x - mu) * (x - mu))) / 64.0) AS sg
  FROM base)
SELECT vec_id,
       round(list_sum(list_transform(v, x -> x / nrm)), 5) AS l2_sum,
       round(list_sum(list_transform(v, x -> (x - lo) / (hi - lo))), 5) AS mm_sum,
       round(list_max(list_transform(v, x -> abs((x - mu) / sg))), 5) AS z_absmax
FROM withsig
"""


def q_signbit_popcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "binary_vector", K.compress_sign_bits("embedding", DIMS)
    )
    pop = F.aggregate(
        F.col("binary_vector"),
        F.lit(0).cast("long"),
        lambda s, w: s + F.bit_count(w).cast("long"),
    )
    return emb.select("vec_id", pop.alias("n_nonneg"))


SQL_SIGNBIT_POPCOUNT = """
SELECT vec_id, len(list_filter(embedding::DOUBLE[], x -> x >= 0))::BIGINT AS n_nonneg
FROM embeddings
"""


# ---------------------------------------------------------------------------
# dedup suite (training-data pipeline)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_summary(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dup_docs
FROM documents
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_shingle_df: the web-scale posting-list cap (a shingle appearing in
    # >20% of the corpus is boilerplate; uncapped, a hot shingle emits
    # O(df^2) pairs). The oracle models the cap bit-for-bit.
    out = D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5, max_shingle_df=100
    )
    return _round(out, {"jac": 5})


def _sql_ngram_pairs(threshold: float, max_df: int | None = None) -> str:
    """Exact n-gram Jaccard pair oracle; with `max_df`, shingles whose
    document frequency exceeds it are excluded from the INTERSECTION count
    (sizes stay full) — exactly ngram_jaccard_pairs' capped-posting
    semantics."""
    cap = (
        f"JOIN (SELECT s, count(*) AS df FROM sh GROUP BY s) fd USING (s)\n"
        f"          WHERE fd.df <= {max_df} AND a.doc_id < b.doc_id"
        if max_df is not None
        else "WHERE a.doc_id < b.doc_id"
    )
    return rf"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b USING (s)
          {cap} GROUP BY 1, 2)
SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 5) AS jac
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}
"""


SQL_NGRAM_JACCARD_PAIRS = _sql_ngram_pairs(0.5, max_df=100)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard. At these parameters
    (64 perms, 16 bands x 4) recall on the planted near-dups (j >= 0.89) is
    ~1 - 2e-7, so the verified output equals the exact pair set — the oracle
    is the exact-Jaccard SQL."""
    out = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_perm=64, bands=16, threshold=0.8
    )
    return _round(out, {"jac": 5})


SQL_MINHASH_LSH_PAIRS = _sql_ngram_pairs(0.8)  # uncapped: LSH has no df cap


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash+LSH pairs (>=0.8 Jaccard, exact-verified)
    -> connected components (alternating large-star/small-star) -> cluster
    assignment with sizes. The full dedup pipeline a 100 TB corpus needs:
    candidate generation, verification, and transitive-closure clustering.
    Oracle: recursive-CTE reachability over the same exact-Jaccard pair set
    (component = min reachable doc_id)."""
    pairs = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_perm=64, bands=16, threshold=0.8
    )
    return D.neardup_clusters(pairs, id_out="doc_id")


def _sql_cc_block(src: str, threshold: float) -> str:
    """Shared CTE chain: word-3-gram shingles on `src` -> exact-Jaccard
    pairs >= threshold -> recursive-CTE connected components (`assign` maps
    doc_id -> component = min reachable id). Used by SQL_NEARDUP_CLUSTERS
    and the training-pipeline oracle — one definition so the two cannot
    diverge. The enclosing query must open with WITH RECURSIVE."""
    return rf"""
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM {src}),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM sh a JOIN sh b USING (s)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT doc_a, doc_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(id, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.id
),
assign AS (SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id)"""


SQL_NEARDUP_CLUSTERS = (
    "WITH RECURSIVE"
    + _sql_cc_block("documents", 0.8)
    + """
SELECT a.doc_id, a.component, s.cluster_size
FROM assign a
JOIN (SELECT component, count(*) AS cluster_size FROM assign GROUP BY component) s
  ON a.component = s.component
"""
)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs via the block-grid cogroup GEMM —
    no driver collect (cosine_neardup_gemm's broadcast variant remains for
    broadcast-fit collections; dedup.embedding_neardup_pairs(block_col=...)
    is the approximate LSH-blocked path at corpus scale)."""
    from vettore_spark.operators import ann as ANN

    out = ANN.cosine_neardup_blocked(
        _t(spark, sf_dir, "embeddings"), threshold=0.45,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"sim": 5})


SQL_EMBEDDING_NEARDUP = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v), 5) AS sim
FROM n a CROSS JOIN n b
WHERE a.vec_id < b.vec_id AND list_dot_product(a.v, b.v) >= 0.45
"""


# ---------------------------------------------------------------------------
# ANN: Arrow-GEMM brute force (exact, same oracle as the expression path)
# and IVF approximate (rows-only; recall validated in tests)
# ---------------------------------------------------------------------------


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = ANN.brute_force_topk(
        emb, queries_df, k=5, metric="cosine",
        id_col="vec_id", vector_col="embedding",
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


def q_ann_brp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ANN (SURVEY §7 step 9) at the
    exhaustive configuration, making the exact-scan SQL a valid value
    oracle (the HNSW high-ef agreement trick). bucket_length >= data
    diameter still splits each table into two buckets at the floor(h·x/L)
    sign boundary, so a row is missed only if its projection sign differs
    from the query's on ALL tables: 24 OR'd tables push that below 2^-24
    per row, and with the fixed seed the outcome is deterministic
    (verified exact at sf0.001/0.01/0.1). Realistic-parameter recall is
    covered by overlap@k in tests/test_mllib_lsh.py."""
    from vettore_spark.operators import mllib_lsh as L

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = L.brp_lsh_topk(
        emb, queries_df, k=5, bucket_length=1e9, num_hash_tables=24, seed=42,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_ANN_BRP_LSH_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_distance(e.embedding::DOUBLE[], q.qv) AS d
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, d,
         row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rn
  FROM scored)
SELECT query_id, vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance,
       rn AS rank
FROM ranked WHERE rn <= 5
"""


def q_multi_query_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched two-stage quantized search: per-query sign-bit Hamming
    top-50, exact l2 rerank to top-5 (multi-query generalization of Q4; the
    oracle recomputes packed Hamming as a sign-disagreement count, which is
    definitionally identical). Physical strategy: stage1="arrow" — the
    sign-mismatch count is a NumPy GEMM per Arrow batch instead of a packed
    u64 fold per pair, so no bit-packing pass over the collection runs at
    all (the packed-expression path is exercised by `quantized_topk` and
    `signbit_popcount`)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = S.multi_query_quantized(
        queries_df, emb, dims=DIMS, metric="l2", k=5, candidates=50,
        id_col="vec_id", vector_col="embedding", stage1="arrow",
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_MULTI_QUERY_QUANTIZED = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 4),
ham AS (
  SELECT q.query_id, e.vec_id,
         len(list_filter(range(1, {DIMS} + 1),
             i -> (e.embedding[i] >= 0) != (q.qv[i] >= 0))) AS h
  FROM embeddings e CROSS JOIN q),
cand AS (SELECT query_id, vec_id FROM ham
         QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY h, vec_id) <= 50),
scored AS (
  SELECT c.query_id, c.vec_id,
         list_distance(e.embedding::DOUBLE[], q.qv) AS d
  FROM cand c JOIN embeddings e USING (vec_id) JOIN q ON q.query_id = c.query_id)
SELECT query_id, vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
FROM scored
QUALIFY rank <= 5
"""


def _label_mean_vectors(emb: DataFrame) -> DataFrame:
    """(label, mean array<double>) — per-label centroid via posexplode +
    avg: the (label, pos) partial aggregate is map-side combined, so the
    shuffle carries n_labels x dims rows per partition — unlike
    collect_list, which shuffles every full vector into one group per
    label. Shared by the IVF and PQ oracle queries."""
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_ps"))
        .select("label", F.transform("_ps", lambda p: p["m"]).alias("mean"))
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = ANN.ivf_topk(
        emb, queries_df, centroids=centroids, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding",
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


def _sql_ivf(
    deleted: int | None = None,
    where: str | None = None,
    min_score: float | None = None,
) -> str:
    """IVF oracle; with `deleted`, that row is dropped from the inverted
    file while the centroid codebook stays trained on the FULL corpus —
    exactly ivf_delete's tombstone-without-retrain contract. With `where`,
    an arbitrary predicate filters the inverted file the same way
    (filtered-ANN mode). With `min_score`, the final stage is a radius
    filter (sim >= min_score, no rank column) — the ivf_range twin."""
    cond = f"e.vec_id <> {deleted}" if deleted is not None else where
    tomb = f"WHERE {cond}" if cond else ""
    if min_score is not None:
        tail = f"""
SELECT query_id, vec_id, round(sim, 5) AS score, round(1 - sim, 5) AS distance
FROM joined WHERE sim >= {min_score}
ORDER BY query_id, 1 - sim, vec_id
"""
    else:
        tail = """
SELECT query_id, vec_id, round(sim, 5) AS score, round(1 - sim, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY 1 - sim, vec_id) AS rank
FROM joined
QUALIFY rank <= 5
"""
    return f"""
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label::BIGINT AS cid, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM cent c
          ORDER BY 1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv), c.cid
          LIMIT 1) AS cell
  FROM embeddings e {tomb}),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
probes AS (
  SELECT q.query_id, q.embedding AS qv, c.cid AS cell
  FROM q CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY q.query_id
          ORDER BY 1 - list_cosine_similarity(q.embedding::DOUBLE[], c.cv), c.cid) <= 3),
joined AS (
  SELECT p.query_id, a.vec_id,
         list_cosine_similarity(a.embedding::DOUBLE[], p.qv::DOUBLE[]) AS sim
  FROM probes p JOIN assign a USING (cell))
{tail}"""


SQL_ANN_IVF_TOPK = _sql_ivf()
SQL_IVF_DELETE_SEARCH = _sql_ivf(0)


def q_ivf_insert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF INSERT under the exact oracle (the ivf_delete
    mirror, HNSW-insert parity): build the inverted file WITHOUT vec 0,
    append it via ivf_insert (driver-side nearest-cell assignment — same
    normalize/cosine/first-min rule as the build path — plus a one-row
    union; no re-train, no re-assignment), then search. The patched index
    must answer exactly like the full-corpus IVF oracle — the inserted
    vector is query 0's self-match at rank 1."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    assigned = ANN.ivf_assign(
        emb.filter(F.col("vec_id") != 0), centroids=centroids,
        vector_col="embedding",
    )
    patched = ANN.ivf_insert(
        assigned, 0, _qvec(spark, sf_dir, 0), centroids=centroids,
        id_col="vec_id", vector_col="embedding",
    )
    out = ANN.ivf_topk(
        emb, queries_df, centroids=centroids, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding", assigned=patched,
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_IVF_INSERT_SEARCH = _sql_ivf()  # full corpus: the patched index == rebuild


def q_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN (§2.2 × IVF): a metadata predicate (label is odd)
    applied to the PERSISTED inverted file before within-cell scoring —
    the filtered-search mode every production vector store exposes. The
    filter composes on the assignment table, so the probe structure and
    codebook are shared with the unfiltered query (index built once); at
    100 TB the predicate prunes rows inside probed cells only."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    assigned = ANN.ivf_assign(emb, centroids=centroids, vector_col="embedding")
    filtered = assigned.filter(F.col("label") % 2 == 1)
    out = ANN.ivf_topk(
        emb, queries_df, centroids=centroids, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding", assigned=filtered,
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_IVF_FILTERED_TOPK = _sql_ivf(where="e.label % 2 = 1")


def q_ivf_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: build the inverted file, tombstone
    vector 0 via ivf_delete (no centroid re-train, no re-assignment), then
    search the same 8 queries. Query 0 searches for its own deleted vector
    — the reference's delete-then-search invariant (hnsw.rs:753-784), here
    on the IVF index."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    assigned = ANN.ivf_assign(emb, centroids=centroids, vector_col="embedding")
    patched = ANN.ivf_delete(assigned, 0, id_col="vec_id")
    out = ANN.ivf_topk(
        emb, queries_df, centroids=centroids, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding", assigned=patched,
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


# ---------------------------------------------------------------------------
# text analysis suite
# ---------------------------------------------------------------------------


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (compressed-domain search). For
    oracle checkability the codebooks are per-label subspace means (the
    SQL recomputes them exactly, like SQL_ANN_IVF_TOPK's centroids) rather
    than k-means-trained; the k-means trainer is exercised with NumPy
    oracles + overlap@k in tests/test_pq.py. Rank order uses the ROUNDED
    distance with id tie-break so float summation order cannot flip it."""
    import numpy as np

    from vettore_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    label_means = _label_mean_vectors(emb).collect()
    label_means.sort(key=lambda r: r["label"])
    flat = np.array([r["mean"] for r in label_means])  # n_labels x 64
    m_sub, dsub = 4, flat.shape[1] // 4
    books = np.stack(
        [flat[:, s * dsub : (s + 1) * dsub] for s in range(m_sub)]
    )  # m x n_codes x dsub
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    codes_df = PQ.pq_encode(emb, books, id_col="vec_id", vector_col="embedding")
    out = PQ.pq_adc_topk(
        codes_df, queries_df, books, k=5, id_col="vec_id"
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"distance": 5})


SQL_PQ_ADC_TOPK = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cb AS (
  SELECT label::BIGINT AS code, CAST((i - 1) // 16 AS INT) AS sub,
         list(m ORDER BY i) AS cv
  FROM pos GROUP BY 1, CAST((i - 1) // 16 AS INT)),
rows_s AS (
  SELECT vec_id, s::INT AS sub,
         list_transform(range(s * 16 + 1, s * 16 + 17), i -> embedding[i]::DOUBLE) AS rv
  FROM embeddings, range(0, 4) t(s)),
assign AS (
  SELECT vec_id, sub, code FROM (
    SELECT r.vec_id, r.sub, c.code,
           row_number() OVER (PARTITION BY r.vec_id, r.sub
               ORDER BY list_sum(list_transform(range(1, 17), i -> (r.rv[i] - c.cv[i])^2)), c.code) AS rn
    FROM rows_s r JOIN cb c USING (sub)) WHERE rn = 1),
q_s AS (
  SELECT vec_id AS query_id, s::INT AS sub,
         list_transform(range(s * 16 + 1, s * 16 + 17), i -> embedding[i]::DOUBLE) AS qv
  FROM embeddings, range(0, 4) t(s) WHERE vec_id < 4),
lut AS (
  SELECT query_id, sub, code,
         list_sum(list_transform(range(1, 17), i -> (qv[i] - cv[i])^2)) AS d2
  FROM q_s JOIN cb USING (sub)),
adc AS (
  SELECT l.query_id, a.vec_id, sqrt(sum(l.d2)) AS d
  FROM assign a JOIN lut l ON l.sub = a.sub AND l.code = a.code
  GROUP BY 1, 2)
SELECT query_id, vec_id, round(d, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY round(d, 5), vec_id) AS rank
FROM adc
QUALIFY rank <= 5
"""


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ two-stage ANN (coarse quantizer + residual PQ, ADC within
    probed cells — operators/pq.py:226-388). For oracle checkability the
    coarse centroids are per-label means and the PQ codebooks are per-cell
    mean residual subvectors (both recomputable in SQL, the
    SQL_PQ_ADC_TOPK/SQL_ANN_IVF_TOPK trick); the k-means trainers are
    exercised with NumPy oracles + overlap@k in tests/test_pq.py. Books for
    cells with no members are pushed to +1e18 so neither engine can assign
    them. Rank order uses the ROUNDED distance + id tie-break."""
    import numpy as np

    from vettore_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    lm = _label_mean_vectors(emb).collect()
    lm.sort(key=lambda r: r["label"])
    coarse = np.array([r["mean"] for r in lm])  # n_cells x dims
    n_cells, dims = coarse.shape
    m_sub = 4
    dsub = dims // m_sub

    # per-(cell, dim) residual partial sums, aggregated distributively and
    # collected as the (bounded) n_cells x dims mean-residual table
    bc = spark.sparkContext.broadcast(coarse)

    def resid_sums(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            c = bc.value
            d2 = (
                (mat * mat).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ c.T)
                + (c * c).sum(axis=1)
            )
            cells = np.argmin(d2, axis=1)
            r = mat - c[cells]
            cell_col, pos_col, s_col, n_col = [], [], [], []
            for cell in np.unique(cells):
                mask = cells == cell
                cell_col.extend([int(cell)] * dims)
                pos_col.extend(range(dims))
                s_col.extend(r[mask].sum(axis=0).tolist())
                n_col.extend([int(mask.sum())] * dims)
            yield pd.DataFrame(
                {"cell": cell_col, "pos": pos_col, "s": s_col, "n": n_col}
            )

    means = (
        emb.select("embedding")
        .mapInPandas(resid_sums, "cell int, pos int, s double, n long")
        .groupBy("cell", "pos")
        .agg((F.sum("s") / F.sum("n")).alias("rm"))
        .collect()
    )
    mean_res = np.full((n_cells, dims), 1e18)
    for row in means:
        mean_res[row["cell"], row["pos"]] = row["rm"]
    books = np.stack(
        [mean_res[:, s * dsub : (s + 1) * dsub] for s in range(m_sub)]
    )  # m x n_codes x dsub

    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    index_df = PQ.ivfpq_encode(emb, coarse, books, id_col="vec_id")
    out = PQ.ivfpq_topk(
        index_df, queries_df, coarse, books, n_probe=3, k=5, id_col="vec_id"
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"distance": 5})


SQL_ANN_IVFPQ_TOPK = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label::INT AS cell, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cell FROM cent c
          ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.cell
          LIMIT 1) AS cell
  FROM embeddings e),
resid AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.cv[i]) AS r
  FROM assign a JOIN cent c USING (cell)),
rb_pos AS (
  SELECT cell, i, avg(r[i]) AS rm
  FROM resid, range(1, 65) t(i) GROUP BY 1, 2),
rb AS (
  SELECT cell AS code, CAST((i - 1) // 16 AS INT) AS sub, list(rm ORDER BY i) AS bv
  FROM rb_pos GROUP BY 1, CAST((i - 1) // 16 AS INT)),
rsub AS (
  SELECT vec_id, cell, s::INT AS sub,
         list_transform(range(s*16 + 1, s*16 + 17), i -> r[i]) AS rv
  FROM resid, range(0, 4) t(s)),
codes AS (
  SELECT vec_id, cell, sub, code FROM (
    SELECT r.vec_id, r.cell, r.sub, b.code,
           row_number() OVER (PARTITION BY r.vec_id, r.sub
               ORDER BY list_sum(list_transform(range(1, 17), i -> (r.rv[i] - b.bv[i])^2)), b.code) AS rn
    FROM rsub r JOIN rb b USING (sub)) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 4),
probes AS (
  SELECT q.query_id, q.embedding, c.cell
  FROM q CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY q.query_id
          ORDER BY list_distance(q.embedding::DOUBLE[], c.cv), c.cell) <= 3),
qsub AS (
  SELECT p.query_id, p.cell, s::INT AS sub,
         list_transform(range(s*16 + 1, s*16 + 17),
                        i -> p.embedding[i]::DOUBLE - c.cv[i]) AS qv
  FROM probes p JOIN cent c USING (cell), range(0, 4) t(s)),
lut AS (
  SELECT query_id, cell, sub, code,
         list_sum(list_transform(range(1, 17), i -> (qv[i] - bv[i])^2)) AS d2
  FROM qsub JOIN rb USING (sub)),
adc AS (
  SELECT l.query_id, x.vec_id, sqrt(sum(l.d2)) AS d
  FROM codes x
  JOIN lut l ON l.cell = x.cell AND l.sub = x.sub AND l.code = x.code
  GROUP BY 1, 2)
SELECT query_id, vec_id, round(d, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY round(d, 5), vec_id) AS rank
FROM adc
QUALIFY rank <= 5
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(_t(spark, sf_dir, "documents"))


SQL_TEXT_STATS = r"""
WITH toks AS (SELECT doc_id, length(text) AS n_chars,
                     regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t, text
              FROM documents)
SELECT doc_id,
       n_chars::BIGINT AS n_chars,
       len(t)::BIGINT AS n_tokens,
       len(list_distinct(t))::BIGINT AS n_distinct_tokens,
       round(len(list_distinct(t)) * 1.0 / len(t), 5) AS ttr,
       round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 5) AS avg_token_len,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]'))::BIGINT AS n_bpe_tokens
FROM toks
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lang_id(_t(spark, sf_dir, "documents"))


def _sql_lang_id() -> str:
    score_cols = ",\n       ".join(
        "len(list_filter(t, x -> list_contains(["
        + ", ".join(f"'{m}'" for m in TX.LANG_MARKERS[lang])
        + f"], x))) AS s_{lang}"
        for lang in TX.LANG_MARKERS
    )
    langs = list(TX.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return rf"""
WITH toks AS (SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'), x -> lower(x)) AS t
              FROM documents),
scored AS (SELECT doc_id,
       {score_cols}
FROM toks)
SELECT doc_id, {pred} AS lang_pred, {best}::BIGINT AS lang_hits FROM scored
"""


SQL_LANG_ID = _sql_lang_id()


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


SQL_TFIDF_TOP_TERMS = r"""
WITH toks AS (SELECT doc_id, lower(t.term) AS term
              FROM documents,
                   unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS t(term)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT doc_id, term,
                  round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 5) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
FROM scored
QUALIFY rank <= 3
"""


# ---------------------------------------------------------------------------
# lexical retrieval + hybrid rank fusion (operators/retrieval.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 for a literal term query. One corpus scan (per-doc
    tf via array filter — no doc×term explode), one scalar aggregate for
    (N, Σdl, df_t) broadcast back, then TakeOrderedAndProject. At 100 TB:
    a single map pass + a scalar reduce; no wide shuffle of doc-term pairs."""
    from vettore_spark.operators import retrieval as RT

    return RT.bm25_topk(
        _t(spark, sf_dir, "documents"), _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


def _sql_bm25(terms: list[str], k: int, k1: float, b: float) -> str:
    """BM25 oracle mirroring bm25_scores' double-op association exactly:
    idf·tf·(k1+1) / (tf + k1·((1−b) + (b·dl)/(Σdl/N))) summed in term order.
    Float constants are Python-repr'd and ::DOUBLE-cast so both engines
    compute on identical doubles."""
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> lower(x) = '{t}'))::BIGINT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
        for i in range(len(terms))
    )
    avgdl = "(sdl::DOUBLE / n::DOUBLE)"
    norm = f"({k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE + ({b!r}::DOUBLE * dl::DOUBLE) / {avgdl}))"
    parts = " + ".join(
        f"(ln(1.0::DOUBLE + ((n::DOUBLE - df{i}::DOUBLE) + 0.5::DOUBLE) / (df{i}::DOUBLE + 0.5::DOUBLE))"
        f" * tf{i}::DOUBLE * {k1 + 1.0!r}::DOUBLE / (tf{i}::DOUBLE + {norm}))"
        for i in range(len(terms))
    )
    matched = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return rf"""
WITH base AS (
  SELECT doc_id, len(t)::BIGINT AS dl,
         {tf_cols}
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents)),
stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl, {df_cols} FROM base),
scored AS (
  SELECT doc_id, round({parts}, 5) AS bm25,
         ({matched})::BIGINT AS n_matched_terms
  FROM base CROSS JOIN stats
  WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(terms)))}),
topk AS (SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT {k})
SELECT doc_id, bm25, n_matched_terms,
       row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
FROM topk
"""


SQL_BM25_TOPK = _sql_bm25(_BM25_TERMS, 10, _BM25_K1, _BM25_B)


_BM25_BATCH = [
    (0, ["spark", "join", "window"]),
    (1, ["table", "scan"]),
    (2, ["merge", "sort", "batch", "stream"]),
]


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 via the inverted-index join — corpus tf/df tables built
    once and shared across the whole query batch (the many-queries scale
    shape; the literal-terms single-query path is bm25_topk)."""
    from vettore_spark.operators import retrieval as RT

    queries_df = spark.createDataFrame(_BM25_BATCH, ["query_id", "terms"])
    return RT.bm25_batch_topk(
        _t(spark, sf_dir, "documents"), queries_df, k=10,
        k1=_BM25_K1, b=_BM25_B,
    )


def _sql_bm25_batch() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_BATCH for t in terms
    )
    k1, b = _BM25_K1, _BM25_B
    return rf"""
WITH toks AS (SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'),
                                    x -> lower(x)) AS t
              FROM documents),
tf AS (SELECT doc_id, u.term AS term, count(*)::BIGINT AS tf
       FROM toks, unnest(t) u(term) GROUP BY 1, 2),
dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
q(query_id, term) AS (VALUES {vals}),
j AS (SELECT q.query_id, tf.doc_id,
             ln(1.0::DOUBLE + ((s.n::DOUBLE - d.df::DOUBLE) + 0.5::DOUBLE)
                              / (d.df::DOUBLE + 0.5::DOUBLE))
             * tf.tf::DOUBLE * {k1 + 1.0!r}::DOUBLE
             / (tf.tf::DOUBLE + {k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE
                + ({b!r}::DOUBLE * dl.dl::DOUBLE) / (s.sdl::DOUBLE / s.n::DOUBLE))) AS c
      FROM tf JOIN q USING (term) JOIN dfreq d USING (term)
              JOIN dl USING (doc_id) CROSS JOIN stats s),
agg AS (SELECT query_id::BIGINT AS query_id, doc_id, round(sum(c), 5) AS bm25,
               count(*)::BIGINT AS n_matched_terms
        FROM j GROUP BY 1, 2)
SELECT query_id, doc_id, bm25, n_matched_terms,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY bm25 DESC, doc_id) AS rank
FROM agg
QUALIFY rank <= 10
"""


SQL_BM25_BATCH = _sql_bm25_batch()


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR metrics over the BM25 batch run (operators/eval_metrics.py):
    precision@10 / recall@10 / RR / nDCG@10 per query, with graded qrels
    derived deterministically from the corpus itself — rel(query, doc) =
    number of DISTINCT query terms appearing in the doc's tokens. The
    eval plan shares the run's inverted-index tables (cached_persist) and
    adds one runs⋈qrels equi-join + per-query aggregates; the only window
    partitions by query over each query's own labeled set — nothing scans
    or shuffles the corpus beyond the token explode the run already does."""
    from vettore_spark.operators import eval_metrics as EM
    from vettore_spark.operators import retrieval as RT
    from vettore_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents")
    queries_df = spark.createDataFrame(_BM25_BATCH, ["query_id", "terms"])
    runs = RT.bm25_batch_topk(
        docs, queries_df, k=10, k1=_BM25_K1, b=_BM25_B
    ).select("query_id", "doc_id", "rank")
    qt = queries_df.select(
        "query_id", F.explode("terms").alias("_term")
    ).distinct()
    doc_terms = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(tokens("text"), F.lower))
        ).alias("_term"),
    )
    qrels = (
        doc_terms.join(F.broadcast(qt), "_term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("long").alias("rel"))
    )
    out = EM.retrieval_metrics(runs, qrels, k=10)
    return out.withColumn("query_id", F.col("query_id").cast("long")).orderBy(
        "query_id"
    )


def _sql_retrieval_eval() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_BATCH for t in terms
    )
    k1, b = _BM25_K1, _BM25_B
    return rf"""
WITH toks AS (SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'),
                                    x -> lower(x)) AS t
              FROM documents),
tf AS (SELECT doc_id, u.term AS term, count(*)::BIGINT AS tf
       FROM toks, unnest(t) u(term) GROUP BY 1, 2),
dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sdl FROM dl),
q(query_id, term) AS (VALUES {vals}),
j AS (SELECT q.query_id, tf.doc_id,
             ln(1.0::DOUBLE + ((s.n::DOUBLE - d.df::DOUBLE) + 0.5::DOUBLE)
                              / (d.df::DOUBLE + 0.5::DOUBLE))
             * tf.tf::DOUBLE * {k1 + 1.0!r}::DOUBLE
             / (tf.tf::DOUBLE + {k1!r}::DOUBLE * ({1.0 - b!r}::DOUBLE
                + ({b!r}::DOUBLE * dl.dl::DOUBLE) / (s.sdl::DOUBLE / s.n::DOUBLE))) AS c
      FROM tf JOIN q USING (term) JOIN dfreq d USING (term)
              JOIN dl USING (doc_id) CROSS JOIN stats s),
agg AS (SELECT query_id::BIGINT AS query_id, doc_id, round(sum(c), 5) AS bm25
        FROM j GROUP BY 1, 2),
runs AS (SELECT query_id, doc_id, rank FROM (
           SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY bm25 DESC, doc_id) AS rank
           FROM agg) WHERE rank <= 10),
qrels AS (SELECT q.query_id::BIGINT AS query_id, dt.doc_id,
                 count(*)::BIGINT AS rel
          FROM (SELECT DISTINCT doc_id, u.term
                FROM toks, unnest(list_distinct(t)) u(term)) dt
          JOIN (SELECT DISTINCT query_id, term FROM q) q USING (term)
          GROUP BY 1, 2),
lab AS (SELECT r.query_id, r.doc_id, r.rank,
               coalesce(qr.rel, 0)::BIGINT AS rel
        FROM runs r LEFT JOIN qrels qr
          ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id),
per_run AS (SELECT query_id,
                   sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
                   max(CASE WHEN rel > 0
                            THEN 1.0::DOUBLE / rank::DOUBLE END) AS rr0,
                   sum((pow(2.0::DOUBLE, rel::DOUBLE) - 1.0::DOUBLE)
                       / log2(rank::DOUBLE + 1.0::DOUBLE)) AS dcg
            FROM lab GROUP BY 1),
totals AS (SELECT query_id, count(*)::BIGINT AS npos
           FROM qrels WHERE rel > 0 GROUP BY 1),
ideal AS (SELECT query_id,
                 sum((pow(2.0::DOUBLE, rel::DOUBLE) - 1.0::DOUBLE)
                     / log2(irank::DOUBLE + 1.0::DOUBLE)) AS idcg
          FROM (SELECT query_id, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id) AS irank
                FROM qrels WHERE rel > 0)
          WHERE irank <= 10 GROUP BY 1)
SELECT p.query_id, p.hits,
       round(p.hits::DOUBLE / 10.0::DOUBLE, 5) AS precision_at_k,
       round(CASE WHEN t.npos > 0
                  THEN p.hits::DOUBLE / t.npos::DOUBLE
                  ELSE 0.0::DOUBLE END, 5) AS recall_at_k,
       round(coalesce(p.rr0, 0.0::DOUBLE), 5) AS rr,
       round(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg
                  ELSE 0.0::DOUBLE END, 5) AS ndcg_at_k
FROM per_run p LEFT JOIN totals t USING (query_id)
               LEFT JOIN ideal i USING (query_id)
ORDER BY p.query_id
"""


SQL_RETRIEVAL_EVAL = _sql_retrieval_eval()


def q_score_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation between two scorers of the
    same corpus (operators/stats.py::spearman_by_group) — the
    did-the-ranking-change monitor for scorer swaps. Here the two scorers
    are intrinsic document statistics (token count vs distinct-token
    count), so the oracle recomputes everything from the raw text;
    average-rank tie handling makes rho exact half-integer arithmetic
    until the final division — bit-stable across engines. Plan: two
    group-partitioned rank windows + one aggregate per group; output is
    O(n_langs)."""
    from vettore_spark.operators import stats as ST
    from vettore_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.size(tokens("text")).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(tokens("text"))).cast("double").alias(
            "n_distinct"
        ),
    )
    out = ST.spearman_by_group(
        scored, group_col="lang", x_col="n_tokens", y_col="n_distinct"
    )
    return out.orderBy("lang")


SQL_SCORE_AGREEMENT = r"""
WITH s AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'))::DOUBLE AS x,
         len(list_distinct(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')))::DOUBLE AS y
  FROM documents),
r AS (
  SELECT lang,
         rank() OVER (PARTITION BY lang ORDER BY x)::DOUBLE
           + (count(*) OVER (PARTITION BY lang, x)::DOUBLE - 1.0) / 2.0 AS rx,
         rank() OVER (PARTITION BY lang ORDER BY y)::DOUBLE
           + (count(*) OVER (PARTITION BY lang, y)::DOUBLE - 1.0) / 2.0 AS ry
  FROM s),
a AS (
  SELECT lang, count(*)::DOUBLE AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
  FROM r GROUP BY 1)
SELECT lang, n::BIGINT AS n,
       round(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 5) AS spearman
FROM a ORDER BY lang
"""


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF of the BM25 lexical top-50 and the dense cosine
    top-50 (query = embedding of vec 0; doc_id ≡ vec_id in the testdata).
    Rank fusion happens in rank domain (1/(60+rank)) so the score scales of
    the two systems never need calibration; the fuse shuffle carries ≤ 100
    rows regardless of corpus size."""
    from vettore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    lex = RT.bm25_topk(docs, _BM25_TERMS, k=50, k1=_BM25_K1, b=_BM25_B).select(
        "doc_id", "rank"
    )
    emb = _t(spark, sf_dir, "embeddings")
    dense = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="cosine", k=50,
        id_col="vec_id", vector_col="embedding", pre_normalized=False,
    ).select(F.col("vec_id").alias("doc_id"), F.round("distance", 5).alias("_d"))
    w = Window.orderBy(F.col("_d").asc(), F.col("doc_id").asc())
    dense = dense.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "rank"
    )
    return RT.rrf_fuse([lex, dense], id_col="doc_id", k=60, topk=10)


SQL_RRF_FUSION = f"""
WITH btop AS ({_sql_bm25(_BM25_TERMS, 50, _BM25_K1, _BM25_B)}),
vtop AS (SELECT vec_id, round(1 - c, 5) AS d
         FROM (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {_QV}) AS c
               FROM embeddings)
         ORDER BY 1 - c, vec_id LIMIT 50),
vrank AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY d, vec_id) AS rank FROM vtop),
u AS (SELECT doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank::DOUBLE) AS c FROM btop
      UNION ALL
      SELECT doc_id, 1.0::DOUBLE / (60.0::DOUBLE + rank::DOUBLE) AS c FROM vrank)
SELECT doc_id, round(sum(c), 6) AS rrf, count(*)::BIGINT AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id LIMIT 10
"""


def q_sq_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) two-stage search: per-dim min/max training,
    uint8 codes, scaled-integer L2 candidates (top 100), exact L2 rerank.
    4× compression with near-exact recall — the middle point between the
    sign-bit and PQ modes."""
    from vettore_spark.operators import sq as SQ

    emb = _t(spark, sf_dir, "embeddings")
    mins, maxs = SQ.sq_train(emb, vector_col="embedding")
    out = SQ.sq_topk(
        emb, _qvec(spark, sf_dir), mins, maxs,
        k=10, candidates=100, id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_SQ_INT8_TOPK = f"""
WITH dims AS (SELECT t.i AS i,
                     min(e.embedding[t.i]) AS mn, max(e.embedding[t.i]) AS mx
              FROM embeddings e CROSS JOIN range(1, {DIMS + 1}) t(i) GROUP BY 1),
s AS (SELECT i, mn::DOUBLE AS mn,
             CASE WHEN mx > mn THEN (mx::DOUBLE - mn::DOUBLE) / 255.0 ELSE 0.0 END AS sc
      FROM dims),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pc AS (SELECT e.vec_id, s.i, s.sc,
              CASE WHEN s.sc > 0 THEN least(greatest(floor((e.embedding[s.i]::DOUBLE - s.mn) / s.sc + 0.5), 0.0), 255.0) ELSE 0.0 END AS ce,
              CASE WHEN s.sc > 0 THEN least(greatest(floor((q.qe[s.i]::DOUBLE - s.mn) / s.sc + 0.5), 0.0), 255.0) ELSE 0.0 END AS cq
       FROM embeddings e CROSS JOIN s CROSS JOIN q),
terms AS (SELECT vec_id, list(((ce - cq) * sc) * ((ce - cq) * sc) ORDER BY i) AS tl
          FROM pc GROUP BY 1),
cand AS (SELECT vec_id, list_reduce(list_prepend(0.0::DOUBLE, tl), (a, x) -> a + x) AS d2
         FROM terms ORDER BY d2, vec_id LIMIT 100)
SELECT vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings e JOIN cand USING (vec_id))
ORDER BY d, vec_id LIMIT 10
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: the md5 split draw keys on the
    connected-component representative, so duplicate families never
    straddle the boundary (the eval-leakage guard a contrastive pipeline
    requires)."""
    from vettore_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=0.8)
    out = SMP.leakage_safe_split(
        docs.select("doc_id", "lang"), pairs, id_col="doc_id",
        test_fraction=0.1, salt="split",
    )
    return out.select("doc_id", "lang", "split")


def _sql_leakage_safe_split() -> str:
    from vettore_spark.operators.sampling import _threshold_hex

    return (
        "WITH RECURSIVE"
        + _sql_cc_block("documents", 0.8)
        + f"""
SELECT d.doc_id, d.lang,
       CASE WHEN substr(md5('split' || CAST(coalesce(a.component, d.doc_id) AS VARCHAR)), 1, 8)
                 < '{_threshold_hex(0.1)}'
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN assign a USING (doc_id)
"""
    )


SQL_LEAKAGE_SAFE_SPLIT = _sql_leakage_safe_split()


def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal near-dup verification report: embedding-cosine candidate
    pairs (multi-band sign-prefix blocking, ≥ 0.35) annotated with the
    exact word-3-gram Jaccard of the paired documents (doc_id ≡ vec_id)
    and a lexical_match verdict — embedding recall, lexical precision: the
    two-signal dedup a production corpus runs before dropping anything.
    Candidates come from `dedup.embedding_neardup_banded` (8 bits × 4
    rotated bands, capped block population — the same proven-scalable
    config as the `embedding_neardup_blocked` gate query; P(band
    collision) ≈ (1-θ/π)^bits per band, so sign-prefix recall
    concentrates on genuine near-dups while mid-similarity pairs thin
    out, which is the production trade: at corpus scale raise bits with
    log₂(n)), NOT the exact all-pairs
    block grid: the grid spreads O(n²) GEMM work but does not remove it,
    so at 100× corpus it is 10,000× the cost, while the banded plan is one
    explode + capped equi-self-joins whose quadratic term is bounded by
    `max_block_size`. The exact grid (`ann.cosine_neardup_blocked`)
    remains the bounded-input verification tier. The candidate pair list
    is tiny relative to the corpus, so both hydration joins broadcast
    it."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    cand = D.embedding_neardup_banded(
        emb, id_col="vec_id", vector_col="embedding",
        n_bits=8, n_bands=4, threshold=0.35, max_block_size=10_000,
    )
    # docs with <3 tokens have no shingles: dropped here so the pair join
    # (inner) mirrors the oracle's inner join on `sizes` — a candidate pair
    # touching a shingle-less doc is omitted by BOTH engines, never NULL
    sh = docs.select(
        F.col("doc_id"),
        D.shingle_hash_array(D.tokens("text"), 3).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    # chain the two hydration joins so the candidate stage runs ONCE: the
    # pair table is broadcast into join 1, and join 1's (small) output —
    # which embeds that same computation — is broadcast into join 2. The
    # previous shape referenced `cand` in two non-identical subtrees, so
    # the banded candidate stage executed twice per action.
    j1 = sh.select(
        F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sha")
    ).join(F.broadcast(cand), "id_a")
    j = sh.select(
        F.col("doc_id").alias("id_b"), F.col("_sh").alias("_shb")
    ).join(F.broadcast(j1), "id_b")
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = (F.size("_sha") + F.size("_shb")).cast("double") - inter
    jac = F.round(inter / union, 5)
    return j.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("sim", 5).alias("sim"),
        jac.alias("jac"),
        (jac >= 0.3).alias("lexical_match"),
    )


SQL_SEMANTIC_DEDUP_PAIRS = r"""
WITH n AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
         + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
         + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
         + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
         + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS k0,
         (CASE WHEN embedding[9] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[10] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[11] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[12] > 0 THEN 8 ELSE 0 END)
         + (CASE WHEN embedding[13] > 0 THEN 16 ELSE 0 END)
         + (CASE WHEN embedding[14] > 0 THEN 32 ELSE 0 END)
         + (CASE WHEN embedding[15] > 0 THEN 64 ELSE 0 END)
         + (CASE WHEN embedding[16] > 0 THEN 128 ELSE 0 END) AS k1,
         (CASE WHEN embedding[17] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[18] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[19] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[20] > 0 THEN 8 ELSE 0 END)
         + (CASE WHEN embedding[21] > 0 THEN 16 ELSE 0 END)
         + (CASE WHEN embedding[22] > 0 THEN 32 ELSE 0 END)
         + (CASE WHEN embedding[23] > 0 THEN 64 ELSE 0 END)
         + (CASE WHEN embedding[24] > 0 THEN 128 ELSE 0 END) AS k2,
         (CASE WHEN embedding[25] > 0 THEN 1 ELSE 0 END)
         + (CASE WHEN embedding[26] > 0 THEN 2 ELSE 0 END)
         + (CASE WHEN embedding[27] > 0 THEN 4 ELSE 0 END)
         + (CASE WHEN embedding[28] > 0 THEN 8 ELSE 0 END)
         + (CASE WHEN embedding[29] > 0 THEN 16 ELSE 0 END)
         + (CASE WHEN embedding[30] > 0 THEN 32 ELSE 0 END)
         + (CASE WHEN embedding[31] > 0 THEN 64 ELSE 0 END)
         + (CASE WHEN embedding[32] > 0 THEN 128 ELSE 0 END) AS k3
  FROM embeddings),
bnd AS (
  SELECT vec_id, v, 0 AS band, k0 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 1 AS band, k1 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 2 AS band, k2 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 3 AS band, k3 AS key FROM n),
-- mirror of the Spark side's max_block_size=10000 population cap: blocks
-- past the cap are DROPPED before the quadratic stage by both engines, so
-- a hot block at larger scale factors degrades recall identically instead
-- of surfacing as an opaque row-count mismatch
bpop AS (SELECT band, key FROM bnd GROUP BY band, key HAVING count(*) <= 10000),
cpairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         max(list_dot_product(a.v, b2.v)) AS sim
  FROM bnd a
  JOIN bpop p ON a.band = p.band AND a.key = p.key
  JOIN bnd b2 ON a.band = b2.band AND a.key = b2.key
  WHERE a.vec_id < b2.vec_id AND list_dot_product(a.v, b2.v) >= 0.35
  GROUP BY 1, 2),
toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
              unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS i
  FROM cpairs c JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY 1, 2)
SELECT c.id_a AS doc_a, c.id_b AS doc_b, round(c.sim, 5) AS sim,
       round(coalesce(i.i, 0)::DOUBLE
             / ((sa.n + sb.n)::DOUBLE - coalesce(i.i, 0)::DOUBLE), 5) AS jac,
       round(coalesce(i.i, 0)::DOUBLE
             / ((sa.n + sb.n)::DOUBLE - coalesce(i.i, 0)::DOUBLE), 5) >= 0.3
           AS lexical_match
FROM cpairs c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
"""


def q_fuzzy_value_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance matching over part-name dictionary values (1–2 edits,
    complete length-band blocking) — typo/variant detection over a
    categorical column."""
    return D.fuzzy_value_pairs(
        _t(spark, sf_dir, "part"), value_col="p_name", max_distance=2
    )


SQL_FUZZY_VALUE_PAIRS = """
WITH v AS (SELECT p_name AS val, count(*)::BIGINT AS n FROM part GROUP BY 1)
SELECT a.val AS val_a, b.val AS val_b,
       levenshtein(a.val, b.val)::BIGINT AS dist, a.n AS n_a, b.n AS n_b
FROM v a JOIN v b ON a.val < b.val
WHERE abs(length(a.val) - length(b.val)) <= 2
  AND levenshtein(a.val, b.val) BETWEEN 1 AND 2
"""


def q_uniform_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training:
    per query doc, the k docs with the smallest md5(salt‖query‖candidate)
    draw, excluding self — reproducible across engines and stable under
    reruns (unlike rand()-based sampling). Complements hard_negatives
    (similarity-ranked) with the uniform-random tier every triplet-loss
    recipe mixes in."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    q = docs.filter(F.col("doc_id") < 4).select(F.col("doc_id").alias("query_id"))
    cand = docs.select(F.col("doc_id").alias("cand_id"))
    draw = F.substring(
        F.md5(
            F.concat(
                F.lit("neg"),
                F.col("query_id").cast("string"),
                F.lit("|"),
                F.col("cand_id").cast("string"),
            )
        ),
        1,
        8,
    )
    j = (
        q.crossJoin(cand)
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("_d", draw)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("cand_id").asc())
    return (
        j.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= 8)
        .select("query_id", "cand_id", "neg_rank")
    )


SQL_UNIFORM_NEGATIVES = """
WITH q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id < 4),
j AS (SELECT q.query_id, d.doc_id AS cand_id,
             substr(md5('neg' || CAST(q.query_id AS VARCHAR) || '|' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 8) AS dr
      FROM q CROSS JOIN documents d WHERE q.query_id <> d.doc_id)
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY dr, cand_id) AS neg_rank
FROM j QUALIFY neg_rank <= 8
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: corpus split into quality deciles via ntile
    over the (rounded quality, doc_id) order — the quality-tiered shard
    layout curriculum-training data loaders consume. One sort-based window;
    deterministic because the ordering is a total order."""
    qual = TX.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    w = Window.orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    out = qual.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return out.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.min("quality"), 5).alias("min_quality"),
        F.round(F.max("quality"), 5).alias("max_quality"),
    )


# SQL_QUALITY_DECILES is assembled after SQL_QUALITY_SCORE (defined below).


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics with EXACT percentiles (linear
    interpolation — Spark `percentile`, not the approx sketch, so the
    DuckDB quantile_cont oracle matches bit-for-bit after rounding). The
    rollup every corpus intake runs: doc counts, token-length mean/p50/p90."""
    s = _t(spark, sf_dir, "documents").select(
        "lang", F.size(D.tokens("text")).cast("long").alias("_n")
    )
    return s.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("_n"), 5).alias("avg_tokens"),
        F.round(F.percentile("_n", F.lit(0.5)), 5).alias("p50_tokens"),
        F.round(F.percentile("_n", F.lit(0.9)), 5).alias("p90_tokens"),
    )


SQL_CORPUS_STATS = r"""
WITH s AS (SELECT lang, len(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+'))::BIGINT AS n
           FROM documents)
SELECT lang, count(*)::BIGINT AS n_docs,
       round(avg(n), 5) AS avg_tokens,
       round(quantile_cont(n, 0.5), 5) AS p50_tokens,
       round(quantile_cont(n, 0.9), 5) AS p90_tokens
FROM s GROUP BY lang
"""


def q_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cluster-quality analytics: per label, the mean and max
    cosine distance of members to their label centroid — the drift /
    cohesion monitor for embedding spaces (tight labels → low dispersion).
    Centroids via the map-side-combined posexplode aggregate; the 10-row
    centroid table broadcasts."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _label_mean_vectors(emb)
    j = emb.join(F.broadcast(cents), "label")
    d = 1.0 - K.cosine("CAST(embedding AS ARRAY<DOUBLE>)", "mean")
    return (
        j.select("label", d.alias("_d"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(F.avg("_d"), 5).alias("avg_dist"),
            F.round(F.max("_d"), 5).alias("max_dist"),
        )
    )


SQL_LABEL_DISPERSION = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
d AS (SELECT e.label,
             1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS dist
      FROM embeddings e JOIN cent c USING (label))
SELECT label, count(*)::BIGINT AS n_members,
       round(avg(dist), 5) AS avg_dist,
       round(max(dist), 5) AS max_dist
FROM d GROUP BY label
"""


def q_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram LM fluency score (corpus-trained, Laplace-smoothed
    mean log-probability per doc) — the perplexity-style quality signal."""
    return TX.charlm_trigram_scores(_t(spark, sf_dir, "documents"), alpha=1.0)


SQL_CHARLM_QUALITY = """
WITH base AS (SELECT doc_id, lower(text) AS t FROM documents),
tris AS (SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
                i -> substr(t, i, 3))) AS tri
         FROM base WHERE length(t) >= 3),
model AS (SELECT tri, count(*)::BIGINT AS cnt FROM tris GROUP BY 1),
stats AS (SELECT sum(cnt)::BIGINT AS n3, count(*)::BIGINT AS v FROM model)
SELECT t.doc_id, count(*)::BIGINT AS n_trigrams,
       round(avg(ln((m.cnt::DOUBLE + 1.0::DOUBLE)
                    / (s.n3::DOUBLE + 1.0::DOUBLE * s.v::DOUBLE))), 5) AS trigram_logprob
FROM tris t JOIN model m USING (tri) CROSS JOIN stats s
GROUP BY t.doc_id
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-5
    cosine neighbors that are neither the query nor a near-duplicate of it
    (exact GEMM candidates → broadcast anti-join vs the near-dup pair set
    → re-rank). Every stage reuses an independently-oracled block."""
    from vettore_spark.operators import ann as ANN
    from vettore_spark.operators import pipeline as PL

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    pairs = ANN.cosine_neardup_blocked(
        emb, threshold=0.45, id_col="vec_id", vector_col="embedding"
    )
    out = PL.hard_negative_mining(
        emb, queries_df, pairs, k=5, candidates=20,
        metric="cosine", id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
  FROM embeddings e CROSS JOIN q),
cand AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY 1 - c, vec_id) AS rn
  FROM scored QUALIFY rn <= 20),
n AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM n a CROSS JOIN n b
  WHERE a.vec_id < b.vec_id AND list_dot_product(a.v, b.v) >= 0.45),
sym AS (SELECT id_a AS qa, id_b AS qb FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
f AS (
  SELECT c.query_id, c.vec_id, c.c, c.rn
  FROM cand c LEFT JOIN sym s ON c.query_id = s.qa AND c.vec_id = s.qb
  WHERE s.qa IS NULL AND c.query_id <> c.vec_id)
SELECT query_id, vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY rn) AS neg_rank
FROM f QUALIFY neg_rank <= 5
"""


# ---------------------------------------------------------------------------
# corpus-preparation pipeline (operators/pipeline.py): chunking,
# decontamination, PII redaction, repetition filter, keep-best dedup
# ---------------------------------------------------------------------------


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 24) — the
    context-window splitter of a pretraining pipeline. Pure explode over a
    per-doc chunk-index sequence; no shuffle."""
    from vettore_spark.operators import pipeline as PL

    return PL.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


SQL_DOC_CHUNKS = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
-- the range bound must exceed max_chunks = (max_tokens-1)//24 + 1; 4096
-- covers docs up to ~98k tokens (testdata max is ~110) — the WHERE clause
-- is the real cap, the range is just the generator
c AS (SELECT doc_id, t, i FROM toks CROSS JOIN range(0, 4096) r(i)
      WHERE len(t) >= 1 AND i <= (len(t) - 1) // 24)
SELECT doc_id, i AS chunk_id,
       len(list_slice(t, i*24 + 1, i*24 + 32))::BIGINT AS n_chunk_tokens,
       array_to_string(list_slice(t, i*24 + 1, i*24 + 32), ' ') AS chunk_text
FROM c
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing a distinct word 8-gram
    with the eval set (source 'src0' stands in for the benchmark suite).
    Broadcast hash join of the (small) benchmark shingle set."""
    from vettore_spark.operators import pipeline as PL

    docs = _t(spark, sf_dir, "documents")
    return PL.decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=8,
        min_hits=1,
    )


SQL_DECONTAMINATE = r"""
WITH toks AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, source,
              unnest(list_transform(range(1, len(t) - 6),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7])) AS s
       FROM toks WHERE len(t) >= 8),
bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh WHERE source <> 'src0' GROUP BY 1),
hits AS (SELECT doc_id, count(*)::BIGINT AS n_contaminated
         FROM sh JOIN bench USING (s) WHERE source <> 'src0' GROUP BY 1)
SELECT doc_id, n_shingles, n_contaminated,
       round(n_contaminated::DOUBLE / n_shingles::DOUBLE, 5) AS contaminated_frac
FROM hits JOIN sizes USING (doc_id)
WHERE n_contaminated >= 1
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministically PII-enriched text (the synthetic
    corpus contains none, so the gate plants an email, a phone, and an IPv4
    per doc from doc_id — both engines derive the identical text)."""
    from vettore_spark.operators import pipeline as PL

    d = F.col("doc_id")
    enriched = _t(spark, sf_dir, "documents").select(
        d,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d.cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (d % 256).cast("string"),
            F.lit("."), ((d * 7) % 256).cast("string"),
        ).alias("text"),
    )
    return PL.redact_pii(enriched)


def _sql_pii_redact() -> str:
    from vettore_spark.operators.pipeline import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        PHONE_PATTERN,
    )

    return rf"""
WITH e AS (SELECT doc_id,
  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' ||
  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
  CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(text, '{EMAIL_PATTERN}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '{PHONE_PATTERN}'))::BIGINT AS n_phones,
  len(regexp_extract_all(text, '{IPV4_PATTERN}'))::BIGINT AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
      '{IPV4_PATTERN}', '<IP>', 'g'),
      '{PHONE_PATTERN}', '<PHONE>', 'g') AS redacted
FROM e
"""


SQL_PII_REDACT = _sql_pii_redact()


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate 3-gram fraction, top-token
    share) with keep thresholds — array expressions only, no shuffle."""
    from vettore_spark.operators import pipeline as PL

    return PL.repetition_stats(
        _t(spark, sf_dir, "documents"), n=3,
        max_dup_frac=0.05, max_top_token_frac=0.14,
    )


SQL_REPETITION_FILTER = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
g AS (SELECT doc_id, t,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE []::VARCHAR[] END AS gr
      FROM toks),
s AS (SELECT doc_id,
        round(CASE WHEN len(gr) > 0
                   THEN 1.0::DOUBLE - len(list_distinct(gr))::DOUBLE / len(gr)::DOUBLE
                   ELSE 0.0::DOUBLE END, 5) AS dup_ngram_frac,
        round(list_max(list_transform(list_distinct(t),
                x -> len(list_filter(t, y -> y = x))))::DOUBLE
              / len(t)::DOUBLE, 5) AS top_token_frac
      FROM g)
SELECT doc_id, dup_ngram_frac, top_token_frac,
       (dup_ngram_frac <= 0.05 AND top_token_frac <= 0.14) AS keep
FROM s
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: MinHash-LSH near-dup clusters ->
    keep the highest-quality member per cluster (id tie-break). The
    canonicalization refinement over training_pipeline's keep-lowest-id."""
    from vettore_spark.operators import pipeline as PL

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=0.8)
    clusters = D.neardup_clusters(pairs, id_out="doc_id")
    return PL.keep_best_per_cluster(clusters, TX.quality_score(docs))


# SQL_DEDUP_KEEP_BEST is assembled after SQL_QUALITY_SCORE (defined below).


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling keyed on md5(doc_id): downsample
    the dominant language, keep rare ones, default fraction for the rest.
    Engine-reproducible (the digest-prefix draw compares lexicographically
    in any SQL dialect), retry-stable, and growth-stable — unlike
    df.sample, whose output depends on partition layout."""
    from vettore_spark.operators import sampling as SMP

    return SMP.stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"en": 0.4, "de": 1.0, "fr": 0.8},
        strata_col="lang",
        key_col="doc_id",
        default_fraction=0.25,
        salt="s1",
    ).select("doc_id", "lang")


def _sql_stratified_sample() -> str:
    from vettore_spark.operators.sampling import _threshold_hex

    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('s1' || doc_id), 1, 8) <
      CASE lang WHEN 'de' THEN '{_threshold_hex(1.0)}'
                WHEN 'en' THEN '{_threshold_hex(0.4)}'
                WHEN 'fr' THEN '{_threshold_hex(0.8)}'
                ELSE '{_threshold_hex(0.25)}' END
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


def q_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment for globally-shuffled training data:
    shard = 32-bit md5-prefix mod 8. Reports per-shard count + id checksum;
    the oracle refolds the hex digest arithmetically."""
    from vettore_spark.operators import sampling as SMP

    out = SMP.shard_assign(_t(spark, sf_dir, "documents"), 8, key_col="doc_id")
    return out.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_doc_id")
    )


SQL_TRAIN_SHARDS = """
WITH s AS (
  SELECT doc_id, substr(md5('' || doc_id), 1, 8) AS h FROM documents
), v AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (strpos('0123456789abcdef', h[i]) - 1) * power(16, 8 - i))) AS BIGINT) AS x
  FROM s
)
SELECT CAST(x % 8 AS INT) AS shard, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM v GROUP BY 1
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_t(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w \t\n\x0B\f\r]', '', 'g'),
                               '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
FROM documents
"""


def q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-parallel HNSW (Q6/Q7) at full beam width: with ef_search
    covering every row the graph search must return exactly the flat-scan
    result (the reference's high-ef agreement invariant, hnsw.rs:659-687),
    so the exact-scan SQL is a valid oracle. Approximate-ef recall is
    covered by overlap@k tests in tests/test_hnsw.py."""
    from vettore_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    out = H.hnsw_search(
        emb, [("q0", _qvec(spark, sf_dir))], metric="l2", k=10,
        params=H.HnswParams(ef_search=1_000_000),  # beam covers every shard row
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_HNSW_TOPK = f"""
SELECT 'q0' AS query_id, vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance,
       row_number() OVER (ORDER BY d, vec_id) AS rank
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


def q_hnsw_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance under the exact oracle: build the
    graph-shard table (shared with hnsw_topk via the keyed persist cache),
    delete vec_id 0 via the shard-patch path (tombstone + edge strip +
    entry replacement, NO rebuild — operators/hnsw.py
    delete_from_graph_shards), then search at full beam. With ef covering
    every shard row the patched graph must return exactly the flat scan
    over the surviving rows — the oracle is the exact-scan SQL minus the
    deleted id."""
    from vettore_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    shards = H.build_graph_shards(
        emb, metric="l2", params=H.HnswParams(ef_search=1_000_000),
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    patched = H.delete_from_graph_shards(shards, 0)
    out = H.search_graph_shards(
        patched, [("q0", _qvec(spark, sf_dir))], metric="l2", k=10,
        ef_search=1_000_000, id_col="vec_id", id_type=T.LongType(),
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_HNSW_DELETE_SEARCH = f"""
SELECT 'q0' AS query_id, vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance,
       row_number() OVER (ORDER BY d, vec_id) AS rank
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id <> 0)
ORDER BY d, vec_id LIMIT 10
"""


def q_hnsw_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched HNSW: one shard-table pass answers FOUR queries (the query
    list rides into each shard task; per-shard top-k per query, merged by
    (query, rank, id)) — amortizing the graph scan across a query batch,
    the batch-serving shape. Full beam ⇒ exact oracle per query."""
    from vettore_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    shards = H.build_graph_shards(
        emb, metric="l2", params=H.HnswParams(ef_search=1_000_000),
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    queries = [
        (int(i), _qvec(spark, sf_dir, i)) for i in range(4)
    ]
    out = H.search_graph_shards(
        shards, queries, metric="l2", k=5,
        ef_search=1_000_000, id_col="vec_id", id_type=T.LongType(),
    )
    out = out.withColumn("rank", F.col("rank").cast("long")).withColumn(
        "query_id", F.col("query_id").cast("long")
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_HNSW_MULTI_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 4),
d AS (SELECT q.query_id, e.vec_id,
             list_distance(e.embedding::DOUBLE[], q.qv) AS d
      FROM embeddings e CROSS JOIN q)
SELECT query_id, vec_id, round(-d, 5) + 0.0 AS score, round(d, 5) AS distance,
       row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS rank
FROM d QUALIFY rank <= 5
"""


def q_hnsw_insert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index INSERT under the exact oracle: build the
    graph-shard table WITHOUT vec 0, insert it as a one-row batch of the
    list path (insert_many_into_graph_shards — the reference's
    insert-time graph maintenance, hnsw.rs:152-245; no rebuild), then
    search at full beam.
    The patched graph must return exactly the flat scan over the FULL
    corpus — the newly inserted vector is query 0's self-match at rank 1."""
    from vettore_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    shards = H.build_graph_shards(
        emb.filter(F.col("vec_id") != 0), metric="l2",
        params=H.HnswParams(ef_search=1_000_000),
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    patched = H.insert_many_into_graph_shards(
        shards, [(0, _qvec(spark, sf_dir, 0))]
    )
    out = H.search_graph_shards(
        patched, [("q0", _qvec(spark, sf_dir))], metric="l2", k=10,
        ef_search=1_000_000, id_col="vec_id", id_type=T.LongType(),
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_HNSW_INSERT_SEARCH = SQL_HNSW_TOPK  # full corpus: delete-free exact scan


def q_hnsw_batch_insert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED incremental insert under the exact oracle, BOTH batch
    paths: build the graph-shard table WITHOUT vecs 0-5, insert 0-2 in
    ONE insert_many_into_graph_shards job (the driver-small list path —
    routing rides the task closure), then insert 3-5 as a DataFrame via
    insert_df_into_graph_shards (the corpus-sized path: FNV-1a routing in
    an Arrow batch + one cogroup patch, no driver collect), then search
    at full beam. The twice-patched graph must return exactly the flat
    scan over the FULL corpus."""
    from vettore_spark.operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    shards = H.build_graph_shards(
        emb.filter(F.col("vec_id") >= 6), metric="l2",
        params=H.HnswParams(ef_search=1_000_000),
        id_col="vec_id", vector_col="embedding", num_partitions=8,
    )
    sids = sorted(r["shard_id"] for r in shards.select("shard_id").collect())
    batch = [(i, _qvec(spark, sf_dir, i)) for i in range(3)]
    patched = H.insert_many_into_graph_shards(shards, batch, shard_ids=sids)
    # cut between batches, exactly like the product path
    # (sources.store.HnswShards durable_cuts each patched table): the
    # DataFrame path splits touched/untouched shards so untouched blobs
    # never ride through Python, and the split's two branches must not
    # re-execute the list batch's patch on every action.
    from vettore_spark.plans.checkpoint import durable_cut

    patched = durable_cut(patched, eager=False)
    patched = H.insert_df_into_graph_shards(
        patched,
        emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)),
        shard_ids=sids, id_col="vec_id", vector_col="embedding",
    )
    patched = durable_cut(patched, eager=False)
    out = H.search_graph_shards(
        patched, [("q0", _qvec(spark, sf_dir))], metric="l2", k=10,
        ef_search=1_000_000, id_col="vec_id", id_type=T.LongType(),
    )
    out = out.withColumn("rank", F.col("rank").cast("long"))
    return _round(out, {"score": 5, "distance": 5})


SQL_HNSW_BATCH_INSERT_SEARCH = SQL_HNSW_TOPK  # patched == full-corpus exact


# ---------------------------------------------------------------------------
# MUVERA FDE retrieval (E1), SimHash, MMR — deterministic but not
# SQL-expressible: rows-only entries (plus pytest coverage)
# ---------------------------------------------------------------------------


def q_muvera_fde_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MUVERA flow (README.md:327-334): encode per-label doc
    multi-vectors + query tokens to FDEs, inner-product candidate top-4 over
    FDEs, exact MaxSim rerank to top-3."""
    import numpy as np

    from vettore_spark.encodings import muvera as MU

    cfg = MU.MuveraConfig(
        dimension=DIMS, num_repetitions=2, num_simhash_projections=3,
        seed=42, projection_dimension=32,
    )
    from vettore_spark.plans.cache import cached_persist

    # doc-side FDE table = the MUVERA index (encode documents once at ingest,
    # reference README.md:327-334); persisted on top of the shared
    # docs-by-label table and reused across query batches
    docs = _docs_by_label(spark, sf_dir)
    fdes = cached_persist(
        docs,
        ("muvera_fde", cfg.dimension, cfg.num_repetitions,
         cfg.num_simhash_projections, cfg.seed, cfg.projection_dimension),
        lambda s: s.withColumn("fde", MU.fde_column("vectors", cfg, "document")),
    )
    q0 = np.array([_qvec(spark, sf_dir, 0), _qvec(spark, sf_dir, 1)], dtype=np.float32)
    qf = [float(x) for x in MU.encode_query(q0, cfg)]
    cand = S.flat_topk(
        fdes, qf, metric="inner_product", k=4, id_col="label", vector_col="fde",
    ).select("label")
    pruned = docs.join(F.broadcast(cand), on="label", how="left_semi")
    out = MV.maxsim_topk(
        pruned, [q0[0].tolist(), q0[1].tolist()], metric="cosine", k=3,
        id_col="label", vectors_col="vectors", vector_col=None,
    ).select("label", F.round("score", 5).alias("score"))
    return out


def _sql_muvera_fde_retrieval() -> str:
    """Full-SQL oracle for the MUVERA retrieval flow at the gate config
    (dimension=64, reps=2, simhash=3, seed=42, proj_dim=32): the hash4
    splitmix mixer (muvera.py:75, muvera.rs:219-225) is reproduced in
    HUGEINT arithmetic (32-bit limb multiplication mod 2^64, validated
    bit-exact against the numpy path), SimHash partitions and Rademacher
    projections re-derive from it, and candidates come from the FDE inner
    product. One deliberate approximation: the document accumulator uses
    the exact per-partition mean where the engine keeps an online mean
    with per-step f32 rounding — a ~2^-24-relative difference that cannot
    flip the top-4 candidate set or the round-5 MaxSim output."""
    M = "18446744073709551616"  # 2^64

    def mul64(x: str, c: int) -> str:
        cl, ch = c % (1 << 32), c >> 32
        return (
            f"((((({x}) % 4294967296) * {cl}) + "
            f"((((({x}) // 4294967296) * {cl} + (({x}) % 4294967296) * {ch})"
            f" % 4294967296) * 4294967296)) % {M})"
        )

    def rotl(x: str, k: int) -> str:
        return f"(((({x}) * {1 << k}) % {M}) | (({x}) // {1 << (64 - k)}))"

    def h4(a: str, b: str, c: str, d: str) -> str:
        x = f"xor(xor(xor(({a}), {rotl(b, 17)}), {rotl(c, 31)}), {rotl(d, 47)})"
        x = f"((({x}) + 11400714819323198485) % {M})"
        x = mul64(f"xor(({x}), (({x}) // 1073741824))", 0xBF58476D1CE4E5B9)
        x = mul64(f"xor(({x}), (({x}) // 134217728))", 0x94D049BB133111EB)
        return f"xor(({x}), (({x}) // 2147483648))"

    hw = h4("42::HUGEINT", "r::HUGEINT", "p::HUGEINT", "d::HUGEINT")
    unit = f"(({hw})::DOUBLE / 18446744073709551615.0)::FLOAT"
    weight = f"(({unit}) * 2.0 - 1.0)::FLOAT::DOUBLE"
    hs = h4("59::HUGEINT", "r::HUGEINT", "j::HUGEINT", "d::HUGEINT")  # seed+17
    sign = f"CASE WHEN ({hs}) % 2 = 0 THEN 1.0 ELSE -1.0 END"

    return f"""
WITH wl AS (
  SELECT r, p, list({weight} ORDER BY d) AS w
  FROM range(0, 2) t1(r), range(0, 3) t2(p), range(0, 64) t3(d)
  GROUP BY r, p),
sl AS (
  SELECT r, j, list({sign} ORDER BY d) AS s
  FROM range(0, 2) t1(r), range(0, 32) t2(j), range(0, 64) t3(d)
  GROUP BY r, j),
vecs AS (
  SELECT label, vec_id,
         list_transform(embedding::FLOAT[], x -> x::DOUBLE) AS v
  FROM embeddings),
parts AS (
  SELECT label, vec_id, wl.r,
         CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                           i -> v[i] * wl.w[i])) >= 0
                       THEN 1 << (2 - wl.p) ELSE 0 END) AS BIGINT) AS part
  FROM vecs, wl GROUP BY label, vec_id, wl.r),
proj AS (
  SELECT label, vec_id, sl.r, sl.j,
         list_sum(list_transform(range(1, 65), i -> v[i] * sl.s[i])) AS pv
  FROM vecs, sl),
dslot AS (
  SELECT p.label, p.r, pr.part, p.j, avg(p.pv) AS dv
  FROM proj p JOIN parts pr ON pr.vec_id = p.vec_id AND pr.r = p.r
  GROUP BY 1, 2, 3, 4),
qslot AS (
  SELECT p.r, pr.part, p.j, sum(p.pv) AS qv
  FROM proj p JOIN parts pr ON pr.vec_id = p.vec_id AND pr.r = p.r
  WHERE p.vec_id IN (0, 1)
  GROUP BY 1, 2, 3),
fscore AS (
  SELECT d.label, sum(d.dv * q.qv) AS sc
  FROM dslot d JOIN qslot q ON d.r = q.r AND d.part = q.part AND d.j = q.j
  GROUP BY 1),
cand AS (SELECT label FROM fscore ORDER BY sc DESC, label LIMIT 4),
q AS (SELECT vec_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id IN (0, 1)),
best AS (
  SELECT e.label, q.vec_id,
         max(list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) AS m
  FROM embeddings e JOIN cand ON e.label = cand.label CROSS JOIN q
  GROUP BY e.label, q.vec_id),
scored AS (SELECT label, sum(m) AS s FROM best GROUP BY label)
SELECT label, round(s, 5) AS score FROM scored
ORDER BY s DESC, label LIMIT 3
"""


SQL_MUVERA_FDE_RETRIEVAL = _sql_muvera_fde_retrieval()


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the SQL-reproducible 62-bit polynomial
    token hash, so the DuckDB oracle recomputes the fingerprints, the
    4x16-bit blocking, and the Hamming verification bit-for-bit."""
    out = D.simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=8, hash_fn=TX.poly_hash62
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))


SQL_SIMHASH_PAIRS = r"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents),
h AS (
  SELECT doc_id,
         list_reduce(list_transform(string_split(tok, ''), x -> ascii(x)::BIGINT),
                     (a, b) -> (a * 31 + b) % 2147483647) * 2147483648
         + list_reduce(list_transform(string_split(tok, ''), x -> ascii(x)::BIGINT),
                     (a, b) -> (a * 37 + b) % 2147483647) AS hv
  FROM t),
votes AS (
  SELECT doc_id, b.b,
         sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
  GROUP BY 1, 2),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS s
  FROM votes GROUP BY 1),
blocks AS (
  SELECT doc_id, s, sl.sl AS slice, (s >> (sl.sl * 16)) & 65535 AS key
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS sl) sl),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS ha, b.s AS hb
  FROM blocks a JOIN blocks b ON a.slice = b.slice AND a.key = b.key
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 8
"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank of the cosine top-20 (R2). Greedy selection runs
    driver-side over the collected top-N; returned as a DataFrame of
    (vec_id, position)."""
    from vettore_spark.operators.rerank import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    top = S.flat_topk(
        emb, _qvec(spark, sf_dir), metric="cosine", k=20,
        id_col="vec_id", vector_col="embedding", pre_normalized=False,
    )
    picked = mmr_rerank(
        top, emb, metric="cosine", alpha=0.7, k=10,
        id_col="vec_id", vector_col="embedding",
    )
    rows = [(int(i), int(pos)) for pos, (i, _) in enumerate(picked)]
    return spark.createDataFrame(rows, "vec_id: long, position: long")


# The greedy loop IS expressible in SQL: a recursive CTE carrying the list of
# picked ids, each step selecting argmax of alpha*score - (1-alpha)*max pair
# cosine to the picked set (clamp + zero-vector semantics of
# distances.rs:160-177). Positions come from the final list's ordinality, so
# the value hash compares (vec_id, position) — selection order, not floats.
SQL_MMR_RERANK = f"""
WITH RECURSIVE cand AS (
  SELECT vec_id,
         CASE WHEN nd = 0 THEN 0.0 ELSE least(1.0, greatest(-1.0, dot / nd)) END AS score,
         v
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_dot_product(embedding::DOUBLE[], {_QV}) AS dot,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product({_QV}, {_QV})) AS nd
    FROM embeddings)
  ORDER BY score DESC, vec_id LIMIT 20
),
sel AS (
  SELECT 0 AS step, []::BIGINT[] AS picked
  UNION ALL
  SELECT step + 1,
         list_append(picked, (
           SELECT c.vec_id FROM cand c
           WHERE NOT list_contains(s.picked, c.vec_id)
           ORDER BY 0.7 * c.score - 0.3 * coalesce((
             SELECT max(CASE WHEN pnd = 0 THEN 0.0 ELSE least(1.0, greatest(-1.0, pd / pnd)) END)
             FROM (SELECT list_dot_product(c.v, p.v) AS pd,
                          sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(p.v, p.v)) AS pnd
                   FROM cand p WHERE list_contains(s.picked, p.vec_id))
           ), 0.0) DESC, c.score DESC, c.vec_id
           LIMIT 1))
  FROM sel s WHERE s.step < 10
)
SELECT picked[i] AS vec_id, i - 1 AS position
FROM (SELECT picked FROM sel WHERE step = 10), generate_series(1, 10) AS t(i)
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(_t(spark, sf_dir, "documents"))


SQL_QUALITY_SCORE = r"""
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t
  FROM documents),
parts AS (
  SELECT doc_id,
         len(t) * 1.0 AS n,
         len(list_filter(list_transform(t, x -> lower(x)),
             x -> list_contains(['the','and','of','to','is','in','that','it'], x))) * 1.0 AS stop,
         len(regexp_extract_all(text, '[^\w \t\n\x0B\f\r]')) * 1.0 AS punct,
         length(text) * 1.0 AS chars,
         len(list_distinct(t)) * 1.0 / len(t) AS ttr
  FROM toks)
SELECT doc_id,
       round(punct / chars, 5) AS punct_ratio,
       round(stop / n, 5) AS stopword_ratio,
       round(ttr, 5) AS ttr,
       round(((CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)
              + least(stop / n * 5, 1.0) + ttr) / 3.0, 5) AS quality
FROM parts
"""


SQL_QUALITY_DECILES = f"""
WITH q AS (SELECT doc_id, quality FROM ({SQL_QUALITY_SCORE})),
t AS (SELECT doc_id, quality,
             ntile(10) OVER (ORDER BY quality, doc_id) AS decile
      FROM q)
SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
       round(min(quality), 5) AS min_quality,
       round(max(quality), 5) AS max_quality
FROM t GROUP BY 1
"""


SQL_DEDUP_KEEP_BEST = (
    "WITH RECURSIVE"
    + _sql_cc_block("documents", 0.8)
    + f""",
csize AS (SELECT component, count(*)::BIGINT AS cluster_size FROM assign GROUP BY 1),
q AS (SELECT doc_id, quality FROM ({SQL_QUALITY_SCORE})),
j AS (SELECT a.doc_id, a.component, c.cluster_size, q.quality,
             row_number() OVER (PARTITION BY a.component
                                ORDER BY q.quality DESC, a.doc_id) AS rn
      FROM assign a JOIN csize c USING (component) JOIN q USING (doc_id))
SELECT component, doc_id AS keep_doc_id, cluster_size, quality FROM j WHERE rn = 1
"""
)


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline — the flagship composition every
    100 TB corpus runs, as one declarative DataFrame chain:

      quality filter (>= 0.5 composite) -> exact dedup (keep lowest id per
      digest) -> MinHash-LSH near-dup clustering -> drop non-canonical
      cluster members -> deterministic stratified sampling by language ->
      shard assignment -> per (shard, lang) counts + id checksum.

    Every stage is individually oracled elsewhere; this query verifies the
    COMPOSITION (stage ordering, column flow, determinism) against one
    DuckDB query built from the same pieces."""
    from vettore_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents")
    good_ids = TX.quality_score(docs).filter(F.col("quality") >= 0.5).select("doc_id")
    good = docs.join(good_ids, "doc_id", "left_semi")
    uniq = D.exact_dedup(good, id_col="doc_id", text_col="text")
    pairs = D.minhash_lsh_pairs(
        uniq, n=3, num_perm=64, bands=16, threshold=0.8
    )
    kept = D.dedup_keep_canonical(uniq, pairs, id_col="doc_id")
    sampled = SMP.stratified_sample(
        kept,
        {"en": 0.5, "zh": 1.0},
        strata_col="lang",
        key_col="doc_id",
        default_fraction=0.75,
        salt="tp",
    )
    sharded = SMP.shard_assign(sampled, 4, key_col="doc_id")
    return sharded.groupBy("shard", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_doc_id")
    )


def _sql_training_pipeline() -> str:
    from vettore_spark.operators.sampling import _threshold_hex

    return rf"""
WITH RECURSIVE
toksq AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
parts AS (
  SELECT doc_id,
         len(t) * 1.0 AS n,
         len(list_filter(list_transform(t, x -> lower(x)),
             x -> list_contains(['the','and','of','to','is','in','that','it'], x))) * 1.0 AS stop,
         len(list_distinct(t)) * 1.0 / len(t) AS ttr
  FROM toksq),
q AS (SELECT doc_id,
             round(((CASE WHEN n >= 10 AND n <= 100000 THEN 1.0 ELSE 0.0 END)
                    + least(stop / n * 5, 1.0) + ttr) / 3.0, 5) AS quality
      FROM parts),
good AS (SELECT d.* FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.5),
uniq AS (SELECT * FROM good
         WHERE doc_id IN (SELECT min(doc_id) FROM good GROUP BY md5(text))),{_sql_cc_block('uniq', 0.8).lstrip()},
kept AS (SELECT u.doc_id, u.lang FROM uniq u LEFT JOIN assign a USING (doc_id)
         WHERE a.component IS NULL OR a.component = u.doc_id),
sampled AS (SELECT doc_id, lang FROM kept
            WHERE substr(md5('tp' || doc_id), 1, 8) <
                  CASE lang WHEN 'en' THEN '{_threshold_hex(0.5)}'
                            WHEN 'zh' THEN '{_threshold_hex(1.0)}'
                            ELSE '{_threshold_hex(0.75)}' END),
hashed AS (SELECT doc_id, lang, substr(md5('' || doc_id), 1, 8) AS h FROM sampled),
v AS (SELECT doc_id, lang,
             CAST(list_sum(list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef', h[i]) - 1) * power(16, 8 - i))) AS BIGINT) AS x
      FROM hashed)
SELECT CAST(x % 4 AS INT) AS shard, lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM v GROUP BY 1, 2
"""


SQL_TRAINING_PIPELINE = _sql_training_pipeline()


# ---------------------------------------------------------------------------
# relational / events breadth
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_ts(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias("hour"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


_STREAM_SRC_CACHE: dict = {}


def _streaming_table_dir(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Spark's file STREAM source requires a directory to list; the
    testdata tables are single parquet files. Materialize a per-(sf_dir,
    table) scratch directory holding a hardlink to the file (no data
    copy; shutil.copy fallback across filesystems), once per app — the
    zorder/store-gate scratch pattern with the same PID-lockfile guard."""
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir, table)
    path = _STREAM_SRC_CACHE.get(key)
    if path is None:
        digest = hashlib.md5(
            (f"stream:{table}:" + sf_dir).encode()
        ).hexdigest()[:12]
        path = _claim_free_scratch_dir(os.path.join(
            tempfile.gettempdir(), f"vettore_stream_{table}_{digest}"
        ))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        src = os.path.join(sf_dir, f"{table}.parquet")

        def _link(s: str, d: str) -> None:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy(s, d)

        if os.path.isdir(src):
            # Spark-written table (a directory of part files, e.g. the
            # sf1.0 sweep corpus): link every data file — the single
            # availableNow batch reads them all identically (r14)
            for i, f in enumerate(sorted(os.listdir(src))):
                if f.endswith(".parquet") and not f.startswith("."):
                    _link(os.path.join(src, f),
                          os.path.join(path, f"{i:03d}.parquet"))
        else:
            _link(src, os.path.join(path, f"{table}.parquet"))
        _STREAM_SRC_CACHE[key] = path
    return path


def _streaming_table_dir_multi(
    spark: SparkSession, sf_dir: str, table: str, key_col: str, n_files: int = 4
) -> str:
    """Multi-micro-batch stream source (r11 verdict #5): the table split
    into `n_files` CONTIGUOUS ascending `key_col`-range parquet files with
    strictly ascending modification times, so a readStream with
    `maxFilesPerTrigger=1` under trigger(availableNow=True) replays them
    as `n_files` ORDERED micro-batches — Spark's FileStreamSource admits
    files oldest-mtime-first (latestFirst=false default), and the 2-second
    mtime spacing makes that order unambiguous. This drives the GroupState
    gates through real cross-batch state transitions (state load → merge →
    re-store per batch) instead of the single-batch replay whose state
    never round-trips the store. repartitionByRange guarantees file i's
    keys all sort before file i+1's, which the first-wins dedup gate's
    oracle equality depends on; for the order-free sketch gates any split
    would do and the same splitter is reused. Scratch lifecycle is the
    `_streaming_table_dir` pattern (flock claim, per-app memo)."""
    import shutil
    import tempfile

    # key_col is part of the identity: two gates splitting the same table
    # by different key columns must not share a split (the range order is
    # the first-wins oracle contract) — in-process memo AND cross-process
    # scratch path both carry it (ADVICE r12)
    key = (
        spark.sparkContext.applicationId, sf_dir, table, "multi",
        key_col, n_files,
    )
    path = _STREAM_SRC_CACHE.get(key)
    if path is None:
        digest = hashlib.md5(
            f"streammulti:{table}:{key_col}:{n_files}:{sf_dir}".encode()
        ).hexdigest()[:12]
        path = _claim_free_scratch_dir(os.path.join(
            tempfile.gettempdir(), f"vettore_streamN_{table}_{digest}"
        ))
        shutil.rmtree(path, ignore_errors=True)
        build = path + "_build"
        shutil.rmtree(build, ignore_errors=True)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        df.repartitionByRange(n_files, F.col(key_col)).write.mode(
            "overwrite"
        ).parquet(build)
        os.makedirs(path)
        parts = sorted(
            f
            for f in os.listdir(build)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        base = time.time() - 3600.0
        for i, f in enumerate(parts):
            dst = os.path.join(path, f"{i:03d}.parquet")
            os.rename(os.path.join(build, f), dst)
            os.utime(dst, (base + 2.0 * i, base + 2.0 * i))
        shutil.rmtree(build, ignore_errors=True)
        _STREAM_SRC_CACHE[key] = path
    return path


def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly event rollup run as an ACTUAL Structured Streaming query
    (streaming/ingest.py::windowed_event_counts — event-time tumbling
    window + watermark on the readStream source), gated against the same
    batch SQL oracle as events_hourly: readStream over the events parquet,
    trigger(availableNow) replays the file source to completion, the
    memory sink holds the complete-mode result, and the finished table is
    returned as a plain DataFrame for the hash compare. This closes the
    streaming family's 'pytest-only, no oracle possible' gap: batch/stream
    parity is now driver-verified end-to-end, not just pinned in tests.
    At 100 TB the identical plan runs unbounded (kafka/file source, real
    watermark, append sink); availableNow is Spark's bounded-replay mode
    of the same engine path — one plan, two run modes."""
    from vettore_spark.streaming.ingest import windowed_event_counts

    agg = windowed_event_counts(
        _events_stream(spark, sf_dir), window="1 hour", watermark="2 hours",
        ts_col="ts", key_col="event_type",
    )
    got = _run_streaming_gate(agg, "streaming_events_hourly_sink", "complete")
    return got.select(
        F.col("event_type"),
        F.col("window_start").alias("hour"),
        F.col("n"),
        F.col("sum_value"),
    )


def q_streaming_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming dedup, driver-gated: streaming/stateful.py
    ::streaming_exact_dedup (applyInPandasWithState — one boolean+keeper of
    state per distinct digest, first-ever-wins across micro-batches) run
    over a readStream of the documents table with trigger(availableNow)
    and a memory sink, returned as a plain DataFrame. The single-batch
    replay makes the intra-batch keep rule (lowest id per digest) the
    whole answer, so the oracle is plain SQL — min(doc_id) GROUP BY
    md5(text) — and the gate hash-verifies the STATEFUL engine path
    (GroupState, Arrow state serialization, append-mode emission), which
    until r8 was only pytest-pinned. At 100 TB the identical operator runs
    unbounded with the same bounded state: one entry per DISTINCT digest,
    shuffled uniformly by md5."""
    from vettore_spark.streaming.stateful import streaming_exact_dedup

    # 8-file doc_id-range split, no trigger cap: still ONE micro-batch
    # (the single-batch oracle contract), but 8 parallel scan tasks on
    # the map side instead of one (see _events_stream)
    path = _streaming_table_dir_multi(
        spark, sf_dir, "documents", "doc_id", n_files=8
    )
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = streaming_exact_dedup(stream, id_col="doc_id", text_col="text")
    got = _run_streaming_gate(out, "streaming_dedup_keepers_sink", "append")
    return got.select("doc_id", "digest").orderBy("doc_id")


SQL_STREAMING_DEDUP_KEEPERS = """
SELECT min(doc_id) AS doc_id, md5(text) AS digest
FROM documents
GROUP BY md5(text)
ORDER BY doc_id
"""


# One-time replay wall-time per streaming gate (sink name minus "_sink").
# The gated query memoizes the finished memory-sink table, so the bench's
# per-query rows time a table read while the actual replay cost lands in
# warmup — this map carries the REAL cost into the bench record (r10
# verdict watch item 1: "record each gate's replay wall-time once").
STREAMING_REPLAY_SECONDS: dict[str, float] = {}

# Per-micro-batch attribution of each gate's FIRST replay (r13 verdict
# #3: the replay-warmup total tripled with no code change and the record
# had nothing to attribute it to): batchId, input rows, and the engine's
# own durationMs breakdown (addBatch = plan execution, the rest is
# state-store commit / offset bookkeeping). Diagnostic only — bench.py
# writes it to bench_full.json's `streaming_progress` key, never to the
# compact stdout line.
STREAMING_REPLAY_PROGRESS: dict[str, list[dict]] = {}


def _run_streaming_gate(
    out: DataFrame, name: str, mode: str, sink: str = "memory"
) -> DataFrame:
    """Shared availableNow-replay harness for the streaming oracle gates:
    memory sink, bounded replay to completion, hard timeout (a hung source
    must FAIL the gate, never hand back a partial table), finished table
    returned as a plain DataFrame for the hash compare.

    `sink="parquet"` (append-mode gates only — Spark's file sink supports
    no other mode) replaces the memory sink with a per-app parquet scratch
    sink and returns a READ of it. The memory sink materializes every
    emitted row ON THE DRIVER, and the returned table is a
    LocalTableScan: each downstream execution re-ships the whole result
    from the driver single-threaded (guide §5 — the r14 profile measured
    the simhash gate's 1.4M-pair LocalTableScan + distinct at ~10 s per
    run, the largest headline row). The parquet sink keeps the replay
    output distributed end to end — executors write, executors read —
    and is also the production sink shape (memory is a test-only sink).

    The replay runs with a SMALL stateful-shuffle partition count
    (SPARK_GRAFT_GATE_PARTITIONS, default 8) instead of the session's
    batch-tuned setting: a stateful micro-batch pays one state-store
    commit + one Python stateful-worker round-trip PER PARTITION per
    batch, a fixed cost that dwarfed the few-hundred-row batches of the
    multi-batch gates (r14 profile, quiet host: moment_stats 12.3 s at
    32 partitions -> 6.4 s at 8; steady-state addBatch 3 s -> 0.5 s —
    bench_full.json's `streaming_progress` has the per-batch attribution).
    The gates' results are partition-count-invariant (order-free state
    merges; the r13 hostile 128-partition sweep), so this is a cost knob,
    not a semantics knob; real deployments size it to their state volume.
    Structured Streaming clones the session at start(), so the conf is
    restored immediately after — batch queries planned later in the
    same session are untouched."""
    sess = out.sparkSession
    prev_parts = sess.conf.get("spark.sql.shuffle.partitions")
    gate_parts = os.environ.get("SPARK_GRAFT_GATE_PARTITIONS", "8")
    data_dir = None
    if sink == "parquet":
        if mode != "append":
            raise ValueError("parquet gate sink requires append mode")
        import shutil
        import tempfile

        digest = hashlib.md5(
            f"gatesink:{name}:{sess.sparkContext.applicationId}".encode()
        ).hexdigest()[:12]
        root = os.path.join(tempfile.gettempdir(), f"vettore_gatesink_{digest}")
        _claim_scratch_dir(root)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        data_dir = os.path.join(root, "data")
        ck_dir = os.path.join(root, "ck")
    t0 = time.monotonic()
    sess.conf.set("spark.sql.shuffle.partitions", gate_parts)
    try:
        w = out.writeStream.outputMode(mode).trigger(availableNow=True)
        if sink == "parquet":
            q = (
                w.format("parquet")
                .option("path", data_dir)
                .option("checkpointLocation", ck_dir)
                .queryName(name)
                .start()
            )
        else:
            q = w.format("memory").queryName(name).start()
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming gate did not finish within 300s")
    # setdefault: the map records each gate's FIRST replay in this process
    # (the bench's own build at its sf_dir); a later rebuild — cache
    # eviction, a second sf_dir in the same session — must not silently
    # overwrite the recorded cost with another scale's number.
    STREAMING_REPLAY_SECONDS.setdefault(
        name.removesuffix("_sink"), round(time.monotonic() - t0, 3)
    )
    try:
        STREAMING_REPLAY_PROGRESS.setdefault(
            name.removesuffix("_sink"),
            [
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                }
                for p in (
                    json.loads(j) if isinstance(j, str) else j
                    for j in q.recentProgress
                )
            ],
        )
    except Exception:  # noqa: BLE001 — diagnostics must never fail a gate
        pass
    if sink == "parquet":
        # schema from the streaming plan, not inference: an (impossible
        # here, but structurally possible) zero-row replay leaves no data
        # files to infer from, and explicit schemas are free
        return sess.read.schema(out.schema).parquet(data_dir)
    return out.sparkSession.table(name)


def q_streaming_horizon_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE's time-horizon dedup (streaming/stateful.py::
    streaming_horizon_dedup -> dropDuplicatesWithinWatermark) driver-gated
    under MULTI-MICRO-BATCH replay (r12 verdict #6): the documents table
    split into 4 contiguous ascending doc_id-range files with a
    synthesized deterministic event time (epoch + doc_id seconds),
    maxFilesPerTrigger=1 — a digest seen in batch 0 must suppress its
    re-occurrences in batches 1-3 THROUGH the state store, not intra-batch
    dedup. Order-freedom argument for the unchanged oracle: the horizon
    (9999 hours) strictly dominates the synthesized ts span (doc_id
    seconds — doc_id stays far below 3.6e7 at every tested sf), so the
    advancing watermark can never evict a digest's state mid-replay and
    the keeper multiset is EXACTLY one row per distinct digest regardless
    of the split. WHICH row wins per digest remains arrival-order-
    dependent, so the gate still projects the digest set; horizon-RESTART
    semantics (a duplicate after its predecessor's horizon expired is a
    NEW keeper) need controlled expiry and stay pinned in
    tests/test_stateful.py + tests/test_hardening_r13.py with explicit
    batch boundaries. At 100 TB this exact plan runs unbounded with state
    bounded by TIME (the crawl re-fetch / retry-storm posture) instead of
    key cardinality."""
    from vettore_spark.streaming.stateful import streaming_horizon_dedup

    path = _streaming_table_dir_multi(spark, sf_dir, "documents", "doc_id")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn(
            "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
        )
    )
    out = streaming_horizon_dedup(stream, horizon="9999 hours")
    got = _run_streaming_gate(out, "streaming_horizon_dedup_sink", "append")
    return got.select("digest").orderBy("digest")


SQL_STREAMING_HORIZON_DEDUP = """
SELECT DISTINCT md5(text) AS digest
FROM documents
ORDER BY digest
"""


def q_streaming_funnel_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL conversion-funnel tracking (streaming/stateful.py::
    streaming_funnel_stage, applyInPandasWithState with three-long state
    per user) driver-gated under MULTI-MICRO-BATCH replay (r12 verdict
    #6): the events table split into 4 contiguous ascending TS-range
    files, maxFilesPerTrigger=1, so each user's (t1,t2,t3) state
    round-trips the store across batches. Order-freedom argument for the
    unchanged oracle: global processing is ts-ascending — the ranges
    ascend across files, the operator sorts each batch by ts, and equal
    ts values colocate under repartitionByRange — and the incremental
    fold over ts-ordered events equals the batch min-aggregate funnel
    exactly (t1 ends as the global min view ts; every click processed
    after t1 with ts > t1 min-reduces to the global min click > t1, and
    likewise purchases; ts ties resolve to 'skip' in BOTH engines via
    the strict > rule). Append mode emits one row per (user, touching
    batch); stage is NONDECREASING across a user's emissions (state only
    ever accumulates), so the final funnel position is plain max(stage).
    Oracle = the event_funnel CTE chain at per-user granularity. At
    100 TB the identical operator runs unbounded with O(1) state per
    user (three longs) — no event history retained."""
    from vettore_spark.streaming.stateful import streaming_funnel_stage

    out = streaming_funnel_stage(_events_stream_multi(spark, sf_dir, "ts"))
    got = _run_streaming_gate(out, "streaming_funnel_stage_sink", "append")
    fin = got.groupBy("user_id").agg(F.max("stage").alias("stage"))
    return fin.select("user_id", "stage").orderBy("user_id")


SQL_STREAMING_FUNNEL_STAGE = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 WHEN v.user_id IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage
FROM u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
ORDER BY u.user_id
"""


def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming KMV distinct-count sketch (streaming/stateful.py
    ::streaming_kmv_distinct — bottom-k=128 md5-derived 60-bit hashes per
    group held in GroupState) driver-gated under MULTI-MICRO-BATCH replay
    (r11 verdict #5): the events table split into 4 user_id-range files,
    maxFilesPerTrigger=1, so the bottom-k set round-trips the state store
    between batches (load → union → re-truncate → re-store). Update mode
    emits one running estimate per (group, batch); the gate projects the
    FINAL emission per group via plain max — BOTH emitted fields are
    nondecreasing across a group's emissions (n_sketch grows to k and
    stays; pre-saturation est = n_sketch, post-saturation est =
    (k-1)·2^60/h_k with h_k the kth-smallest hash, nonincreasing as new
    hashes arrive; at the transition est jumps from <= k-1 to >= k-1), so
    max of each equals the final row. The oracle is unchanged: the
    bottom-k set is a set union, order- and split-invariant, identical
    hash construction to operators/sketch.hash60 — the kmv_distinct_daily
    SQL sketch re-keyed to (event_type, user_id). At 100 TB the identical
    operator runs unbounded with O(k) state per group regardless of stream
    length, emitting a running cardinality estimate every micro-batch."""
    from vettore_spark.streaming.stateful import streaming_kmv_distinct

    # _events_stream's conf/ts handling inlined over the MULTI source:
    # on nanos-timestamp parquet the schema read itself needs the
    # nanosAsLong conf, which must be applied HERE, not inherited from
    # whichever gate ran first (the kmv operator never touches ts, so
    # only the conf matters — the split files carry the raw long column)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = _streaming_table_dir_multi(spark, sf_dir, "events", "user_id")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_kmv_distinct(stream, k=128)
    got = _run_streaming_gate(out, "streaming_kmv_distinct_sink", "update")
    fin = got.groupBy("event_type").agg(
        F.max("n_sketch").alias("n_sketch"),
        F.max("est_distinct").alias("est_distinct"),
    )
    return fin.select("event_type", "n_sketch", "est_distinct").orderBy(
        "event_type"
    )


SQL_STREAMING_KMV_DISTINCT = r"""
WITH h AS (SELECT DISTINCT event_type,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events),
rk AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS pos
       FROM h),
agg AS (SELECT event_type, count(*) AS _n, max(h) AS _hk
        FROM rk WHERE pos <= 128 GROUP BY event_type)
SELECT event_type, CAST(_n AS INT) AS n_sketch,
       round(CASE WHEN _n < 128 THEN CAST(_n AS DOUBLE)
                  ELSE (127.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(_hk AS DOUBLE) END, 3) AS est_distinct
FROM agg
ORDER BY event_type
"""


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with the batch reader's exact ts
    conventions (UTC pinned before the cast; nanos-long branch).

    The source is the 8-way event_id-range split read WITHOUT a
    maxFilesPerTrigger cap, so trigger(availableNow) still replays it as
    ONE micro-batch (the single-batch gates' oracle contract) but the
    map side — parquet decode, ts conversion, the pre-shuffle projection
    — runs 8 scan tasks instead of one (guide §2.5 input-skew fix: the
    single hardlinked file gave every single-batch gate a 1-task map
    stage; the r14 replay profile measured zscore's addBatch at 2.9 s
    with ~100k rows funneling through one core). All four consumers are
    intra-batch order-free: two are aggregations, and the stateful two
    sort inside their update functions."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = _streaming_table_dir_multi(
        spark, sf_dir, "events", "event_id", n_files=8
    )
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    if isinstance(schema["ts"].dataType, T.LongType):
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _events_stream_multi(
    spark: SparkSession, sf_dir: str, key_col: str
) -> DataFrame:
    """_events_stream over the 4-file multi-micro-batch range split (r12
    verdict #6): same ts conventions as the single-file source, plus
    maxFilesPerTrigger=1 so trigger(availableNow) replays the files as 4
    ordered micro-batches (oldest-mtime-first)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = _streaming_table_dir_multi(spark, sf_dir, "events", key_col)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def q_streaming_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL running top-k per key (streaming/stateful.py::
    streaming_topk_per_key — state is exactly the k best (id, value)
    pairs per key) driver-gated under MULTI-MICRO-BATCH replay (r12
    verdict #6): the events table split into 4 TS-range files,
    maxFilesPerTrigger=1, so per-user leaderboards merge across batches
    through the state store (load -> union -> re-sort -> truncate ->
    re-store). The FINAL state is arrival-order-FREE outright: the top-k
    of a union under (value desc, id asc) is split-invariant. Update
    mode emits each touched user's current leaderboard once per batch;
    the final occupant of each (user, rank) slot is recovered with
    max_by over struct(value, -event_id), because per slot the emitted
    (value, id) sequence is MONOTONE in exactly that ordering — each
    emission's list is the top-k of a growing set, so slot r's occupant
    (the r-th order statistic) only ever improves: value rises, or at
    equal value the id falls. The keep rule is pure ordering over
    parquet doubles, so the plain window oracle is unchanged. At 100 TB
    the identical operator runs unbounded with O(k) state per key,
    emitting the live leaderboard every micro-batch — the
    alert/dashboard shape a global sort can never serve."""
    from vettore_spark.streaming.stateful import streaming_topk_per_key

    out = streaming_topk_per_key(
        _events_stream_multi(spark, sf_dir, "ts"), k=3
    )
    got = _run_streaming_gate(out, "streaming_topk_per_key_sink", "update")
    fin = got.groupBy("user_id", "rank").agg(
        F.expr(
            "max_by(named_struct('event_id', event_id, 'value', value),"
            " named_struct('v', value, 'nid', -event_id))"
        ).alias("s")
    )
    return fin.select(
        "user_id",
        "rank",
        F.col("s.event_id").alias("event_id"),
        F.col("s.value").alias("value"),
    ).orderBy("user_id", "rank")


SQL_STREAMING_TOPK_PER_KEY = """
SELECT user_id, CAST(rank AS INT) AS rank, event_id, value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events)
WHERE rank <= 3
ORDER BY user_id, rank
"""


def q_streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE's gap-based session windows (streaming/stateful.py::
    streaming_session_counts -> F.session_window, 30-minute inactivity
    gap) driver-gated via availableNow replay in complete mode (append
    would hold back every session the final watermark has not passed —
    the bounded replay must emit ALL sessions). Oracle = lag-based
    sessionization with the session_window boundary rule: a gap of
    EXACTLY the window size starts a NEW session (the engine's window is
    [ts, ts+gap), end-exclusive), and session_end = last event + gap.
    Timestamps are rendered at full microsecond precision on both sides,
    and sum_value accumulates in DECIMAL(18,6) on both sides (r10
    advice) — decimal addition is order-free, so the hash compare is
    bit-exact rather than a round() over an order-sensitive double fold.
    At 100 TB the identical plan runs unbounded in append mode with
    watermark-bounded state — complete mode here is the replay harness,
    not the production shape."""
    from vettore_spark.streaming.stateful import streaming_session_counts

    out = streaming_session_counts(
        _events_stream(spark, sf_dir), gap="30 minutes", watermark="2 hours"
    )
    name = "streaming_session_counts_sink"
    got = _run_streaming_gate(out, name, "complete")
    return got.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "session_start")


SQL_STREAMING_SESSION_COUNTS = """
WITH e AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events),
s AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM e)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f')
         AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def q_streaming_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STATEFUL histogram quantile sketch (streaming/stateful.py::
    streaming_histogram_quantiles — one counter per occupied bucket per
    group held in GroupState, interpolation in the SAME IEEE operation
    order as the batch operator) driver-gated: availableNow replay of
    the events table, update-mode emission; the final per-group emission
    equals the batch histogram_quantiles bit-for-bit, so the oracle is
    SQL_EVENTS_QUANTILE_SKETCH's construction VERBATIM. At 100 TB the
    identical operator runs unbounded with state bounded by the value
    RANGE / bucket width (not rows or stream length), emitting running
    p50/p90/p99 every micro-batch."""
    from vettore_spark.streaming.stateful import streaming_histogram_quantiles

    out = streaming_histogram_quantiles(
        _events_stream(spark, sf_dir),
        quantiles=[0.5, 0.9, 0.99],
        bucket_width=1.0,
    )
    got = _run_streaming_gate(
        out, "streaming_histogram_quantiles_sink", "update"
    )
    return got.select("event_type", "q", "est").orderBy("event_type", "q")


def q_streaming_unit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL unit-level (Lee et al. 2021) streaming dedup
    (streaming/stateful.py::streaming_unit_dedup — one marker row of
    GroupState per distinct 20-token window) driver-gated under
    MULTI-MICRO-BATCH replay (r11 verdict #5): the documents table is
    split into 4 contiguous ascending-doc_id files replayed
    oldest-first with maxFilesPerTrigger=1, so the gate exercises real
    cross-batch state transitions — a digest seen in batch 0 must
    suppress its re-occurrences in batches 1-3 through the state store,
    not intra-batch dedup. The oracle is UNCHANGED: cross-batch
    first-wins + ascending contiguous doc_id ranges + the batch
    operator's intra-batch keep rule (lexicographically-lowest
    (doc_id, unit_idx)) compose to exactly the global minimum per
    digest — any later-batch occurrence has a strictly higher doc_id.
    At 100 TB the identical operator dedups an unbounded ingest stream
    at paragraph granularity with state bounded by distinct-unit count,
    the md5 key-space shuffling uniformly across executors."""
    from vettore_spark.streaming.stateful import streaming_unit_dedup

    path = _streaming_table_dir_multi(spark, sf_dir, "documents", "doc_id")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_unit_dedup(stream, window=20)
    got = _run_streaming_gate(out, "streaming_unit_dedup_sink", "append")
    return got.select("doc_id", "unit_idx", "unit").orderBy(
        "doc_id", "unit_idx"
    )


SQL_STREAMING_UNIT_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
units AS (
  SELECT doc_id, CAST(u.i AS INTEGER) AS unit_idx,
         array_to_string(t[(CAST(u.i AS INTEGER) * 20 + 1):(CAST(u.i AS INTEGER) * 20 + 20)], ' ') AS unit
  FROM toks,
       UNNEST(range(0, GREATEST(1, CAST(ceil(len(t) / 20.0) AS BIGINT)))) AS u(i)
),
marked AS (
  SELECT doc_id, unit_idx, unit,
         row_number() OVER (PARTITION BY md5(unit)
                            ORDER BY doc_id, unit_idx) AS rn
  FROM units
)
SELECT doc_id, unit_idx, unit
FROM marked WHERE rn = 1
ORDER BY doc_id, unit_idx
"""


def q_streaming_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL running embedding-distribution stats (streaming/
    stateful.py::streaming_moment_stats — per-group fixed-point sums
    sfx_i = Σ floor(x_i·2^24 + 0.5), qfx_i = Σ floor(x_i²·2^24 + 0.5)
    held in GroupState; integer addition is order-free, so the sums are
    engine-independent) driver-gated via availableNow replay of the
    embeddings table. The emission formula (m_i = sfx_i/n/s, mean_norm =
    √Σm_i², var_trace = Σ(q_i − m_i²)) divides identical integers, and
    the gate rounds at 5 dp. That round is a documented TOLERANCE (r10
    advice): the one remaining order-sensitive step — the 64-term float
    sum over per-dimension terms — could in principle straddle a 5-dp
    boundary between engines, so this is a round-tolerance gate, not a
    bit-exact one (every input to the float sum IS bit-identical across
    engines — identical integer divisions — which keeps the cross-engine
    delta at a few ULPs, ~1e-11 away from any 5-dp boundary in practice;
    the embedding_drift_by_label precedent). At 100 TB this is the
    continuous drift monitor: O(2·dim) longs of state per group, running
    centroid-magnitude/scatter emitted every micro-batch.

    r12: MULTI-MICRO-BATCH replay (r11 verdict #5) — the embeddings
    table split into 4 vec_id-range files, maxFilesPerTrigger=1, so the
    integer state round-trips the store between batches. Update mode
    now emits one running row per (group, batch); the gate projects the
    FINAL emission per group via max_by on n, which is strictly
    increasing across a group's emissions (a group is only invoked for
    batches containing its rows, each adding >= 1). The oracle — the
    full-stream fixed-point sums — is unchanged: integer addition is
    order-free, so the final state is split-invariant. A row whose vector
    is NULL or holds a non-finite element is dropped by the operator and
    the oracle alike (NANPOLICY.md)."""
    from vettore_spark.streaming.stateful import streaming_moment_stats

    path = _streaming_table_dir_multi(spark, sf_dir, "embeddings", "vec_id")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_moment_stats(stream, dim=64)
    got = _run_streaming_gate(out, "streaming_moment_stats_sink", "update")
    fin = got.groupBy("label").agg(
        F.max("n").alias("n"),
        F.max_by("mean_norm", "n").alias("mean_norm"),
        F.max_by("var_trace", "n").alias("var_trace"),
    )
    return fin.select(
        "label",
        "n",
        F.round("mean_norm", 5).alias("mean_norm"),
        F.round("var_trace", 5).alias("var_trace"),
    ).orderBy("label")


SQL_STREAMING_MOMENT_STATS = """
WITH u AS (
  SELECT label, i - 1 AS i, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, 65) t(i)
  -- both twins drop a row with a NULL vector or a non-finite element
  WHERE list_bool_and(list_transform(embedding, v -> v IS NOT NULL AND isfinite(v)))),
fx AS (
  SELECT label, i,
         CAST(sum(CAST(floor(x * 16777216.0 + 0.5) AS BIGINT)) AS BIGINT) AS sfx,
         CAST(sum(CAST(floor(x * x * 16777216.0 + 0.5) AS BIGINT)) AS BIGINT) AS qfx,
         count(*) AS n
  FROM u GROUP BY label, i),
terms AS (
  SELECT label, n,
         CAST(sfx AS DOUBLE) / n / 16777216.0 AS m_i,
         CAST(qfx AS DOUBLE) / n / 16777216.0 AS q_i
  FROM fx)
SELECT label, max(n) AS n,
       round(sqrt(sum(m_i * m_i)), 5) AS mean_norm,
       round(sum(q_i - m_i * m_i), 5) AS var_trace
FROM terms
GROUP BY label
ORDER BY label
"""


def q_streaming_zscore_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC-PROJECTION twin gate for streaming_zscore_anomaly
    (streaming/stateful.py::streaming_zscore_anomaly — Welford running
    mean/M2 per key in GroupState, each event z-scored against its key's
    full PRIOR history). The raw z values are pytest-only by design: a
    Welford fold and a SQL window aggregate accumulate in different
    floating-point orders, so a cross-engine hash of the floats would
    flake at the ULP level. The gate therefore projects the INTEGER
    summary — per key, total events and the count flagged |z| > 2.5 —
    which is exact-typed and threshold-stable: the nearest |z| to the
    2.5 boundary at gate scale sits ~8e-4 away (sf0.1: ~2.4e-4), eight
    orders of magnitude above cross-engine float noise, so no flag can
    flip between the Welford and two-pass-window computations. The
    availableNow replay is one micro-batch, inside which rows are
    processed in (ts, event_id) order — exactly the oracle's expanding
    window frame. At 100 TB the identical operator runs unbounded with
    O(1) state per key (three numbers); this gate hash-verifies the
    GroupState engine path plus the score-before-update (no
    self-masking) semantics end-to-end."""
    from vettore_spark.streaming.stateful import streaming_zscore_anomaly

    out = streaming_zscore_anomaly(
        _events_stream(spark, sf_dir),
        key_col="event_type",
        id_col="event_id",
        ts_col="ts",
        value_col="value",
        threshold=2.5,
        min_history=10,
    )
    got = _run_streaming_gate(out, "streaming_zscore_flag_counts_sink", "append")
    return (
        got.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


SQL_STREAMING_ZSCORE_FLAG_COUNTS = """
WITH ordered AS (
  SELECT event_type, value,
         count(*) OVER w AS pn,
         avg(value) OVER w AS pmean,
         stddev_samp(value) OVER w AS pstd
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT event_type,
         CASE WHEN pn >= 10 AND pstd > 0
              THEN abs((value - pmean) / pstd) ELSE 0.0 END AS az
  FROM ordered)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN az > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM z
GROUP BY event_type
ORDER BY event_type
"""


def q_streaming_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC-PROJECTION twin gate for streaming_simhash_candidates
    (streaming/stateful.py — per-SimHash-block bucket state, every
    arrival Hamming-verified against the bucket's resident members, so a
    near-dup is caught across micro-batches). The operator's cap
    semantics are arrival-order-dependent PAST max_bucket (residents
    freeze at the cap), which is why the raw operator stays pytest-only;
    BELOW the cap the emitted pair set is order-free — every pair meets
    when its later member arrives and all earlier members are resident.
    The gate runs with max_bucket=16384, sized above the hottest bucket
    at every tested scale (sf0.01 186, sf0.1 1,896, the sf1.0 sweep
    corpus 7,657 — replica slice-collisions stack bucket populations,
    which silently cap-froze residents under the old 4096), projects the
    DISTINCT (doc_a, doc_b, hamming) set, and uses the SQL-reproducible
    poly_hash62 fingerprint so the oracle — the batch simhash_pairs SQL
    verbatim — recomputes the 64-bit SimHash, the 4x16-bit blocking, and
    the Hamming verification bit-for-bit. This hash-verifies the
    stateful engine path (GroupState list state, append emission, the
    vectorized XOR+popcount verifier) against an independent engine; the
    at-cap ordering semantics stay multi-batch-pinned in
    tests/test_stateful.py. At 100 TB the cap is the hot-bucket guard
    and state stays bounded at keys x max_bucket regardless of stream
    length."""
    from vettore_spark.streaming.stateful import streaming_simhash_candidates

    # 32-file doc_id-range split, no trigger cap: ONE micro-batch as
    # before, but the tokenize+SimHash fold — this gate's dominant map
    # cost (r14: 8.7 s addBatch with the fold on ONE scan task; r15
    # decomposition: still 2-3 s of the post-rewrite addBatch on 8
    # tasks) — now fills the session's cores. The split count only
    # shapes scan parallelism of the single availableNow batch, never
    # results (intra-batch order-free; the r12 multi-batch semantics
    # stay pinned in tests with explicit file-per-trigger fixtures).
    path = _streaming_table_dir_multi(
        spark, sf_dir, "documents", "doc_id", n_files=32
    )
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    out = streaming_simhash_candidates(
        stream,
        max_hamming=8,
        max_bucket=16384,
        hash_fn=TX.poly_hash62,
        # the cap does not bind at any tested scale (hottest bucket:
        # 7,657 in the sf1.0 sweep corpus), so minimal-shared-block
        # emission is exact: raw sink rows EQUAL the distinct pair set
        # (1.4M at sf0.1, was 1.77M pre-distinct) and the projection's
        # distinct is a no-op pass. If a larger corpus ever crossed the
        # cap, the operator FAIL-FASTS rather than silently dropping
        # pairs (stateful.py) — re-size the cap above the hottest
        # bucket, as this gate's correctness contract requires anyway.
        emit_once=True,
    )
    got = _run_streaming_gate(
        out, "streaming_simhash_pairs_sink", "append", sink="parquet"
    )
    return (
        got.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: per user, each event's value is
    z-scored against the 20 PRECEDING events (sample stddev, current row
    excluded — no leakage); |z| > 2.5 flags the anomaly. One shuffle on
    user_id; the running window is a single pass per partition. Ties in
    event time are ordered by event_id so the frame is deterministic."""
    ev = _events_ts(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-20, -1)
    )
    mean, std = F.avg("value").over(w), F.stddev_samp("value").over(w)
    scored = ev.select(
        "event_id",
        "user_id",
        "value",
        mean.alias("_m"),
        std.alias("_s"),
    )
    # filter on the UNROUNDED z (the oracle does the same) — rounding before
    # the threshold would drop rows with z in (2.5, 2.50005)
    return (
        scored.filter(F.col("_s") > 1e-12)
        .withColumn("_z", (F.col("value") - F.col("_m")) / F.col("_s"))
        .filter(F.abs(F.col("_z")) > 2.5)
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            F.round("_z", 4).alias("z"),
        )
    )


SQL_EVENTS_ANOMALY = """
WITH scored AS (
  SELECT event_id, user_id, value,
         avg(value) OVER w AS m,
         stddev_samp(value) OVER w AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, round(value, 4) AS value,
       round((value - m) / s, 4) AS z
FROM scored
WHERE s > 1e-12 AND abs((value - m) / s) > 2.5
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window, 30m slide) via the streaming
    module's plan run in batch mode — the same windowed_event_counts used by
    the Structured Streaming ingest path."""
    from vettore_spark.streaming.ingest import windowed_event_counts

    ev = _events_ts(spark, sf_dir)
    return windowed_event_counts(ev, window="1 hour", slide="30 minutes")


SQL_EVENTS_SLIDING_WINDOW = """
WITH e AS (
  SELECT event_type, value,
         to_timestamp(floor(epoch(ts) / 1800) * 1800) AS w0
  FROM events),
expanded AS (
  SELECT event_type, value,
         unnest([w0, w0 - INTERVAL 30 MINUTE]) AS ws
  FROM e)
SELECT event_type,
       strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM expanded
GROUP BY 1, 2
"""


# Deterministic multi-byte augmentation so the gate corpus CONTAINS UTF-8
# text (2-, 3-, and 4-byte sequences): the r13 hashed_token_features fix
# hashes UTF-8 bytes end-to-end, and this gate proves it on non-ASCII input.
# Mirrored verbatim in the oracle's src CTE (1-indexed pick by doc_id % 7).
_UTF8_SUFFIXES = [
    "café",        # 2-byte é
    "naïve",       # 2-byte ï
    "日本語テスト",  # 3-byte CJK
    "Grüße",       # 2-byte ü, ß
    "señal",       # 2-byte ñ
    "🎉emoji",     # 4-byte astral-plane
    "résumé",      # 2-byte é ×2
]


def q_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> embedding via the hashing trick, in sparse relational form.
    The polynomial UTF-8-byte token hash is reproduced exactly by the DuckDB
    oracle (codepoint -> UTF-8 byte expansion), so the whole pipeline
    (tokenize -> byte-hash -> signed sum -> L2 normalize) is cross-engine
    verified — on a corpus deterministically augmented with 2/3/4-byte
    UTF-8 tokens, exercising the r13 multi-byte path."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.element_at(
                F.array(*[F.lit(s) for s in _UTF8_SUFFIXES]),
                (F.col("doc_id") % 7 + 1).cast("int"),
            ),
        ),
    )
    return TX.hashed_token_features(docs, dim=32)


_UTF8_SUFFIX_SQL = "[" + ", ".join(f"'{s}'" for s in _UTF8_SUFFIXES) + "]"

# hashed_token_features tokenizes with pandas str.split() = Python
# str.split = the UNICODE whitespace set; RE2's \s is ASCII-only
# ([\t\n\f\r ]), so the oracle must name Python's set explicitly
# (U+0009-000D, U+001C-001F, space, NEL, NBSP, OGHAM, the U+2000 block,
# LS/PS, NNBSP, MMSP, IDEOGRAPHIC SPACE). Exhaustively verified equal
# to `str.isspace` over the whole BMP+SMP in tests/test_hardening_r14.py.
_PY_WS_CLASS = (
    r"[\t\n\x0B\x0C\r\x1C-\x1F \x{85}\x{A0}\x{1680}"
    r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"
)

# Every F.split-based tokenizer in the package splits with Java's \s =
# [ \t\n\x0B\f\r]; RE2's \s omits \x0B (vertical tab), so all oracle
# SQL in this file names Java's class LITERALLY ('[ \t\n\x0B\f\r]+',
# and the Java-\s-complement in negated classes) instead of '\s+'.
# Guarded by tests/test_hardening_r14.py::test_no_bare_re2_s_left_in_
# oracle_sql; engine equality pinned on VT/NEL/NBSP-carrying input.

# UTF-8 byte expansion of a codepoint list, arithmetically (RFC 3629):
# 1 byte < 0x80, 2 bytes < 0x800, 3 bytes < 0x10000, else 4. Verified
# byte-equal to Python str.encode("utf-8") in tests/test_hardening_r13.py.
_UTF8_BYTES_OF_TOK = r"""
flatten(list_transform(
  list_transform(string_split(tok, ''), c -> ascii(c)::BIGINT),
  cp -> CASE
    WHEN cp < 128 THEN [cp]
    WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
    WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
    ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
  END))
"""

SQL_HASHED_EMBEDDING = rf"""
WITH src AS (
  SELECT doc_id,
         concat(text, ' ', ({_UTF8_SUFFIX_SQL})[(doc_id % 7 + 1)::INT]) AS text
  FROM documents),
t AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '{_PY_WS_CLASS}')) AS tok
  FROM src),
h AS (
  SELECT doc_id,
         list_reduce({_UTF8_BYTES_OF_TOK},
                     (a, b) -> (a * 31 + b) % 2147483647) AS hv
  FROM t WHERE tok <> ''),
f AS (
  SELECT doc_id, (hv % 32)::INT AS idx,
         CASE WHEN (hv // 32) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
  FROM h),
agg AS (SELECT doc_id, idx, sum(sgn) AS v FROM f GROUP BY 1, 2)
SELECT doc_id, idx,
       round(v / sqrt(sum(v * v) OVER (PARTITION BY doc_id)), 5) AS w
FROM agg
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter + single agg — every predicate must reach
    the parquet scan (PushedFilters) and only 4 columns are read."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount"))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


SQL_TPCH_Q6 = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact ⋈ small dim + conditional aggregate. `part` is
    a dimension (2k rows at sf0.01, ~200k at TPC-H sf100) — broadcast it so
    the lineitem scan never shuffles; at 100 TB the fact side streams
    map-side only."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    # exact-DECIMAL money rail (see q_tpch_q1): both sums are order-free
    # exact decimals; the ratio is one IEEE double division in both engines
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast("decimal(18,4)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double"),
                5,
            ).alias("promo_revenue_pct")
        )
    )


SQL_TPCH_Q14_PROMO = """
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 5) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
"""


def q_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5/Q9 flavor: revenue by the supplying nation. Both dims
    (supplier 100 rows, nation 25) broadcast; the only shuffle is the final
    25-group aggregate, which partial-aggregates map-side first."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_SUPPLIER_NATION_REVENUE = """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no order over 400k, counted per market
    segment. The big-order side is tiny after its filter -> broadcast anti
    hash join, no shuffle of the customer table."""
    cust = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.join(F.broadcast(big), on="c_custkey", how="left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_CUSTOMERS_WITHOUT_BIG_ORDERS = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
GROUP BY 1
"""


def q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate: ROLLUP over (returnflag, linestatus) with the
    subtotal levels labeled 'ALL' (the comparator cannot order NULLs)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            # exact-DECIMAL money rail (see q_tpch_q1): order-free sum,
            # then one IEEE double division in both engines
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
            "avg_price",
        )
    )


SQL_LINEITEM_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation (shuffle join on
    orderkey; AQE picks broadcast when the filtered side is small)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_SHIPMODE_PRIORITY = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY 1
"""


def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders 1.5x above their customer's
    average), decorrelated into a window aggregate — one shuffle on
    custkey instead of a per-row subquery."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_big_orders"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


SQL_ORDERS_ABOVE_CUST_AVG = """
WITH a AS (
  SELECT o_custkey, o_totalprice,
         avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cavg
  FROM orders)
SELECT o_custkey, count(*) AS n_big_orders, round(max(o_totalprice), 2) AS max_price
FROM a WHERE o_totalprice > 1.5 * cavg
GROUP BY 1
"""


def _events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as an exact-micros timestamp, robust to how this Spark
    version reads parquet TIMESTAMP(NANOS): Spark 4.1+ reads it natively as
    TIMESTAMP_NTZ (micros truncation, matching DuckDB's read of the same
    file); older versions require spark.sql.legacy.parquet.nanosAsLong=true
    and surface a nanos LONG, converted here with integer division
    (`ts div 1000` — the `/ 1000` double path can be off by 1us at
    2024-epoch magnitudes, harmless for hour windows, fatal for as-of lags)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        # downstream operators use unix_micros(), which rejects NTZ; pin the
        # session zone to UTC so the cast interprets the wall-clock exactly
        # as DuckDB's epoch() does on the same file
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def q_event_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event dedup: keep the FIRST event per (user, type, 5-minute
    bucket) — the batch twin of dropDuplicatesWithinWatermark's bounded-
    horizon dedup. One window over the composite key; ties on ts break by
    event_id."""
    ev = _events_ts(spark, sf_dir)
    bucket = F.floor(
        F.unix_micros(F.col("ts")) / F.lit(300_000_000)
    ).cast("long")
    w = Window.partitionBy("user_id", "event_type", "_bkt").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("_bkt", bucket)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id", "user_id", "event_type",
            F.col("_bkt").alias("bucket"),
        )
    )


SQL_EVENT_WINDOW_DEDUP = """
WITH b AS (SELECT event_id, user_id, event_type, ts,
                  epoch_us(ts) // 300000000 AS bucket
           FROM events)
SELECT event_id, user_id, event_type, bucket
FROM b
QUALIFY row_number() OVER (PARTITION BY user_id, event_type, bucket
                           ORDER BY ts, event_id) = 1
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: members whose cosine distance to their
    label centroid exceeds the corpus-wide exact p95 — the anomaly tail of
    label_dispersion's cohesion rollup (mislabeled / drifting vectors)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _label_mean_vectors(emb)
    d = 1.0 - K.cosine("CAST(embedding AS ARRAY<DOUBLE>)", "mean")
    dist = emb.join(F.broadcast(cents), "label").select(
        "vec_id", "label", d.alias("_d")
    )
    thr = dist.agg(F.percentile("_d", F.lit(0.95)).alias("_p95"))
    return (
        dist.crossJoin(F.broadcast(thr))
        .filter(F.col("_d") > F.col("_p95"))
        .select("vec_id", "label", F.round("_d", 5).alias("dist"))
    )


SQL_EMBEDDING_OUTLIERS = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
d AS (SELECT e.vec_id, e.label,
             1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS dist
      FROM embeddings e JOIN cent c USING (label)),
thr AS (SELECT quantile_cont(dist, 0.95) AS p95 FROM d)
SELECT vec_id, label, round(dist, 5) AS dist
FROM d CROSS JOIN thr WHERE dist > p95
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events `props` JSON is parsed
    in-plan (get_json_object — no UDF) and drives both a predicate and an
    aggregate. The schema-on-read path every event pipeline needs; at
    100 TB the JSON parse is per-row codegen work and the predicate still
    prunes before the aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("_k", k)
        .filter(F.col("_k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.round(F.avg("value"), 5).alias("avg_value"),
        )
    )


SQL_EVENTS_JSON_PROPS = """
SELECT event_type, count(*)::BIGINT AS n_events,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       round(avg(value), 5) AS avg_value
FROM events
WHERE json_extract(props, '$.k')::BIGINT >= 50
GROUP BY event_type
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: document chunks are concatenated in
    (doc_id, chunk_id) order and split into ~512-token training sequences
    (contiguous packing — a chunk belongs to the sequence where its first
    token lands, so a sequence may overshoot by < chunk_tokens; the
    concat-and-split recipe data loaders use). One running-sum window over
    a total order; per-sequence rollup after."""
    from vettore_spark.operators import pipeline as PL

    chunks = PL.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )
    w = (
        Window.orderBy(F.col("doc_id").asc(), F.col("chunk_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chunk_tokens").over(w)
    seq = F.floor((cum - F.col("n_chunk_tokens")) / F.lit(512)).cast("long")
    return (
        chunks.withColumn("seq_id", seq)
        .groupBy("seq_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
        )
    )


SQL_SEQUENCE_PACKING = r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
c AS (SELECT doc_id, t, i FROM toks CROSS JOIN range(0, 4096) r(i)
      WHERE len(t) >= 1 AND i <= (len(t) - 1) // 24),
ch AS (SELECT doc_id, i AS chunk_id,
              len(list_slice(t, i*24 + 1, i*24 + 32))::BIGINT AS n
       FROM c),
s AS (SELECT doc_id, chunk_id, n,
             sum(n) OVER (ORDER BY doc_id, chunk_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM ch)
SELECT ((cum - n) // 512)::BIGINT AS seq_id,
       count(*)::BIGINT AS n_chunks,
       CAST(sum(n) AS BIGINT) AS n_tokens
FROM s GROUP BY 1
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase event picks up the most recent
    prior-or-same-ts click by the same user (union-tag + window — one shuffle,
    no range cross-join; see operators/temporal.py)."""
    from vettore_spark.operators.temporal import asof_join

    ev = _events_ts(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        left, right, key_col="user_id", ts_col="ts",
        right_cols=("ts", "value"), seq_col="event_id",
    )
    # no-prior-click rows surface as -1 sentinels (NULLs are not orderable in
    # the driver's value-hash comparator)
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.round("r_value", 4), F.lit(-1.0)).alias("click_value"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("r_ts"), F.lit(-1).cast("long")
        ).alias("lag_us"),
    )


SQL_EVENTS_ASOF_JOIN = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
SELECT p.event_id, p.user_id,
       coalesce(round(c.value, 4), -1.0) AS click_value,
       coalesce(epoch_us(p.ts) - epoch_us(c.ts), -1) AS lag_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every (purchase, click) pair by the same user within
    ±10 minutes — executed as the banded equi-join (bucket = radius-wide
    epoch bands, left exploded to 3 adjacent bands, exact |delta| filter
    after the hash join; operators/temporal.py::range_join). The oracle is
    the declarative inequality join DuckDB runs as an IEJoin."""
    from vettore_spark.operators.temporal import range_join

    ev = _events_ts(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = range_join(
        left, right, key_col="user_id", ts_col="ts", radius_s=600.0,
        right_cols=("event_id", "ts"),
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("delta_us"),
    )


SQL_EVENTS_RANGE_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts + INTERVAL 10 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: ROLLUP over the time hierarchy
    (day -> hour) x event_type in ONE pass — Spark computes all grouping
    sets from a single shuffle with partial aggregation, which at 100 TB is
    the continuous-rollup maintenance plan (day/total rows derive from the
    same exchange as the hour rows, no second scan). Subtotal levels are
    labeled 'ALL' (NULLs are not orderable in the driver comparator)."""
    ev = _events_ts(spark, sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "HH:00")
    return (
        ev.select(
            day.alias("day"), hour.alias("hour"), "event_type", "value"
        )
        .rollup("day", "hour", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("hour", F.lit("ALL")).alias("hour"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n",
            "sum_value",
        )
    )


SQL_EVENTS_TIME_ROLLUP = """
SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       coalesce(strftime(date_trunc('hour', ts), '%H:00'), 'ALL') AS hour,
       coalesce(event_type, 'ALL') AS event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts), event_type)
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) + per-session
    aggregates; one shuffle on user_id shared by the window and the groupBy."""
    from vettore_spark.operators.temporal import session_stats

    return session_stats(
        _events_ts(spark, sf_dir), key_col="user_id", ts_col="ts",
        seq_col="event_id", gap="30 minutes",
    )


SQL_USER_SESSIONS = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
s AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM e)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       round((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0, 6) AS duration_s,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY 1, 2
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money sums ride the exact-DECIMAL rail (the q5/q7/q9/q10 pattern):
    # a double sum's value depends on partition/visit order, and at
    # sf0.001 sum_charge for ('F','N') lands on a half-cent boundary, so
    # round(sum(double), 2) flipped between engines. The 2-dp inputs make
    # every product exact at <= 6 dp; casting the (identical-in-both-
    # engines) f64 product to DECIMAL recovers that exact value, decimal
    # sums are order-free, and both engines agree bit-for-bit. avg_price /
    # avg_disc take the same railed sum divided by the group count as a
    # plain IEEE double division. Oracle (SQL_TPCH_Q1) changed in lockstep.
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                    ).cast("decimal(18,6)")
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 5).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / n,
                5,
            ).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)"))
                .cast("double")
                / n,
                5,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + aggregation: revenue of urgent orders by
    customer market segment. Join strategy: dims (customer) broadcast,
    lineitem-orders shuffle-join on the key both sides are large on."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("c_mktsegment")
        .agg(
            # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


SQL_TOP_ORDERS_JOIN = """
SELECT c_mktsegment,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY c_mktsegment
"""


def q_customer_top_orders_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: top-3 orders per customer by total price,
    deterministic (price DESC, orderkey ASC) tie-break."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


SQL_CUSTOMER_TOP_ORDERS_WINDOW = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 5-way star join: revenue per region/nation through
    customer -> orders -> lineitem with all dimension tables broadcast."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


SQL_REGION_REVENUE = """
SELECT r_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 5) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 5) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 5) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# multimodal column plumbing (BASELINE.json north star; sources/multimodal.py)
# ---------------------------------------------------------------------------


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → opaque media rows: the utf-8 bytes of `text` stand in for
    an image/video payload (the real corpus would carry true binaries; the
    plumbing — binary column, byte-wise ops, Arrow batches — is identical)."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic frame sampling over binary payloads (video stand-in):
    4 evenly spaced 64-byte windows per payload, hex-encoded for a
    cross-engine value hash."""
    from vettore_spark.sources import multimodal as MM

    out = MM.frame_sample(_media(spark, sf_dir), n_frames=4, frame_bytes=64)
    return out.select(
        "media_id", "frame_idx", F.hex(F.col("frame")).alias("frame_hex")
    )


# DuckDB has no BLOB substring, so the oracle slices the VARCHAR and
# re-encodes; equivalent to Spark's byte-wise slice because the synthetic
# corpus is pure ASCII (verified: 0 rows with octet_length <> length).
SQL_MEDIA_FRAME_SAMPLE = """
SELECT doc_id AS media_id, i AS frame_idx,
       hex(encode(substring(text, (i * greatest(floor(length(text) / 4), 1) + 1)::int, 64))) AS frame_hex
FROM documents, generate_series(0, 3) AS t(i)
"""


def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode→featurize plumbing (deterministic fake decoder —
    no imaging libs in this environment): per-channel mean/std/min/max
    pooled features. The decoder expands counter-suffixed sha256 digests
    straight into pixel bytes, and every arithmetic step (integer pixel
    sums, power-of-two divisors, float32 casts) is bit-exact in f64 — so
    the DuckDB oracle recomputes the features from sha256 hex exactly."""
    from vettore_spark.sources import multimodal as MM

    out = MM.image_features(_media(spark, sf_dir), feature_dim=12)
    return out.select(
        "media_id",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 3).alias(
            "feature_sum"
        ),
    )


# Shared pixel-byte recovery for the image oracles: 6 sha256 digests of
# (text || ':' || counter) concatenated as hex -> 192 bytes -> the 8x8x3
# fake-decoded image, byte-for-byte what fake_decode_image produces
# (documents are pure ASCII, so VARCHAR sha256 == bytes sha256).
_SQL_IMAGE_BYTES = """
WITH hx AS (
  SELECT doc_id AS media_id,
         {hex_concat} AS h
  FROM documents
), b AS (
  SELECT media_id,
         list_transform(range(1, 193),
            i -> (strpos('0123456789abcdef', h[2*i-1]) - 1) * 16
               + (strpos('0123456789abcdef', h[2*i]) - 1)) AS bytes
  FROM hx
)""".format(
    hex_concat="concat(" + ", ".join(f"sha256(text || ':{k}')" for k in range(6)) + ")"
)


def _sql_media_image_features() -> str:
    # channel c values: pixels p=0..63 -> bytes[p*3 + c + 1]; mean/std are
    # exact in f64 (integer sums, /64 and /4 are power-of-two divisions),
    # float32 casts and the left-fold sum mirror Spark's array<float> +
    # aggregate() exactly.
    chan = "list_transform(range(0, 64), p -> bytes[p*3 + {c} + 1]::DOUBLE)"
    stats = []
    for kind in ("mean", "std", "min", "max"):
        for c in range(3):
            v = chan.format(c=c)
            if kind == "mean":
                e = f"list_sum({v}) / 64.0"
            elif kind == "std":
                e = (f"sqrt(list_sum(list_transform({v}, "
                     f"x -> (x - list_sum({v}) / 64.0) ^ 2)) / 64.0)")
            elif kind == "min":
                e = f"list_min({v})"
            else:
                e = f"list_max({v})"
            stats.append(f"({e})::FLOAT::DOUBLE")
    feat_list = "[" + ",\n          ".join(stats) + "]"
    return (
        _SQL_IMAGE_BYTES
        + f"""
SELECT media_id,
       round(list_reduce({feat_list}, (a, x) -> a + x), 3) AS feature_sum
FROM b
"""
    )


SQL_MEDIA_IMAGE_FEATURES = _sql_media_image_features()


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio featurization over binary payloads (8-bit PCM
    stand-in): per 64-sample frame, RMS amplitude and zero-crossing count
    at center level 96 (between lowercase letters and other ASCII, so the
    text corpus exercises real crossings). Every step is exact-integer
    arithmetic in f64, so the DuckDB oracle — which re-derives the byte
    values from the hex of the utf-8 payload — hash-matches exactly."""
    from vettore_spark.sources import multimodal as MM

    out = MM.audio_features(
        _media(spark, sf_dir), frame_bytes=64, center=96.0
    )
    return out.select(
        "media_id", "frame_idx", F.round("rms", 5).alias("rms"), "zcr"
    )


# Byte values are recovered engine-agnostically: hex() the utf-8 payload,
# then each byte = 16*hi + lo via strpos into the hex alphabet. Frames are
# list_slice windows; RMS/ZCR arithmetic is exact in f64 (integer squares,
# /64 is a power of two), so round(.,5) matches Spark bit-for-bit.
SQL_MEDIA_AUDIO_FEATURES = """
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
), s AS (
  SELECT media_id,
         list_transform(range(1, n + 1),
            i -> (strpos('0123456789ABCDEF', h[2*i-1]) - 1) * 16
               + (strpos('0123456789ABCDEF', h[2*i]) - 1)) AS bytes
  FROM b
), fr AS (
  SELECT media_id, i AS frame_idx,
         list_slice(bytes, i*64 + 1, i*64 + 64) AS f
  FROM s, LATERAL (SELECT unnest(range(0, len(bytes) // 64)) AS i) t
)
SELECT media_id, frame_idx,
       round(sqrt(list_avg(list_transform(f, x -> (x-96.0)*(x-96.0)))), 5) AS rms,
       len(list_filter(range(1, len(f)), j -> (f[j] >= 96) <> (f[j+1] >= 96))) AS zcr
FROM fr
"""


def q_media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean image resize to 4x4 thumbnails over the fake-decoded
    (sha256-byte) 8x8 images; reported as the per-image pixel sum. The
    2x2 block means are exact f64 (integer sums / 4), so the DuckDB oracle
    reproduces the float32 thumbnail bit-for-bit from the sha256 hex."""
    from vettore_spark.sources import multimodal as MM

    out = MM.image_resize(_media(spark, sf_dir), out_h=4, out_w=4)
    return out.select(
        "media_id",
        "height",
        "width",
        F.round(F.aggregate("pixels", F.lit(0.0), lambda a, x: a + x), 3).alias(
            "pixel_sum"
        ),
    )


def _sql_media_image_resize() -> str:
    # flattened (i, j, c) order, i=t//12, j=(t//3)%4, c=t%3; pixel(y, x, c)
    # = bytes[(y*8 + x)*3 + c + 1]; 2x2 block mean cast to FLOAT then summed
    # as DOUBLE left-to-right — Spark's aggregate() over array<float>.
    def px(y: str, x: str) -> str:
        return f"bytes[(({y})*8 + ({x}))*3 + t%3 + 1]"

    block = (
        f"({px('2*(t//12)', '2*((t//3)%4)')} + {px('2*(t//12)', '2*((t//3)%4)+1')} + "
        f"{px('2*(t//12)+1', '2*((t//3)%4)')} + {px('2*(t//12)+1', '2*((t//3)%4)+1')})"
        "::DOUBLE / 4.0"
    )
    return (
        _SQL_IMAGE_BYTES
        + f"""
SELECT media_id, 4 AS height, 4 AS width,
       round(list_reduce(list_transform(range(0, 48),
                 t -> (({block})::FLOAT)::DOUBLE), (a, x) -> a + x), 3) AS pixel_sum
FROM b
"""
    )


SQL_MEDIA_IMAGE_RESIZE = _sql_media_image_resize()


# ---------------------------------------------------------------------------
# data selection (DSIR importance weights, target-mixture rebalance) and
# exact-substring dedup — round-2 tail additions
# ---------------------------------------------------------------------------


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al. 2023) over hashed
    unigram features, target = English documents: every doc scored by the
    log-likelihood ratio of its 1024-bucket hashed-unigram profile under
    the target vs raw corpus distributions. Two n_buckets-row broadcast
    aggregates + one explode-side groupBy — no UDFs, no driver state; the
    poly-31 hash is reproduced bit-for-bit by the DuckDB oracle."""
    from vettore_spark.operators import selection as SEL

    docs = _t(spark, sf_dir, "documents")
    return SEL.dsir_logratio_weights(
        docs, F.col("lang") == "en", n_buckets=1024, alpha=1.0
    )


SQL_DSIR_WEIGHTS = r"""
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_transform(string_split(lower(tok), ''), x -> ascii(x)::BIGINT),
                      (a, c) -> (a * 31 + c) % 2147483647) % 1024)::INT AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
        FROM documents)
  WHERE tok <> ''),
flag AS (SELECT doc_id, lang = 'en' AS is_t FROM documents),
raw AS (
  SELECT bucket, count(*) AS nq,
         sum(CASE WHEN f.is_t THEN 1 ELSE 0 END) AS nt
  FROM b JOIN flag f USING (doc_id) GROUP BY bucket),
tot AS (SELECT sum(nq)::DOUBLE AS sq, sum(nt)::DOUBLE AS st FROM raw),
lr AS (
  SELECT bucket,
         ln((nt + 1.0) / (st + 1024.0)) - ln((nq + 1.0) / (sq + 1024.0)) AS lr
  FROM raw, tot),
tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(tf * lr), 5) AS dsir_weight,
       round(sum(tf * lr) / sum(tf), 5) AS dsir_per_token
FROM tf JOIN lr USING (bucket)
GROUP BY doc_id
"""


_MIX_SHARES: dict[str, float] = {
    "src0": 0.2,
    "src1": 0.2,
    **{f"src{i}": 0.6 / 18 for i in range(2, 20)},
}


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture rebalance summary: per-domain corpus count, the
    keep-fraction that hits the target shares without upsampling (binding
    domain keeps 1.0), and the count actually kept by the deterministic
    md5-draw sample. The fraction→hex-threshold conversion happens in-plan
    (conv base-10→16), so counts are reproducible cross-engine."""
    from vettore_spark.operators import selection as SEL

    docs = _t(spark, sf_dir, "documents")
    fr = SEL.mixture_keep_fractions(docs, _MIX_SHARES, domain_col="source")
    # fractions= reuses the aggregate above — without it the per-domain
    # count scan would run twice (once here, once inside mixture_sample)
    kept = SEL.mixture_sample(
        docs, _MIX_SHARES, id_col="doc_id", domain_col="source", salt="mix",
        fractions=fr,
    )
    n_kept = kept.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    return fr.join(n_kept, on="domain", how="left").select(
        "domain",
        "n_docs",
        F.round("keep_fraction", 5).alias("keep_fraction"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def _sql_domain_mixture() -> str:
    cases = " ".join(
        f"WHEN domain = '{d}' THEN {s!r}::DOUBLE" for d, s in _MIX_SHARES.items()
    )
    return f"""
WITH c AS (SELECT source AS domain, count(*) AS n_docs FROM documents GROUP BY 1),
sh AS (SELECT domain, n_docs, CASE {cases} ELSE 0.0::DOUBLE END AS share FROM c),
sc AS (SELECT min(n_docs / share) AS scale FROM sh WHERE share > 0),
fr AS (SELECT domain, n_docs,
              least(1.0, scale * share / n_docs) AS keep_fraction,
              CAST(round(least(1.0, scale * share / n_docs)
                  * 4294967296.0) AS BIGINT) AS tv,
              lpad(lower(to_hex(CAST(round(least(1.0, scale * share / n_docs)
                  * 4294967296.0) AS BIGINT))), 8, '0') AS th
       FROM sh, sc)
SELECT d.source AS domain, CAST(min(fr.n_docs) AS BIGINT) AS n_docs,
       round(min(keep_fraction), 5) AS keep_fraction,
       CAST(sum(CASE WHEN tv >= 4294967296
                     OR substr(md5('mix' || d.doc_id::VARCHAR), 1, 8) < th
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN fr ON d.source = fr.domain
GROUP BY 1
"""


SQL_DOMAIN_MIXTURE = _sql_domain_mixture()


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication candidates (Lee et al. 2021 suffix-array
    dedup): docs sharing 40-char runs, found via winnowing-style
    content-defined gram sampling (keep rate 1/8 on the gram md5) so shared
    runs match regardless of their offsets in each document. Inverted-index
    plan — explode + groupBy posting list + in-bucket pair emission;
    max_gram_df caps boilerplate posting lists (the O(df^2) guard)."""
    return D.substring_gram_pairs(
        _t(spark, sf_dir, "documents"),
        k=40,
        keep_below_hex="2",
        max_gram_df=50,
    )


SQL_SUBSTRING_DEDUP = r"""
WITH g AS (
  SELECT doc_id, md5(substr(text, p, 40)) AS gram
  FROM documents, unnest(generate_series(1, length(text) - 39, 1)) AS t(p)
  WHERE length(text) >= 40),
gd AS (SELECT DISTINCT doc_id, gram FROM g WHERE substr(gram, 1, 1) < '2'),
sized AS (
  SELECT gram, list_sort(list(doc_id)) AS ids
  FROM gd GROUP BY gram
  HAVING count(*) BETWEEN 2 AND 50)
SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM (
  SELECT ids[i] AS doc_a, ids[j] AS doc_b
  FROM sized, unnest(generate_series(1, len(ids))) AS ti(i),
              unnest(generate_series(1, len(ids))) AS tj(j)
  WHERE i < j) p
GROUP BY 1, 2
"""


def q_user_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature generation: per event, the trailing-1h count
    and value-sum for its user plus the gap to the previous event — the
    no-label-leakage windowed-feature shape (one shuffle on user_id serves
    all three windows)."""
    from vettore_spark.operators import temporal as TP

    return TP.trailing_user_features(_events_ts(spark, sf_dir), window_s=3600)


SQL_USER_EVENT_FEATURES = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS ts_us, value
           FROM events)
SELECT event_id, user_id, CAST(ts_us AS BIGINT) AS ts_us,
       CAST(count(*) OVER w_range AS BIGINT) AS n_1h,
       round(sum(value) OVER w_range, 4) AS sum_1h,
       CAST(COALESCE(ts_us - lag(ts_us) OVER w_row, -1) AS BIGINT) AS gap_us
FROM e
WINDOW w_range AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
       w_row AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE training: the top-20 adjacent pre-token pairs
    by global count (count desc, pair asc) — the merge-candidate table a
    corpus-trained tokenizer starts from."""
    return TX.bpe_pair_counts(_t(spark, sf_dir, "documents"), top_n=20)


SQL_BPE_PAIR_STATS = r"""
WITH t AS (SELECT regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]') AS tk
           FROM documents),
p AS (SELECT tk[i] || ' ' || tk[i+1] AS pair
      FROM t, unnest(generate_series(1, len(tk) - 1)) u(i)
      WHERE len(tk) >= 2)
SELECT pair, count(*)::BIGINT AS n
FROM p GROUP BY 1
ORDER BY n DESC, pair
LIMIT 20
"""


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic pruning (Abbas et al. 2023) with label clusters:
    within each cluster, members ranked by (rounded) centroid similarity;
    a member is pruned when its cosine to a better-ranked member is >=
    0.3. Output marks every vector kept/pruned — at sf0.01 this prunes
    ~21% of the corpus. Pairwise pass is cluster-local (self-join on the
    cluster key); centroids broadcast."""
    from vettore_spark.operators import selection as SEL

    emb = _t(spark, sf_dir, "embeddings")
    return SEL.semdedup_prune(
        emb, _label_mean_vectors(emb), threshold=0.3
    )


SQL_SEMDEDUP_PRUNE = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
sc AS (SELECT e.vec_id, e.label, e.embedding,
              round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 5) AS cos_centroid
       FROM embeddings e JOIN cent c USING (label)),
rk AS (SELECT vec_id, label, embedding, cos_centroid,
              row_number() OVER (PARTITION BY label ORDER BY cos_centroid DESC, vec_id) AS rk
       FROM sc),
pr AS (SELECT DISTINCT b.vec_id
       FROM rk a JOIN rk b ON a.label = b.label AND a.rk < b.rk
       WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3)
SELECT s.vec_id, s.label, s.cos_centroid,
       s.vec_id NOT IN (SELECT vec_id FROM pr) AS kept
FROM sc s
"""


def q_text_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference stage over Arrow batches (mapInPandas): texts ->
    L2-normalized embeddings via the pluggable encoder (deterministic
    sha256-byte fake here, sentence-transformers via load_real_encoder
    where available — the reference's env-gated fastembed integration,
    test/ex_fastembed_integration_test.exs:9-60). Exploded to (doc_id, i,
    w) so the DuckDB oracle verifies every float."""
    from vettore_spark.encodings import encoders as EN

    out = EN.encode_texts(_t(spark, sf_dir, "documents"), dim=16)
    return out.select(
        "doc_id", F.posexplode("embedding").alias("i", "w")
    ).select(
        F.col("doc_id"),
        (F.col("i") + 1).cast("long").alias("i"),
        F.round("w", 5).alias("w"),
    )


SQL_TEXT_EMBED = """
WITH hx AS (SELECT doc_id, sha256(text || ':0') AS h FROM documents),
b AS (SELECT doc_id,
             list_transform(range(1, 17),
                i -> ((strpos('0123456789abcdef', h[2*i-1]) - 1) * 16
                    + (strpos('0123456789abcdef', h[2*i]) - 1))::DOUBLE) AS bytes
      FROM hx),
v AS (SELECT doc_id, list_transform(bytes, x -> (x - 127.5) / 127.5) AS e FROM b),
n AS (SELECT doc_id, e,
             sqrt(list_reduce(list_transform(e, x -> x * x), (a, x2) -> a + x2)) AS nm
      FROM v)
SELECT doc_id, CAST(i AS BIGINT) AS i, round(e[i] / nm, 5) AS w
FROM n, unnest(generate_series(1, 16)) t(i)
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end data-curation composition: DSIR importance filter
    (per-token log-ratio above a fixed threshold) → target-mixture domain
    rebalance over the survivors → per-domain summary. Every stage is an
    independently-oracled scale-safe block (broadcast model, broadcast
    fraction table, md5-draw filter); the oracle recomputes the whole
    chain in one SQL."""
    from vettore_spark.operators import selection as SEL
    from vettore_spark.plans.cache import cached_persist

    docs = _t(spark, sf_dir, "documents")
    # the DSIR-filtered survivor set feeds THREE consumers (domain counts,
    # the scale aggregate, the final sampled join) — persist it once or the
    # whole weight model re-derives per consumer
    kept0 = cached_persist(
        docs,
        ("curation_kept0", -0.045),
        lambda s: s.join(
            SEL.dsir_logratio_weights(s, F.col("lang") == "en", n_buckets=1024)
            .filter(F.col("dsir_per_token") > -0.045)
            .select("doc_id"),
            "doc_id",
        ),
    )
    kept = SEL.mixture_sample(
        kept0, _MIX_SHARES, id_col="doc_id", domain_col="source", salt="cur"
    )
    return kept.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    )


def _sql_curation_pipeline() -> str:
    cases = " ".join(
        f"WHEN domain = '{d}' THEN {s!r}::DOUBLE" for d, s in _MIX_SHARES.items()
    )
    return r"""
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_transform(string_split(lower(tok), ''), x -> ascii(x)::BIGINT),
                      (a, c) -> (a * 31 + c) % 2147483647) % 1024)::INT AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok FROM documents)
  WHERE tok <> ''),
flag AS (SELECT doc_id, lang = 'en' AS is_t FROM documents),
raw AS (SELECT bucket, count(*) AS nq, sum(CASE WHEN f.is_t THEN 1 ELSE 0 END) AS nt
        FROM b JOIN flag f USING (doc_id) GROUP BY bucket),
tot AS (SELECT sum(nq)::DOUBLE AS sq, sum(nt)::DOUBLE AS st FROM raw),
lr AS (SELECT bucket, ln((nt + 1.0) / (st + 1024.0)) - ln((nq + 1.0) / (sq + 1024.0)) AS lr FROM raw, tot),
tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2),
w AS (SELECT doc_id, round(sum(tf * lr) / sum(tf), 5) AS wpt FROM tf JOIN lr USING (bucket) GROUP BY doc_id),
kept0 AS (SELECT d.* FROM documents d JOIN w USING (doc_id) WHERE w.wpt > -0.045),
c AS (SELECT source AS domain, count(*) AS n_docs FROM kept0 GROUP BY 1),
sh AS (SELECT domain, n_docs, CASE {cases} ELSE 0.0::DOUBLE END AS share FROM c),
sc AS (SELECT coalesce(min(n_docs / share), 0.0) AS scale FROM sh WHERE share > 0),
fr AS (SELECT domain, least(1.0, scale * share / n_docs) AS kf,
              CAST(round(least(1.0, scale * share / n_docs)
                  * 4294967296.0) AS BIGINT) AS tv,
              lpad(lower(to_hex(CAST(round(least(1.0, scale * share / n_docs)
                  * 4294967296.0) AS BIGINT))), 8, '0') AS th
       FROM sh, sc)
SELECT k.source AS domain, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(k.doc_id) AS BIGINT) AS sum_doc_id
FROM kept0 k JOIN fr ON k.source = fr.domain
WHERE fr.tv >= 4294967296 OR substr(md5('cur' || k.doc_id::VARCHAR), 1, 8) < fr.th
GROUP BY 1
""".replace("{cases}", cases)


SQL_CURATION_PIPELINE = _sql_curation_pipeline()


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained selection: DSIR-score every doc, walk in
    (weight desc, id) order, keep while the running token total fits a
    10k-token budget. Two-level cumulative sum — the only ordered window
    runs over the tiny distinct-weight aggregate, never the corpus."""
    from vettore_spark.operators import selection as SEL

    docs = _t(spark, sf_dir, "documents")
    w = SEL.dsir_logratio_weights(docs, F.col("lang") == "en", n_buckets=1024)
    return SEL.select_token_budget(
        w.select("doc_id", "n_tokens", "dsir_per_token"), 10_000,
    ).select("doc_id", "n_tokens", "dsir_per_token", "selected")


SQL_TOKEN_BUDGET_SELECT = r"""
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_transform(string_split(lower(tok), ''), x -> ascii(x)::BIGINT),
                      (a, c) -> (a * 31 + c) % 2147483647) % 1024)::INT AS bucket
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok FROM documents)
  WHERE tok <> ''),
flag AS (SELECT doc_id, lang = 'en' AS is_t FROM documents),
raw AS (SELECT bucket, count(*) AS nq, sum(CASE WHEN f.is_t THEN 1 ELSE 0 END) AS nt
        FROM b JOIN flag f USING (doc_id) GROUP BY bucket),
tot AS (SELECT sum(nq)::DOUBLE AS sq, sum(nt)::DOUBLE AS st FROM raw),
lr AS (SELECT bucket, ln((nt + 1.0) / (st + 1024.0)) - ln((nq + 1.0) / (sq + 1024.0)) AS lr FROM raw, tot),
tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY 1, 2),
w AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             round(sum(tf * lr) / sum(tf), 5) AS dsir_per_token
      FROM tf JOIN lr USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_tokens, dsir_per_token,
       sum(n_tokens) OVER (ORDER BY dsir_per_token DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= 10000 AS selected
FROM w
"""


def q_calibrated_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain calibrated quality: the composite quality score z-scored
    WITHIN each source domain (a raw global threshold systematically
    drops whole domains whose style differs; calibration compares each doc
    to its domain's distribution). One tiny per-domain moment aggregate,
    broadcast back — no window over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    q = TX.quality_score(docs).join(docs.select("doc_id", "source"), "doc_id")
    stats = q.groupBy("source").agg(
        F.avg("quality").alias("_m"),
        F.stddev_samp("quality").alias("_s"),
    )
    z = (F.col("quality") - F.col("_m")) / F.col("_s")
    return q.join(F.broadcast(stats), "source").select(
        "doc_id",
        "source",
        "quality",
        F.round(z, 4).alias("z_quality"),
        (z > -1.0).alias("keep"),
    )


SQL_CALIBRATED_QUALITY = (
    "WITH qs AS (" + SQL_QUALITY_SCORE + """)
, j AS (SELECT qs.doc_id, d.source, qs.quality
        FROM qs JOIN documents d USING (doc_id)),
st AS (SELECT source, avg(quality) AS m, stddev_samp(quality) AS s
       FROM j GROUP BY source)
SELECT j.doc_id, j.source, j.quality,
       round((j.quality - st.m) / st.s, 4) AS z_quality,
       (j.quality - st.m) / st.s > -1.0 AS keep
FROM j JOIN st USING (source)
"""
)


def q_media_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup: 16-bit average-hash fingerprints
    (block-mean 4x4 resize → grayscale → bit per block vs image mean) and
    near-dup pairs at Hamming <= 1 via nibble pigeonhole blocking —
    blocking is EXACT at this radius (<=1 flip touches <=1 of 4 nibbles),
    so the all-pairs oracle returns the identical set."""
    from vettore_spark.sources import multimodal as MM

    h = MM.image_ahash(_media(spark, sf_dir))
    return MM.ahash_pairs(h, max_hamming=1)


def _sql_media_ahash_pairs() -> str:
    def px(y: str, x: str, c: int) -> str:
        return f"bytes[(({y})*8 + ({x}))*3 + {c} + 1]"

    def blk(t: str, c: int) -> str:
        y = f"2*(({t})//4)"
        x = f"2*(({t})%4)"
        return (
            "((" + px(y, x, c) + " + " + px(y, x + "+1", c) + " + "
            + px(y + "+1", x, c) + " + " + px(y + "+1", x + "+1", c)
            + ")::DOUBLE / 4.0)::FLOAT::DOUBLE"
        )

    grays = ", ".join(
        f"({blk(str(t), 0)} + {blk(str(t), 1)} + {blk(str(t), 2)}) / 3.0"
        for t in range(16)
    )
    return (
        _SQL_IMAGE_BYTES
        + f""",
gr AS (SELECT media_id, [{grays}] AS g FROM b),
hs AS (SELECT media_id, g, list_reduce(g, (a, x) -> a + x) / 16.0 AS m FROM gr),
ah AS (SELECT media_id, list_reduce(list_transform(range(1, 17),
         i -> CASE WHEN g[i] > m THEN (1 << (i - 1))::BIGINT ELSE 0::BIGINT END),
         (a, x) -> a + x) AS ahash FROM hs)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM ah a JOIN ah b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 1
"""
    )


SQL_MEDIA_AHASH_PAIRS = _sql_media_ahash_pairs()


def q_rerank_model_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder reranking stage (retrieve-then-rerank second hop):
    every (query, candidate) pair scored by the pluggable pair-scorer over
    Arrow batches — deterministic sha256 fake here, a real cross-encoder
    via score_fn in production — top-5 per query by (score desc, id).
    The model only ever sees the bounded candidate set."""
    from vettore_spark.encodings import encoders as EN

    qdf = spark.createDataFrame(
        [(0, "spark join window"), (1, "table scan merge"),
         (2, "stream batch sort")],
        "query_id long, query_text string",
    )
    cand = qdf.crossJoin(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    return EN.rerank_with_model(cand, k=5)


SQL_RERANK_MODEL = """
WITH q AS (SELECT * FROM (VALUES (0, 'spark join window'), (1, 'table scan merge'),
                                 (2, 'stream batch sort')) AS t(query_id, query_text)),
cand AS (SELECT q.query_id, q.query_text, d.doc_id, d.text
         FROM q, documents d WHERE d.doc_id < 40),
sc AS (SELECT query_id, doc_id,
              round(list_reduce(list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef', sha256(query_text || chr(31) || text)[i]) - 1)::BIGINT),
                  (a, x) -> a * 16 + x) / 4294967296.0, 6) AS model_score
       FROM cand),
rk AS (SELECT query_id, doc_id, model_score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY model_score DESC, doc_id) AS rank
       FROM sc)
SELECT query_id, doc_id, model_score, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""


def q_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full retrieve-then-rerank pipeline: batched BM25 candidates (top-20
    per query via the inverted-index join) re-scored by the cross-encoder
    stage (sha256 fake; real model via score_fn), top-5 per query. The
    expensive model sees 20 candidates per query — never the corpus — the
    production RAG shape end to end, with one composed oracle."""
    from vettore_spark.encodings import encoders as EN
    from vettore_spark.operators import retrieval as RT

    docs = _t(spark, sf_dir, "documents")
    queries_df = spark.createDataFrame(
        _BM25_BATCH, ["query_id", "terms"]
    ).withColumn("query_text", F.array_join("terms", " "))
    cand = (
        RT.bm25_batch_topk(docs, queries_df, k=20, k1=_BM25_K1, b=_BM25_B)
        .select("query_id", "doc_id")
        .join(F.broadcast(queries_df.select("query_id", "query_text")), "query_id")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    return EN.rerank_with_model(cand, k=5)


def _sql_retrieval_pipeline() -> str:
    bb = _sql_bm25_batch().replace("QUALIFY rank <= 10", "QUALIFY rank <= 20")
    qt = ", ".join(
        f"({qid}, '{' '.join(terms)}')" for qid, terms in _BM25_BATCH
    )
    return f"""
WITH bb AS ({bb}),
qt(query_id, query_text) AS (VALUES {qt}),
sc AS (SELECT bb.query_id, bb.doc_id,
              round(list_reduce(list_transform(range(1, 9),
                  i -> (strpos('0123456789abcdef',
                        sha256(qt.query_text || chr(31) || d.text)[i]) - 1)::BIGINT),
                  (a, x) -> a * 16 + x) / 4294967296.0, 6) AS model_score
       FROM bb JOIN qt ON bb.query_id = qt.query_id
               JOIN documents d ON bb.doc_id = d.doc_id),
rk AS (SELECT query_id, doc_id, model_score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY model_score DESC, doc_id) AS rank
       FROM sc)
SELECT query_id, doc_id, model_score, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""


SQL_RETRIEVAL_PIPELINE = _sql_retrieval_pipeline()


def q_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MLM-objective preparation: ~15% of tokens masked by a
    position-keyed md5 draw (reproducible across engines/retries — the
    draw IS the RNG), emitting the (input_text, target_text) prediction
    pair per document. One narrow pass, no shuffle, no UDF."""
    return TX.mlm_mask_tokens(_t(spark, sf_dir, "documents"), mask_rate=0.15)


def _sql_mlm_masking() -> str:
    th = format(int(round(0.15 * 16**8)), "08x")
    return rf"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS tk FROM documents),
z AS (SELECT doc_id, i, tk[i] AS tok,
             substr(md5('mlm:' || doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8) < '{th}' AS m
      FROM t, unnest(generate_series(1, len(tk))) u(i))
SELECT doc_id,
       string_agg(CASE WHEN m THEN '<mask>' ELSE tok END, ' ' ORDER BY i) AS input_text,
       coalesce(string_agg(CASE WHEN m THEN tok END, ' ' ORDER BY i), '') AS target_text,
       CAST(count(CASE WHEN m THEN 1 END) AS BIGINT) AS n_masked
FROM z GROUP BY doc_id
"""


SQL_MLM_MASKING = _sql_mlm_masking()


def q_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining (CCMatrix-style): cross-LANGUAGE embedding near-dup
    pairs — candidate translation pairs are exactly the high-cosine pairs
    whose documents carry different language tags. Reuses the block-grid
    exact GEMM (no driver collect); at corpus scale the first stage swaps
    to the LSH/IVF-blocked variant like every other near-dup mine."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = ANN.cosine_neardup_blocked(
        emb, threshold=0.4, id_col="vec_id", vector_col="embedding"
    )
    la = langs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"))
    lb = langs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "lang_a", "lang_b", F.round("sim", 5).alias("sim"))
    )


SQL_BITEXT_MINING = """
WITH n AS (
  SELECT e.vec_id, d.lang,
         list_transform(e.embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lang AS lang_a, b.lang AS lang_b,
       round(list_dot_product(a.v, b.v), 5) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE a.lang <> b.lang AND list_dot_product(a.v, b.v) >= 0.4
"""


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (the mT5 sampling rule,
    T=2): target shares ∝ count^(1/2), flattening the natural language
    distribution toward uniform so low-resource languages are upweighted.
    Shares and keep fractions are computed in-plan from observed counts —
    two tiny aggregates, broadcast back."""
    from vettore_spark.operators import selection as SEL

    out = SEL.temperature_fractions(
        _t(spark, sf_dir, "documents"), domain_col="lang", temperature=2.0
    )
    return out.select(
        "domain",
        "n_docs",
        "share",
        F.round("keep_fraction", 5).alias("keep_fraction"),
    )


SQL_TEMPERATURE_MIXTURE = """
WITH c AS (SELECT lang AS domain, count(*) AS n_docs FROM documents GROUP BY 1),
zt AS (SELECT sum(pow(n_docs::DOUBLE, 0.5)) AS z FROM c),
sh AS (SELECT domain, n_docs, pow(n_docs::DOUBLE, 0.5) / z AS share FROM c, zt),
sc AS (SELECT min(n_docs / share) AS scale FROM sh)
SELECT domain, CAST(n_docs AS BIGINT) AS n_docs, round(share, 5) AS share,
       round(least(1.0, scale * share / n_docs), 5) AS keep_fraction
FROM sh, sc
"""


def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n corpus diversity per language (the text-generation
    diversity metric): unique/total ratio for 1/2/3-grams — low distinct-n
    flags repetitive or duplicated corpus slices before training."""
    return TX.distinct_ngram_diversity(
        _t(spark, sf_dir, "documents"), group_col="lang", max_n=3
    )


SQL_CORPUS_DIVERSITY = r"""
WITH toks AS (SELECT lang, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
uni AS (SELECT lang, u.tok AS g, 1 AS n FROM toks, unnest(t) u(tok)),
bi AS (SELECT lang, t[i] || ' ' || t[i+1] AS g, 2 AS n
       FROM toks, unnest(generate_series(1, len(t) - 1)) u(i) WHERE len(t) >= 2),
tri AS (SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g, 3 AS n
        FROM toks, unnest(generate_series(1, len(t) - 2)) u(i) WHERE len(t) >= 3),
allg AS (SELECT * FROM uni UNION ALL SELECT * FROM bi UNION ALL SELECT * FROM tri)
SELECT lang, n::INT AS n, CAST(count(*) AS BIGINT) AS total,
       CAST(count(DISTINCT g) AS BIGINT) AS uniq,
       round(count(DISTINCT g)::DOUBLE / count(*), 5) AS distinct_ratio
FROM allg GROUP BY 1, 2
"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup effectiveness report: the cluster-size histogram after
    near-dup clustering plus the removal rate each size class implies
    (drop all but one per cluster) — the summary a corpus owner reads
    before committing a dedup pass. Composed from the independently-
    oracled clustering block; the histogram aggregate is tiny."""
    pairs = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_perm=64, bands=16, threshold=0.8
    )
    clusters = D.neardup_clusters(pairs, id_out="doc_id")
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "cluster_size",
            "n_docs",
            (F.col("n_docs") / F.col("cluster_size")).cast("long").alias("n_clusters"),
            (F.col("n_docs") - F.col("n_docs") / F.col("cluster_size"))
            .cast("long")
            .alias("n_removable"),
        )
    )


SQL_DEDUP_REPORT = (
    "WITH RECURSIVE"
    + _sql_cc_block("documents", 0.8)
    + """
, sz AS (SELECT component, count(*) AS cluster_size FROM assign GROUP BY component)
SELECT cluster_size, CAST(sum(cluster_size) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable
FROM sz GROUP BY cluster_size
"""
)


# ---------------------------------------------------------------------------
# round-3 additions: paragraph-level dedup, incremental cross-corpus dedup,
# text normalization, and two more TPC-H shapes (Q3 top-k join-agg, Q19
# disjunctive band filter)
# ---------------------------------------------------------------------------


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-level exact dedup (Lee et al. 2021): 20-token windows, keep the
    globally-first occurrence of each distinct window, reassemble docs."""
    return D.paragraph_dedup(_t(spark, sf_dir, "documents"), window=20)


SQL_PARAGRAPH_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
units AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS cid,
         array_to_string(t[(CAST(u.i AS INTEGER) * 20 + 1):(CAST(u.i AS INTEGER) * 20 + 20)], ' ') AS chunk
  FROM toks,
       UNNEST(range(0, GREATEST(1, CAST(ceil(len(t) / 20.0) AS BIGINT)))) AS u(i)
),
marked AS (
  SELECT doc_id, cid, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, cid) AS rn
  FROM units
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cid), '') AS text,
       count(*) AS n_units,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM marked
GROUP BY doc_id
"""


def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new batch (source != src0) against the
    already-ingested corpus (source == src0): one digest anti-join."""
    docs = _t(spark, sf_dir, "documents")
    out = D.dedup_against(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )
    return out.select("doc_id", "source")


SQL_CROSS_CORPUS_DEDUP = """
SELECT d.doc_id, d.source
FROM documents d
WHERE d.source <> 'src0'
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.source = 'src0' AND md5(c.text) = md5(d.text)
  )
"""


def q_minhash_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup of the new batch (source != src0) against the
    ingested corpus (src0) — LSH band-bucket candidates verified by exact
    Jaccard. At 64 perms / 16 bands x 4, recall on >= 0.8-Jaccard pairs is
    ~1 - 2e-3 (and ~1 - 2e-7 on the planted >= 0.89 dups), so the verified
    output equals the exact cross-source pair set: the oracle is the exact
    cross-source Jaccard SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = D.minhash_dedup_against(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold=0.8,
    )
    return _round(out, {"jac": 5})


SQL_MINHASH_DEDUP_AGAINST = r"""
WITH toks AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, source,
              unnest(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
       FROM toks WHERE len(t) >= 3),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS nid, b.doc_id AS cid, count(*) AS i
          FROM sh a JOIN sh b USING (s)
          WHERE a.source <> 'src0' AND b.source = 'src0'
          GROUP BY 1, 2)
SELECT nid AS doc_id, cid AS corpus_id,
       round(i * 1.0 / (sa.n + sb.n - i), 5) AS jac
FROM inter
JOIN sizes sa ON sa.doc_id = nid
JOIN sizes sb ON sb.doc_id = cid
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.normalize_text(_t(spark, sf_dir, "documents"))


SQL_TEXT_NORMALIZE = r"""
WITH norm AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'),
                             ' {2,}', ' ', 'g')) AS _n
  FROM documents
)
SELECT doc_id, _n AS text,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(_n) AS BIGINT) AS n_chars_after,
       _n <> text AS changed
FROM norm
"""


def q_embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale APPROXIMATE embedding near-dup path: multi-band
    sign-prefix blocking (8 bits x 2 rotated bands — deterministic, so the
    oracle reproduces the exact same blocking), capped block population
    (`max_block_size` — can't bind at sf0.01 where max block << cap, so
    the oracle needn't model it), exact-cosine verify inside blocks only.
    2^8 = 256 blocks per band bounds the quadratic term; each extra band
    multiplies away misses exactly as MinHash banding does. Recall vs the
    exact all-pairs set at each (n_bits, n_bands) is tabulated in SCALE.md
    (synthetic embeddings are near-orthogonal, so sign-agreement recall at
    threshold 0.35 is the floor; real 0.9+ near-dups agree on nearly all
    signs). Complements `embedding_neardup` (exact block-grid GEMM) as the
    100 TB path."""
    emb = _t(spark, sf_dir, "embeddings")
    out = D.embedding_neardup_banded(
        emb, id_col="vec_id", vector_col="embedding",
        n_bits=8, n_bands=4, threshold=0.35, max_block_size=10_000,
    )
    return _round(out, {"sim": 5})


def _sql_sign_key(first_dim: int, n_bits: int) -> str:
    """CASE-sum sign-prefix key over dims [first_dim, first_dim+n_bits),
    1-indexed — textual twin of the banded blocking in
    dedup.embedding_neardup_banded."""
    return "\n       + ".join(
        f"(CASE WHEN embedding[{first_dim + i}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )


SQL_EMBEDDING_NEARDUP_BLOCKED = f"""
WITH n AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v,
         {_sql_sign_key(1, 8)} AS k0,
         {_sql_sign_key(9, 8)} AS k1,
         {_sql_sign_key(17, 8)} AS k2,
         {_sql_sign_key(25, 8)} AS k3
  FROM embeddings),
b AS (
  SELECT vec_id, v, 0 AS band, k0 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 1 AS band, k1 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 2 AS band, k2 AS key FROM n
  UNION ALL
  SELECT vec_id, v, 3 AS band, k3 AS key FROM n),
-- mirror of max_block_size=10000: over-populated blocks are dropped by
-- both engines before the quadratic stage (recall degrades identically
-- at scale instead of failing the gate as a row-count mismatch)
bpop AS (SELECT band, key FROM b GROUP BY band, key HAVING count(*) <= 10000)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       round(max(list_dot_product(a.v, b2.v)), 5) AS sim
FROM b a
JOIN bpop p ON a.band = p.band AND a.key = p.key
JOIN b b2 ON a.band = b2.band AND a.key = b2.key
WHERE a.vec_id < b2.vec_id AND list_dot_product(a.v, b2.v) >= 0.35
GROUP BY 1, 2
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: the reduced lineitem has no
    commit/receipt dates, so the EXISTS predicate is a big-line test):
    orders in a date window counted per priority when at least one
    lineitem has quantity >= 45 — an EXISTS that must compile to a
    LEFT-SEMI join (one probe per order, no row multiplication from
    multi-line orders)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    big = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(big, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_paragraph_dedup_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeat removal (scope='doc'): the Gopher-style
    cleanup that drops a unit only when the SAME document already said it;
    cross-document repeats survive."""
    return D.paragraph_dedup(
        _t(spark, sf_dir, "documents"), window=20, scope="doc"
    )


SQL_PARAGRAPH_DEDUP_DOC = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
units AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS cid,
         array_to_string(t[(CAST(u.i AS INTEGER) * 20 + 1):(CAST(u.i AS INTEGER) * 20 + 20)], ' ') AS chunk
  FROM toks,
       UNNEST(range(0, GREATEST(1, CAST(ceil(len(t) / 20.0) AS BIGINT)))) AS u(i)
),
marked AS (
  SELECT doc_id, cid, chunk,
         row_number() OVER (PARTITION BY doc_id, md5(chunk) ORDER BY cid) AS rn
  FROM units
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cid), '') AS text,
       count(*) AS n_units,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM marked
GROUP BY doc_id
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over a quarter —
    fact filter + two joins (orders fact-fact, customer dim broadcast) +
    grouped agg + global top-20 via TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            # per-row product quantized to DECIMAL(18,4) before the sum:
            # the f64 product is bit-identical in any engine, but a
            # floating SUM depends on partition order — one customer here
            # lands on a round(.,2) boundary. The decimal sum is exact and
            # order-independent; cast back to double at the end.
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): a grouped HAVING over the
    fact table produces a SMALL key set that then drives semi-join
    hydration of orders+customer — the aggregate-then-rejoin pattern where
    the big table is scanned once and the rejoin carries only qualifying
    keys."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, round(sum_qty, 2) AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big, orders, customer
WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-type event rollup via the two-phase salted aggregate
    (plans/skew.py): event_type is a low-cardinality hot key (a handful of
    values over the whole stream — the textbook skewed groupBy), so phase 1
    pre-aggregates per (type, salt) across all partitions and phase 2
    merges 16 rows per type. Results are EXACTLY the plain groupBy's
    (sum/count/max are re-aggregatable), which is what the oracle checks."""
    from vettore_spark.plans.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        # per-row decimal quantization: the salted two-phase sum adds in a
        # different order than any single-phase engine, so a floating sum
        # could land on the other side of round(.,2); decimal sums are
        # exact and order-free (the tpch_q10 trap)
        "value", F.col("value").cast("decimal(18,6)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"value": "sum", "event_id": "count", "user_id": "max"},
        salt_col="event_id",
    )
    return out.select(
        "event_type",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
        F.col("count_event_id").cast("long").alias("n_events"),
        F.col("max_user_id").cast("long").alias("max_user"),
    )


SQL_SALTED_EVENT_ROLLUP = """
SELECT event_type,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
       count(event_id) AS n_events,
       max(user_id) AS max_user
FROM events
GROUP BY event_type
"""


def q_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact x dimension join via `salt_join` (plans/skew.py — the
    second skew primitive): events is the big side, a per-user weight
    dimension the small-but-not-broadcastable side, and a hot user (a bot
    account at 100 TB) would pin the whole join key to one reducer. The
    replicate-salt join spreads each key over n_salt partitions; results
    are EXACTLY the plain join's (each big row matches the one replica
    carrying its salt), which is what the oracle checks — decimal sums so
    the salted addition order cannot move a round boundary."""
    from vettore_spark.plans.skew import salt_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    dim = (
        ev.select("user_id").distinct()
        .withColumn("weight", (F.col("user_id") % 7).cast("long"))
    )
    joined = salt_join(ev, dim, "user_id", salt_col="event_id", n_salt=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("weight").cast("long").alias("sum_weight"),
            F.round(F.sum("value"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


SQL_SALTED_USER_JOIN = """
WITH dim AS (
  SELECT DISTINCT user_id, CAST(user_id % 7 AS BIGINT) AS weight FROM events
)
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(d.weight) AS BIGINT) AS sum_weight,
       CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY e.event_type
ORDER BY e.event_type
"""


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style badwords filter over the synthetic vocab: docs with any
    'slow' or 'merge' token fail at max_fraction=0.01."""
    return TX.blocklist_filter(
        _t(spark, sf_dir, "documents"), ["slow", "merge"], max_fraction=0.01
    )


SQL_BLOCKLIST_FILTER = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t FROM documents
),
cnt AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, x -> lower(x) IN ('merge', 'slow'))) AS BIGINT) AS n_blocked
  FROM toks
)
SELECT doc_id, n_tokens, n_blocked,
       round(n_blocked * 1.0 / n_tokens, 5) AS blocked_fraction,
       round(n_blocked * 1.0 / n_tokens, 5) <= 0.01 AS passed
FROM cnt
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (adapted to the reduced schema: o_orderpriority for
    the missing o_shippriority): fact-fact join + broadcast dim filter +
    grouped agg + global top-10 — orderBy+limit compiles to
    TakeOrderedAndProject over the aggregate, never a full sort."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted bands over the reduced part schema):
    disjunction of (brand, size-band, quantity-band) conjuncts across a
    broadcast dim join — Catalyst extracts the common join key so the
    lineitem side streams map-only through one broadcast hash join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    # exact-DECIMAL money rail (order-free sum; see q_tpch_q1)
    return j.filter(band).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q19 = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND ((p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue): the 6-way star join —
    lineitem fact, orders fact-fact on orderkey, customer/supplier/nation/
    region dims broadcast, with the c_nationkey = s_nationkey "local"
    predicate applied as a post-join filter. The region filter prunes the
    nation dim BEFORE broadcast, so the fact scan is filtered by the
    smallest possible build side."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations): the same
    dimension table joined TWICE under different roles (supplier nation vs
    customer nation) — the self-role-join Catalyst must plan as two
    independent broadcasts, with the symmetric pair predicate applied
    after both."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("_n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem, orders, customer, supplier, nation n1, nation n2
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND l_suppkey = s_suppkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year, adapted:
    the reduced schema has no partsupp, so profit is the discounted
    revenue): a LIKE-filtered part dim prunes the fact early, then
    supplier->nation hydrates the group key — the filter-on-smallest-dim-
    first join ordering Catalyst should pick with broadcast hints."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


SQL_TPCH_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
FROM lineitem, part, supplier, orders, nation
WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%bolt%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery (per-part average quantity) decorrelated into a
    pre-aggregate + equi-join — the fact table is scanned twice but never
    per-row re-executed. The threshold predicate `qty < 0.2 * avg` is
    multiplied out to `5 * qty * n < sum` in EXACT decimal arithmetic so
    no float-division tie can flip a borderline row between engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qsum"),
        F.count("*").alias("_qn"),
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("_pk"))
        .filter(
            F.lit(5) * F.col("l_quantity").cast("decimal(18,6)") * F.col("_qn")
            < F.col("_qsum")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


SQL_TPCH_Q17 = """
WITH pa AS (
  SELECT l_partkey AS _pk,
         sum(CAST(l_quantity AS DECIMAL(18,6))) AS _qsum,
         count(*) AS _qn
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM lineitem, part, pa
WHERE p_partkey = l_partkey AND _pk = l_partkey
  AND p_brand = 'Brand#1'
  AND 5 * CAST(l_quantity AS DECIMAL(18,6)) * _qn < _qsum
"""


def q_tpch_q17_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 with the Bloom runtime join filter (plans/bloom.py) applied
    where it pays: the brand predicate keeps ~1/25 of parts, so a 2^16-bit
    / 3-hash bitmap of the surviving p_partkeys — one tiny aggregate,
    <=1024 words as plan literals — prunes the lineitem scan with
    map-side codegen arithmetic BEFORE the per-part quantity aggregate
    and the join. Because the bloom is keyed on the join key, every
    surviving partkey keeps ALL its lineitems (per-part averages stay
    exact) and false positives are discarded by the real equi-join, so
    the result is BIT-IDENTICAL to plain Q17 — the oracle is Q17's SQL
    verbatim, which makes the gate a hard proof of the superset
    contract on a query that exists. Measured at sf0.1: the probe keeps
    ~4.1% of fact rows (SCALE.md bloom section), shrinking the heavy
    aggregate's input ~24x. This is the declarative, pinnable version
    of Spark's own injected runtime bloom filter."""
    from vettore_spark.plans import bloom as B

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    words = B.bloom_words(
        B.bloom_build(part, "p_partkey", m_bits=1 << 16, k_hashes=3),
        m_bits=1 << 16,
    )
    lif = li.filter(B.bloom_might_contain("l_partkey", words, k_hashes=3))
    per_part = lif.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qsum"),
        F.count("*").alias("_qn"),
    )
    return (
        lif.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("_pk"))
        .filter(
            F.lit(5) * F.col("l_quantity").cast("decimal(18,6)") * F.col("_qn")
            < F.col("_qsum")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


# identical result by construction: the bloom is a key-level superset
# filter and the real join discards its false positives
SQL_TPCH_Q17_BLOOM = SQL_TPCH_Q17


# One store-attached collection per (appId, sf_dir): the build (attach ->
# ingest -> delete -> compact -> re-insert) runs once and every
# invocation searches the SAME parquet-backed canonical table — the
# long-lived-collection usage pattern API.md documents.
_STORE_GATE_CACHE: dict = {}


def q_store_attached_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k THROUGH a parquet-backed canonical store — the gated
    proof of the Collection.attach_store read path (sources/store.py
    ParquetStore; the documented default for long-lived collections).
    The build exercises the full round-6 lifecycle: attach an empty
    store, ingest the whole embeddings table (storage append + single
    -scan re-read), delete one id (tombstone overlay), compact_store
    (atomic sibling-dir swap), then RE-INSERT the deleted id with its
    original vector — legal only after compaction (put_many refuses
    tombstoned ids). The final canonical table therefore equals the raw
    embeddings table and the oracle is the plain flat-l2 SQL: any
    overlay leak, lost write, or compaction corruption surfaces as a
    result mismatch."""
    import shutil
    import tempfile

    from vettore_spark.collection import Collection

    key = (spark.sparkContext.applicationId, sf_dir)
    coll = _STORE_GATE_CACHE.get(key)
    if coll is None:
        emb = _t(spark, sf_dir, "embeddings")
        dims = len(emb.select("embedding").first()["embedding"])
        # stable digest of sf_dir ONLY, not hash(key): Python string
        # hashing is PYTHONHASHSEED-randomized and the appId changes per
        # Spark app, so either in the name would mint a fresh /tmp dir
        # every driver run and never clean up the last one. Keyed on
        # sf_dir the path is reproducible across processes and the
        # rmtree below reclaims the previous run's dir. (Gate runs are
        # single-process per host — driver, selfcheck, bench each own
        # their run — and _claim_scratch_dir's PID lockfile turns the
        # two-live-processes case into a loud error instead of a race.)
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"vettore_store_gate_{digest}"
        )
        _claim_scratch_dir(path)
        shutil.rmtree(path, ignore_errors=True)
        coll = Collection.create(
            spark, "store_gate", dims, metric="l2"
        ).attach_store(path)
        src = emb.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("vec_id").cast("string").alias("value"),
            F.col("embedding").cast("array<double>").alias("vector"),
            F.lit(None).cast("array<array<double>>").alias("vectors"),
            F.lit(None).cast("map<string,string>").alias("metadata"),
        )
        coll.put_many(src)
        victim = coll.get("5")
        coll.delete("5")
        coll.compact_store()
        coll.put_many(
            [{"id": "5", "vector": [float(x) for x in victim["vector"]]}]
        )
        _STORE_GATE_CACHE[key] = coll
    out = coll.search(_qvec(spark, sf_dir), limit=10)
    return _round(out, {"score": 5, "distance": 5})


SQL_STORE_ATTACHED_TOPK = f"""
SELECT vec_id::VARCHAR AS id, vec_id::VARCHAR AS value,
       round(-d, 5) + 0.0 AS score, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d FROM embeddings)
ORDER BY d, vec_id LIMIT 10
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream (view -> click ->
    purchase): stage N counts users whose first qualifying stage-N event
    strictly follows their first stage-(N-1) event. Each stage is one
    min-aggregate keyed on user plus one equi-join on user_id — no window
    over the whole stream, no per-user sort; at 100 TB each stage is a
    narrow shuffle on user_id and the stage tables shrink monotonically."""
    ev = _events_ts(spark, sf_dir)

    def first_after(prev: DataFrame, etype: str, tcol: str, out: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(out))
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    v = first_after(None, "view", "", "_t1")
    c = first_after(v, "click", "_t1", "_t2")
    p = first_after(c, "purchase", "_t2", "_t3")
    stages = [("1_view", v), ("2_click", c), ("3_purchase", p)]
    out = None
    for name, df in stages:
        s = df.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )
        out = s if out is None else out.unionByName(s)
    return out.orderBy("stage")


SQL_EVENT_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, count(*) AS n_users FROM v
  UNION ALL
  SELECT '2_click', count(*) FROM c
  UNION ALL
  SELECT '3_purchase', count(*) FROM p
)
ORDER BY stage
"""


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; each (cohort, week-offset) cell counts distinct users
    active that week. Two aggregations — per-user first-event (one shuffle
    on user_id), then the cohort matrix (one shuffle on the small
    composite key). The cohort join streams the events side against the
    broadcast-sized first-event table at 100 TB only if users are bounded;
    otherwise AQE picks the shuffle join — no forced hint."""
    ev = _events_ts(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("_cohort_ts")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("_cohort_ts", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("_cohort_ts"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


SQL_USER_RETENTION = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_ts
  FROM events GROUP BY user_id
)
SELECT strftime(cohort_ts, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('day', cohort_ts, date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection compression of the embedding
    table 64 -> 16 dims (encodings/projections.py): the cheap-prefilter
    encoding that keeps magnitudes (unlike the 1-bit sign-bit code).
    Deterministic md5-derived Rademacher matrix, so the oracle embeds the
    SAME literal matrix. Long output (vec_id, dim_idx, value) — scalar
    columns only, engine-stable hashing. The 1/sqrt(16) = 0.25 scale is an
    exact binary float, so scaling introduces no cross-engine rounding."""
    from vettore_spark.encodings import projections as PJ

    emb = _t(spark, sf_dir, "embeddings")
    proj = PJ.jl_project(emb, d_in=64, d_out=16)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim_idx", "value")
    ).withColumn("value", F.round("value", 5))


def _sql_jl_projection() -> str:
    from vettore_spark.encodings.projections import rademacher_signs

    signs = rademacher_signs(64, 16, seed=0)
    selects = []
    for k, row in enumerate(signs):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]"
        selects.append(
            f"SELECT vec_id, {k} AS dim_idx, "
            f"round(list_dot_product(embedding::DOUBLE[], {arr}) * 0.25, 5) "
            "AS value FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


SQL_JL_PROJECTION = _sql_jl_projection()


def _jl_query_proj(spark: SparkSession, sf_dir: str) -> list[float]:
    """Driver-side JL projection of the standard query vector: the SAME
    literal values are embedded in the Spark plan and the SQL oracle, so
    cross-engine parity of the query side is by construction."""
    from vettore_spark.encodings.projections import rademacher_signs

    qv = _qvec(spark, sf_dir)
    signs = rademacher_signs(64, 16, seed=0)
    return [sum(s * x for s, x in zip(row, qv)) * 0.25 for row in signs]


def q_jl_prefilter_topk(
    spark: SparkSession, sf_dir: str, candidates: int = 200
) -> DataFrame:
    """Two-stage search through the JL-compressed table (the
    quantized_search shape with a magnitude-preserving code): stage 1
    ranks by squared L2 in 16-dim projected space (rounded before the
    cut so the candidate SET is engine-stable) and keeps `candidates`
    rows (default 200 = limit*20, the reference bench's config — a CHEAP
    TIER: overlap@10 vs exact is ~0.6 on this unstructured corpus; bench
    sweeps deeper depths alongside it) via TakeOrderedAndProject; stage 2
    exact-reranks those on full vectors. The projected table is a keyed-persist derived index (the
    PQ-codes residency model): built once per (collection, d_out, seed),
    so stage 1 scans 16 doubles per row instead of 64 and stage 2 touches
    200 rows — the JL lemma bounds the candidate-stage distortion, unlike
    the 1-bit sign code whose Hamming distance drops magnitudes."""
    from vettore_spark.encodings import projections as PJ
    from vettore_spark.plans.cache import cached_persist

    emb = _t(spark, sf_dir, "embeddings")
    signs = PJ.rademacher_signs(64, 16, seed=0)
    proj_tab = cached_persist(
        emb,
        ("jl_proj", "vec_id", "embedding", 16, 0),
        lambda s: s.select(
            "vec_id", PJ.project_column("embedding", signs).alias("_p")
        ),
    )
    qp = _jl_query_proj(spark, sf_dir)
    qp_lit = F.array(*[F.lit(v) for v in qp])
    cdist = F.round(
        F.aggregate(
            F.zip_with(F.col("_p"), qp_lit, lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    cand = (
        proj_tab.select("vec_id", cdist.alias("_cd"))
        .orderBy("_cd", "vec_id")
        .limit(candidates)
        .select("vec_id")
    )
    qv = _qvec(spark, sf_dir)
    qv_lit = K.double_array_lit(qv)
    exact = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                qv_lit,
                lambda x, q: (x - q) * (x - q),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.join(cand, "vec_id", "left_semi")
        .select("vec_id", exact.alias("_d"))
        .orderBy("_d", "vec_id")
        .limit(10)
        .select("vec_id", F.round("_d", 5).alias("distance"))
    )


def _sql_jl_prefilter() -> str:
    # The oracle computes the query-side projection IN-ENGINE from the
    # stored vec 0 (the `_QV` convention): Python's sum(), Spark's
    # aggregate() fold, and DuckDB's list_dot_product all evaluate the
    # same sequential multiply-add over the same parquet doubles, so the
    # driver-side literals in the Spark plan and this subquery agree
    # bit-for-bit (evidenced by the jl_projection hash match).
    from vettore_spark.encodings.projections import rademacher_signs

    signs = rademacher_signs(64, 16, seed=0)
    terms = []
    for row in signs:
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]"
        p = (
            f"(list_dot_product(embedding::DOUBLE[], {arr}) * 0.25"
            f" - list_dot_product({_QV}, {arr}) * 0.25)"
        )
        terms.append(f"{p} * {p}")
    cd = " + ".join(terms)
    return f"""
WITH cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({cd}, 4) AS cd FROM embeddings)
  ORDER BY cd, vec_id LIMIT 200)
SELECT vec_id, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand))
ORDER BY d, vec_id LIMIT 10
"""


SQL_JL_PREFILTER_TOPK = _sql_jl_prefilter()


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier quarterly revenue, then
    the suppliers matching the maximum — the scalar-subquery-on-aggregate
    pattern planned as aggregate -> single-row broadcast -> filter. The
    equality predicate compares EXACT decimal sums (order-free), so the
    'ties with the max' set is engine-independent."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("_sk")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
        ).alias("_rev")
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("_rev") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("_sk") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("_rev", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q15 = """
WITH rev AS (
  SELECT l_suppkey AS _sk,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS _rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(round(_rev, 2) AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON _sk = s_suppkey
WHERE _rev = (SELECT max(_rev) FROM rev)
ORDER BY s_suppkey
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, adapted to mktsegment):
    customers with above-average positive balance and NO large orders (the
    synthetic orders table covers every custkey, so the pure no-orders set
    is empty — the big-order variant keeps Q22's scalar threshold +
    anti-join + grouped rollup shape with a non-trivial result). The avg
    comparison is multiplied out to `bal * n > sum` in exact decimal (the
    Q17 trick), so no float-division tie can flip a borderline customer."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    thr = pos.agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("_bsum"),
        F.count("*").alias("_bn"),
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(
            F.col("c_acctbal").cast("decimal(18,6)") * F.col("_bn")
            > F.col("_bsum")
        )
        .join(
            orders.filter(F.col("o_totalprice") > 300000).select(
                F.col("o_custkey").alias("c_custkey")
            ),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


SQL_TPCH_Q22 = """
WITH thr AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS _bsum, count(*) AS _bn
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
FROM customer, thr
WHERE CAST(c_acctbal AS DECIMAL(18,6)) * _bn > _bsum
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event value distribution with EXACT interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`, the
    corpus_stats parity pattern) — the latency/value SLO rollup every
    event pipeline runs. approx_percentile would be the sketch at 100 TB;
    the exact form is one sort per group, still a single shuffle."""
    ev = _events_ts(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_VALUE_QUANTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of `events_value_quantiles`: mergeable
    fixed-boundary histogram quantile estimates
    (operators/sketch.py::histogram_quantiles) instead of exact
    `percentile` — the exact form sorts every group's values (shuffle
    scales with ROW count); the histogram ships one counter per occupied
    bucket (shuffle scales with value RANGE, here <=491 buckets/group at
    width 1.0), merges by adding counts across shards/days, and the
    linear interpolation is deterministic double arithmetic both engines
    reproduce bit-for-bit. Max error = bucket width; measured error vs
    the exact percentiles is in SCALE.md."""
    from vettore_spark.operators import sketch as SK

    ev = _events_ts(spark, sf_dir)
    return SK.histogram_quantiles(
        ev, "value", [0.5, 0.9, 0.99], bucket_width=1.0,
        group_by=["event_type"],
    ).orderBy("event_type", "q")


SQL_EVENTS_QUANTILE_SKETCH = """
WITH hist AS (
  SELECT event_type, CAST(floor(value / 1.0) AS BIGINT) AS b, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, b, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM hist
),
probe AS (
  SELECT event_type, b, c, cum, n, q
  FROM cum, (SELECT unnest([0.5, 0.9, 0.99]) AS q)
)
SELECT event_type, q,
       round(b * 1.0 + 1.0 * ((q * CAST(n AS DOUBLE)) - CAST(cum - c AS DOUBLE)) / CAST(c AS DOUBLE), 4) AS est
FROM probe
WHERE CAST(cum - c AS DOUBLE) < q * CAST(n AS DOUBLE)
  AND q * CAST(n AS DOUBLE) <= CAST(cum AS DOUBLE)
ORDER BY event_type, q
"""


def q_approx_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type event rollup from a 1-in-10 deterministic
    hash sample of USERS (operators/sampling.py::approx_rollup) — the
    constantly-re-run dashboard rollup that at 100 TB should read 10% of
    the fact table (or a pre-materialized 1-in-N sample table), not all
    of it. Keys are drawn, not rows (congruential sampling), so per-user
    statistics stay unbiased; estimates scale by the EXACT integer 10
    with decimal sums, so both engines agree bit-for-bit and the hard
    gate covers an approximate query. Measured error vs the exact
    rollup is in SCALE.md."""
    from vettore_spark.operators.sampling import approx_rollup

    ev = _t(spark, sf_dir, "events")
    return approx_rollup(
        ev,
        key_col="user_id",
        one_in=10,
        group_by=["event_type"],
        sum_cols=["value"],
    ).orderBy("event_type")


SQL_APPROX_EVENT_ROLLUP = """
SELECT event_type,
       count(*) * 10 AS est_rows,
       count(DISTINCT user_id) * 10 AS est_keys,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 10, 2) AS DOUBLE)
         AS est_sum_value
FROM events
WHERE ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 10 = 0
GROUP BY event_type
ORDER BY event_type
"""


def q_zorder_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering profile of lineitem over
    (l_partkey, l_suppkey): every row gets the interleaved-bits key
    (sources/store.py::zorder_key, 8 bits per dim, pure shiftleft/and/or
    codegen), rows are grouped by the key's top-6-bit cell, and the
    per-cell min/max of BOTH dims shows each cell covering a compact box
    (≤1/8 of each dim's range) — the property that lets parquet footer
    stats prune multi-column box predicates after zorder_write, where a
    single-column sort prunes only its lead column. Bounds come from one
    tiny min/max agg (4 longs to the driver — bounded by construction);
    the key is exact integer arithmetic, so the DuckDB oracle reproduces
    every cell bit-for-bit. Measured file-skip ratios: SCALE.md."""
    from vettore_spark.sources.store import zorder_key

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    b = li.agg(
        F.min("l_partkey").cast("long").alias("plo"),
        F.max("l_partkey").cast("long").alias("phi"),
        F.min("l_suppkey").cast("long").alias("slo"),
        F.max("l_suppkey").cast("long").alias("shi"),
    ).first()
    z = zorder_key(
        ["l_partkey", "l_suppkey"],
        [(b["plo"], b["phi"]), (b["slo"], b["shi"])],
        bits=8,
    )
    return (
        li.withColumn("zcell", F.shiftright(z, 10))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zcell")
    )


def _sql_zorder_profile(bits: int = 8) -> str:
    """Generated interleave oracle: zkey = sum_i ((px>>i)&1)<<2i |
    ((sx>>i)&1)<<(2i+1), spelled with // and % so DuckDB's integer
    arithmetic matches Spark's shift/and exactly."""
    terms = []
    for i in range(bits):
        terms.append(f"((px // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((sx // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    zexpr = " + ".join(terms)
    top = (1 << bits) - 1
    return f"""
WITH b AS (
  SELECT min(l_partkey)::BIGINT AS plo, max(l_partkey)::BIGINT AS phi,
         min(l_suppkey)::BIGINT AS slo, max(l_suppkey)::BIGINT AS shi
  FROM lineitem
),
r AS (
  SELECT l_partkey, l_suppkey,
         ((l_partkey::BIGINT - plo) * {top}) // (phi - plo) AS px,
         ((l_suppkey::BIGINT - slo) * {top}) // (shi - slo) AS sx
  FROM lineitem, b
),
z AS (SELECT l_partkey, l_suppkey, ({zexpr}) // 1024 AS zcell FROM r)
SELECT zcell, count(*)::BIGINT AS n_rows,
       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
FROM z GROUP BY zcell ORDER BY zcell
"""


SQL_ZORDER_CLUSTER_PROFILE = _sql_zorder_profile()


def _proc_start_ticks(pid: int) -> int | None:
    """Kernel start time (clock ticks since boot) of `pid`, or None when
    unavailable (non-Linux). A (pid, starttime) pair identifies a process
    across PID REUSE — a bare pid does not: /tmp lockfiles outlive their
    owners, and a later run's own short-lived Python workers can land on
    the recorded pid, turning a stale lock into a phantom 'live owner'
    (observed: a bench run failing 4 queries against locks from a
    selfcheck that exited an hour earlier)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read().decode("ascii", "replace")
        # comm (field 2) may contain spaces/parens: split after the LAST
        # ')' — starttime is overall field 22, i.e. index 19 past comm
        return int(stat.rsplit(")", 1)[1].split()[19])
    except Exception:  # noqa: BLE001 — no /proc or raced exit
        return None


_OWNED_SCRATCH_FDS: dict[str, int] = {}
_SCRATCH_CLAIM_MUTEX = threading.Lock()


def _release_owned_scratch_locks() -> None:
    """atexit: close the held lock fds so the kernel releases the flocks
    (it would anyway at process death — this just makes a clean exit
    release eagerly). The lock FILES are deliberately never unlinked:
    unlink+flock is its own race (claimant B flocks the unlinked inode
    while claimant C creates a fresh file at the path — two owners), and
    a leftover 64-byte file next to a reusable scratch dir costs nothing.
    The scratch DIRS survive for reuse by design."""
    for lock, fd in list(_OWNED_SCRATCH_FDS.items()):
        try:
            os.close(fd)
        except OSError:
            pass
        _OWNED_SCRATCH_FDS.pop(lock, None)


atexit.register(_release_owned_scratch_locks)


def _claim_scratch_dir(path: str) -> None:
    """Claim exclusive ownership of a shared /tmp scratch dir before
    (re)creating it.

    The stable md5-of-sf_dir names below are deliberately shared across
    processes (reproducible path -> the next run reclaims the previous
    run's dir instead of leaking one per run), but that sharing means two
    LIVE processes on one host (driver gate + bench, say) could rmtree
    each other's store mid-query.

    Guard: a kernel flock (LOCK_EX | LOCK_NB) on a lockfile next to the
    dir, held for the life of the process. Three rounds of lockfile-dance
    patches (r8 O_EXCL + dead-pid reclaim, r9 (pid, starttime) tokens +
    atomic rename reclaim, r9-advice claim-verify handshake) each
    narrowed a race the next review found another corner of — the
    rename-based reclaim has an irreducible TOCTOU because POSIX rename
    cannot be made conditional on file content. flock closes the class
    structurally: the KERNEL serializes ownership, a dead owner's lock
    (clean exit, SIGKILL, OOM) evaporates with its last fd so there is
    no stale-lock state to reclaim, and PID reuse cannot forge liveness
    because ownership was never keyed on pids. The (pid, starttime)
    token is still written into the file — purely as a diagnostic for
    the refusal message and post-mortems, never consulted for liveness.

    A live owner in another process -> fail fast (loudly, instead of
    silently deleting its data); re-entry by the owning process (memo
    cache cleared mid-app) passes through via the held-fd registry —
    flock from a SECOND fd of the same file would deadlock/refuse
    against our own first fd, so re-entry must not re-open."""
    import fcntl

    lock = path + ".lock"
    # the registry check and the flock must be atomic WITHIN the process:
    # two threads racing the same path would otherwise both pass the
    # registry check, and the loser's LOCK_NB flock would refuse against
    # our OWN first fd — a hard error naming our own pid
    with _SCRATCH_CLAIM_MUTEX:
        if lock in _OWNED_SCRATCH_FDS:  # re-entry: we already hold the flock
            return
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            try:
                with open(lock) as fh:
                    owner = fh.read().strip() or "<unknown>"
            except OSError:
                owner = "<unknown>"
            os.close(fd)
            raise RuntimeError(
                f"scratch dir {path} is owned by live process {owner} "
                f"(flock on {lock}); refusing to delete it out from under "
                "a concurrent run — stop that process or use a different "
                "sf_dir"
            ) from None
        # migration guard: a process still running the PRE-flock protocol
        # owns the dir by token only and never holds the flock, so our
        # flock succeeding does not prove the dir is free. A recorded
        # (pid, starttime) naming a LIVE process that is not us means a
        # legacy owner is mid-run — back off instead of rmtree'ing under
        # it. Dead pids and starttime mismatches (PID reuse) pass.
        me = os.getpid()
        try:
            with open(lock) as fh:
                parts = fh.read().split()
            old_pid = int(parts[0]) if parts else 0
            old_start = int(parts[1]) if len(parts) > 1 else 0
        except (OSError, ValueError):
            old_pid, old_start = 0, 0
        if old_pid and old_pid != me:
            alive = True
            try:
                os.kill(old_pid, 0)
            except ProcessLookupError:
                alive = False
            except PermissionError:
                pass
            # Refuse ONLY on a POSITIVELY verified legacy owner: recorded
            # starttime present AND current starttime readable AND equal.
            # The flock we hold already proves no new-protocol owner is
            # alive, so an unverifiable token (no recorded starttime —
            # /proc-less host at write time — or now_start=None: non-Linux,
            # PermissionError + unreadable stat) is inconclusive-DEAD, not
            # alive: otherwise a reused PID turns a dead owner's
            # never-cleared diagnostic token into a spurious, PERSISTENT
            # refusal on every subsequent claim (r10 advice).
            if alive:
                now_start = _proc_start_ticks(old_pid)
                alive = (
                    bool(old_start)
                    and now_start is not None
                    and now_start == old_start
                )
            if alive:
                os.close(fd)
                raise RuntimeError(
                    f"scratch dir {path} carries a live legacy-protocol "
                    f"owner token (pid {old_pid}, lockfile {lock}); "
                    "refusing to delete it out from under a concurrent "
                    "run — stop that process or use a different sf_dir"
                ) from None
        # we hold the kernel lock; the token below is DIAGNOSTIC only
        token = f"{me} {_proc_start_ticks(me) or 0}"
        try:
            os.ftruncate(fd, 0)
            os.write(fd, token.encode())
        except OSError:
            pass
        _OWNED_SCRATCH_FDS[lock] = fd  # fd stays open: close drops the flock


def _claim_free_scratch_dir(path: str) -> str:
    """`path` claimed (`_claim_scratch_dir`), or else the first of 16
    siblings `path_<i>` whose claim succeeds: a live owner of the shared
    name (a second checkout running the same gate on this host) sends the
    claim on instead of failing it. Every candidate goes through the same
    flock protocol, so a dead owner's dir is still reclaimed in place."""
    cands = [path] + [f"{path}_{i}" for i in range(1, 17)]
    for cand in cands[:-1]:
        try:
            _claim_scratch_dir(cand)
            return cand
        except RuntimeError:
            pass
    _claim_scratch_dir(cands[-1])  # the last refusal is raised
    return cands[-1]


_ZORDER_Q6_CACHE: dict = {}


def _zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Write-once-per-app Z-ordered copy of lineitem clustered on
    (shipdate-day, discount-percent) — the two Q6 filter dimensions,
    rank-encoded to exact integers first (zorder_key needs bigint ranks;
    the raw columns are timestamp/double). Stable md5-of-sf_dir temp path
    (the store-gate rule: hash() is seed-randomized and appId churns, so
    either would leak a dir per run)."""
    import shutil
    import tempfile

    from vettore_spark.sources.store import zorder_write

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _ZORDER_Q6_CACHE.get(key)
    if path is None:
        digest = hashlib.md5(("q6z:" + sf_dir).encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"vettore_zorder_q6_{digest}"
        )
        _claim_scratch_dir(path)
        shutil.rmtree(path, ignore_errors=True)
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        li = li.withColumn(
            "_zday",
            F.datediff(F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")).cast("long"),
        ).withColumn(
            "_zdisc", F.round(F.col("l_discount") * 100).cast("long")
        )
        zorder_write(li, path, cols=["_zday", "_zdisc"], num_files=32)
        _ZORDER_Q6_CACHE[key] = path
    return path


def q_tpch_q6_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 over a Z-ORDER-clustered copy of lineitem — the layout proof on
    a query that exists, the tpch_q17_bloom pattern: zorder_write clusters
    on exactly Q6's two filter dims (shipdate day, discount percent), the
    query itself is plain Q6 over the clustered files, and the oracle is
    SQL_TPCH_Q6 VERBATIM — so the gate is a hard proof that the layout
    changes bytes-on-disk only, never results. The win is in the scan:
    both predicates reach the parquet footer stats (PushedFilters) and
    the clustered layout lets them skip most row groups — measured
    kept-row-group ratios vs the natural layout in SCALE.md (r7 zorder
    section); at 100 TB the same ratios apply to whole files, so Q6-shaped
    box queries read a sliver of the table instead of all of it."""
    path = _zordered_lineitem_path(spark, sf_dir)
    li = spark.read.parquet(path)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # exact-DECIMAL money rail — must stay byte-identical to
            # q_tpch_q6 (shared SQL_TPCH_Q6 oracle + the layout-proof
            # equality assertion in tests/test_store_pruning.py)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount"))
                    .cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_range_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search (operators/search.py::flat_range): every vector
    with true cosine >= 0.2 against the standard query, best first — the
    within-threshold companion to flat top-k that every vector store
    pairs with it (the reference is top-k-only; Spark superset surface,
    like `where=`). The threshold is a plain codegen predicate above the
    one staged scoring projection — no shuffle, result size scales with
    matches, not the collection."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.flat_range(
        emb, _qvec(spark, sf_dir), metric="cosine", min_score=0.2,
        id_col="vec_id", vector_col="embedding", pre_normalized=False,
    )
    return _round(out, {"score": 5, "distance": 5})


SQL_RANGE_SEARCH_COSINE = f"""
SELECT vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance
FROM (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {_QV}) AS c
      FROM embeddings)
WHERE c >= 0.2
ORDER BY 1 - c, vec_id
"""


def q_kmv_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup REUSE — the pattern that makes sketches pay at
    100 TB: per-DAY KMV sketches (the bounded summaries a pipeline would
    store next to each daily partition) are merged per week by re-taking
    the bottom-k of their union (kmv_merge's associativity), and the
    weekly estimate from the stored daily sketches EQUALS the estimate
    from sketching the week directly — both columns returned, equality
    by construction, the oracle reproduces both. The weekly query never
    touches raw events, only 7×k longs per week."""
    from vettore_spark.operators import sketch as SK

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        ((F.dayofmonth("ts") - 1) / 7).cast("long").alias("week"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("event_type")
        ).alias("k"),
    )
    # Explicit shared hash-distinct base for both sketch rails. Honest
    # accounting (r14 A/B, same session): the physical plan is
    # BYTE-IDENTICAL (mod expr ids) to the previous two-kmv_sketch form
    # — Catalyst already normalized both to the same distinct+window
    # tree, so there is no execution win and no exchange is saved
    # (32 stages / 311 tasks both). What the explicit form buys is plan
    # DERIVATION cost (~0.35 s/build at bench scale: the optimizer no
    # longer re-derives the shared subtree from two independent sketch
    # calls) and a source shape that states the reuse the plan already
    # had. The direct sketch's distinct (week, h) set is exactly the
    # (week, h) projection of the base (h is a pure function of the
    # key), so both estimates are bit-identical to the two-pass form.
    base = keyed.select(
        "week", "day", SK.hash60("k").alias("h")
    ).distinct()
    w_day = Window.partitionBy("week", "day").orderBy(F.col("h").asc())
    daily = (
        base.withColumn("pos", F.row_number().over(w_day))
        .filter(F.col("pos") <= 128)
        .select("week", "day", "pos", "h")
    )
    merged = (
        daily.select("week", "h")
        .distinct()
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("week").orderBy(F.col("h").asc())
            ),
        )
        .filter(F.col("pos") <= 128)
    )
    est_rolled = SK.kmv_estimate(merged, k=128, group_by=["week"]).withColumnRenamed(
        "est_distinct", "est_from_daily"
    )
    w_week = Window.partitionBy("week").orderBy(F.col("h").asc())
    direct_sk = (
        base.select("week", "h")
        .distinct()
        .withColumn("pos", F.row_number().over(w_week))
        .filter(F.col("pos") <= 128)
        .select("week", "pos", "h")
    )
    direct = SK.kmv_estimate(
        direct_sk, k=128, group_by=["week"]
    ).withColumnRenamed("est_distinct", "est_direct")
    return est_rolled.join(direct, "week").orderBy("week")


def q_multi_query_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched radius search (operators/search.py::multi_query_range):
    8 queries' within-threshold matches in ONE pass over the collection —
    broadcast queries, score, codegen threshold filter; NO per-query
    window and NO shuffle of the collection (plan pinned). The serving
    shape for thousands of simultaneous radius queries at 100 TB; output
    scales with total matches, not queries × collection."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = S.multi_query_range(
        qs, emb, metric="cosine", min_score=0.3,
        id_col="vec_id", vector_col="embedding", pre_normalized=False,
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy(
        "query_id", "distance", "vec_id"
    )


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus second-moment statistics (encodings/moments.py): the
    d(d+1)/2 upper-triangle population-covariance entries of the embedding
    column. ONE Arrow pass folds each partition into (n, Σx, XᵀX) — d + d²
    doubles per partition — and the reduce stage only ever sees those
    partials (corpus size never crosses the shuffle). The fitted input for
    PCA projection (pca_components/pca_project, pytest-pinned); entries
    rounded at 6dp with the +0.0 negative-zero guard."""
    from vettore_spark.encodings import moments as M

    emb = _t(spark, sf_dir, "embeddings")
    out = M.covariance_entries(emb, vector_col="embedding", dim=DIMS)
    return out.select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    ).orderBy("i", "j")


SQL_EMBEDDING_COVARIANCE = """
WITH u AS (
  SELECT vec_id, i - 1 AS i, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, 65) t(i)),
nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
m AS (SELECT i, sum(x) AS sx FROM u GROUP BY i),
p AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy
      FROM u a JOIN u b USING (vec_id) WHERE a.i <= b.i GROUP BY 1, 2)
SELECT p.i, p.j,
       round(sxy / nn.n - (ma.sx / nn.n) * (mb.sx / nn.n), 6) + 0.0 AS cov
FROM p
CROSS JOIN nn
JOIN m ma ON ma.i = p.i
JOIN m mb ON mb.i = p.j
ORDER BY p.i, p.j
"""


def _pca_comps_for(sf_dir: str) -> list[list[float]]:
    """Memoized deterministic PCA fit (64 → 16, 6dp literals) from the
    embeddings parquet — ONE defined summation order shared by the Spark
    plan builder and the SQL-oracle builder, so both engines embed
    bit-identical component literals (moments.fit_components_local)."""
    from vettore_spark.encodings import moments as M

    path = os.path.join(sf_dir, "embeddings.parquet")
    comps = _PCA_COMPS_CACHE.get(path)
    if comps is None:
        comps = M.fit_components_local(path, dim=DIMS, k=16, round_digits=6)
        _PCA_COMPS_CACHE[path] = comps
    return comps


_PCA_COMPS_CACHE: dict[str, list[list[float]]] = {}


def q_pca_prefilter_topk(
    spark: SparkSession, sf_dir: str, candidates: int = 200
) -> DataFrame:
    """Two-stage search through the PCA-compressed table — jl_prefilter_topk
    with the oblivious Rademacher matrix replaced by the corpus's own top-16
    principal axes (encodings/moments.py): stage 1 ranks by squared L2 in
    16-dim PCA space (rounded 4dp before the cut so the candidate SET is
    engine-stable) and keeps `candidates` rows (default 200 = limit*20,
    the reference bench's config — a cheap tier on unstructured data;
    bench sweeps deeper depths) via TakeOrderedAndProject;
    stage 2 exact-reranks those on full vectors. The projected table is a
    keyed-persist derived index (the PQ-codes residency model). The fit is
    the deterministic driver-side twin of the distributed moments sketch
    (distributed == local pinned in tests/test_moments.py; the gated
    embedding_covariance query proves the distributed path's arithmetic) —
    at equal width PCA spends its 16 dims on the directions this corpus
    varies in, so its candidate stage dominates JL's on structured data."""
    from vettore_spark.encodings import moments as M
    from vettore_spark.plans.cache import cached_persist

    emb = _t(spark, sf_dir, "embeddings")
    comps = _pca_comps_for(sf_dir)
    proj_tab = cached_persist(
        emb,
        ("pca_proj", "vec_id", "embedding", 16, 6),
        lambda s: s.select(
            "vec_id", M.project_literal("embedding", comps).alias("_p")
        ),
    )
    qv = _qvec(spark, sf_dir)
    qp = [sum(c * x for c, x in zip(row, qv)) for row in comps]
    qp_lit = F.array(*[F.lit(v) for v in qp])
    cdist = F.round(
        F.aggregate(
            F.zip_with(F.col("_p"), qp_lit, lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    cand = (
        proj_tab.select("vec_id", cdist.alias("_cd"))
        .orderBy("_cd", "vec_id")
        .limit(candidates)
        .select("vec_id")
    )
    qv_lit = K.double_array_lit(qv)
    exact = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                qv_lit,
                lambda x, q: (x - q) * (x - q),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.join(cand, "vec_id", "left_semi")
        .select("vec_id", exact.alias("_d"))
        .orderBy("_d", "vec_id")
        .limit(10)
        .select("vec_id", F.round("_d", 5).alias("distance"))
    )


def _sql_pca_prefilter() -> str | None:
    # Same literal-parity convention as _sql_jl_prefilter: the component
    # matrix is embedded verbatim in both engines (fit once, driver-side,
    # _pca_comps_for), and the query-side projection is computed in-engine
    # from the stored vec 0 — list_dot_product's sequential fold matches
    # Python's sum() and Spark's aggregate() (evidenced by the
    # jl_projection/jl_prefilter hash matches). Unlike JL's oblivious
    # matrix, PCA components are DATA-dependent, so this oracle is built
    # LAZILY at oracle_sql() call time (the registry stores the function;
    # see oracle_sql) against the same sf_dir the gate will run at —
    # SELFCHECK_SF_DIR when set, else the driver's sf0.01 — never pinned
    # to whatever directory happened to exist at import. If no testdata
    # is visible the query degrades to the rows-only check instead of
    # breaking oracle_sql().
    env = os.environ.get("SELFCHECK_SF_DIR")
    candidates = [env] if env else [
        f"/root/testdata/{sf}" for sf in ("sf0.01", "sf0.001", "sf0.1")
    ]
    for sf_dir in candidates:
        if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            break
    else:
        return None
    comps = _pca_comps_for(sf_dir)
    terms = []
    for row in comps:
        arr = "[" + ", ".join(repr(float(c)) for c in row) + "]"
        p = (
            f"(list_dot_product(embedding::DOUBLE[], {arr})"
            f" - list_dot_product({_QV}, {arr}))"
        )
        terms.append(f"{p} * {p}")
    cd = " + ".join(terms)
    return f"""
WITH cand AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({cd}, 4) AS cd FROM embeddings)
  ORDER BY cd, vec_id LIMIT 200)
SELECT vec_id, round(d, 5) AS distance
FROM (SELECT vec_id, list_distance(embedding::DOUBLE[], {_QV}) AS d
      FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand))
ORDER BY d, vec_id LIMIT 10
"""


# Registered as the FUNCTION, not its value: resolved per-call inside
# oracle_sql() so the PCA literals always come from the gate's actual
# sf_dir (data-dependent fit; see _sql_pca_prefilter).
SQL_PCA_PREFILTER_TOPK = _sql_pca_prefilter


_ZCA_CACHE: dict[str, tuple[list[list[float]], list[float]]] = {}


def _zca_for(sf_dir: str) -> tuple[list[list[float]], list[float]]:
    path = os.path.join(sf_dir, "embeddings.parquet")
    fit = _ZCA_CACHE.get(path)
    if fit is None:
        from vettore_spark.encodings import moments as M

        fit = M.zca_matrix_local(path, dim=DIMS, rows=8, eps=1e-3)
        _ZCA_CACHE[path] = fit
    return fit


def q_zca_whiten_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening (encodings/moments.py::zca_matrix_local) verified by
    its defining property: per-dimension mean ≈ 0 and variance ≈
    λ/(λ+eps) ≈ 1 of the whitened corpus, for the first 8 whitened dims.
    The transform is a literal map-only expression (y = W·x − W·m with
    both W rows and offsets embedded as constants fit once per sf_dir —
    the PCA lazy-literal pattern), so the corpus never shuffles anything
    wider than the 8-row stats aggregate. The 100 TB fit runs the
    distributed gram_partials path; the projection plan is identical."""
    w8, off = _zca_for(sf_dir)
    from vettore_spark.encodings import moments as M

    emb = _t(spark, sf_dir, "embeddings")
    off_lit = F.array(*[F.lit(v) for v in off])
    y = F.zip_with(
        M.project_literal("embedding", w8), off_lit, lambda a, b: a - b
    )
    ex = emb.select(F.posexplode(y).alias("dim", "y"))
    n = F.count(F.lit(1)).cast("double")
    return (
        ex.groupBy("dim")
        .agg(
            (F.round(F.sum("y") / n, 5) + F.lit(0.0)).alias("mean"),
            (
                F.round(
                    F.sum(F.col("y") * F.col("y")) / n
                    - (F.sum("y") / n) * (F.sum("y") / n),
                    5,
                )
                + F.lit(0.0)
            ).alias("variance"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
        .orderBy("dim")
    )


def _sql_zca_whiten_stats() -> str | None:
    # data-dependent literals -> lazy per the gate's sf_dir, exactly like
    # _sql_pca_prefilter (registered as the function, resolved in
    # oracle_sql())
    env = os.environ.get("SELFCHECK_SF_DIR")
    candidates = [env] if env else [
        f"/root/testdata/{sf}" for sf in ("sf0.01", "sf0.001", "sf0.1")
    ]
    for sf_dir in candidates:
        if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
            break
    else:
        return None
    w8, off = _zca_for(sf_dir)
    selects = []
    for i, (row, o) in enumerate(zip(w8, off)):
        arr = "[" + ", ".join(repr(float(v)) for v in row) + "]"
        selects.append(
            f"SELECT {i}::BIGINT AS dim, "
            f"(list_dot_product(embedding::DOUBLE[], {arr}) - {o!r}) AS y "
            "FROM embeddings"
        )
    body = " UNION ALL ".join(selects)
    return f"""
WITH yv AS ({body})
SELECT dim,
       round(sum(y) / count(*), 5) + 0.0 AS mean,
       round(sum(y * y) / count(*)
             - (sum(y) / count(*)) * (sum(y) / count(*)), 5) + 0.0 AS variance
FROM yv GROUP BY dim ORDER BY dim
"""


SQL_ZCA_WHITEN_STATS = _sql_zca_whiten_stats


def q_embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift monitor over the embedding corpus, per label
    (the drop/shard/source axis a training pipeline slices by): how far
    each slice's centroid sits from the global centroid (L2) and how much
    within-slice scatter it carries (variance trace = Σ_i (E[x_i²] −
    E[x_i]²)). Everything derives from plain per-dimension sums — two
    map-side-combined aggregates over the posexploded scan (n_labels×d and
    d partial rows cross the shuffle, never corpus rows), broadcast-joined
    on the d-row global table. The alarm that says 'this week's crawl
    moved' before retraining an IVF/PQ codebook on it (pair with
    ivf_health_report, which watches the same drift from the index side)."""
    emb = _t(spark, sf_dir, "embeddings")
    u = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    st = u.groupBy("label", "i").agg(
        F.count("x").alias("c"),
        F.avg("x").alias("m"),
        F.avg(F.col("x") * F.col("x")).alias("m2"),
    )
    g = u.groupBy("i").agg(F.avg("x").alias("gm"))
    return (
        st.join(F.broadcast(g), "i")
        .groupBy("label")
        .agg(
            F.max("c").alias("n"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
                    )
                ),
                5,
            ).alias("centroid_offset"),
            F.round(
                F.sum(F.col("m2") - F.col("m") * F.col("m")), 5
            ).alias("var_trace"),
        )
        .orderBy("label")
    )


SQL_EMBEDDING_DRIFT_BY_LABEL = """
WITH u AS (
  SELECT label, i - 1 AS i, embedding[i]::DOUBLE AS x
  FROM embeddings, range(1, 65) t(i)),
st AS (SELECT label, i, count(x) AS c, avg(x) AS m, avg(x * x) AS m2
       FROM u GROUP BY label, i),
g AS (SELECT i, avg(x) AS gm FROM u GROUP BY i)
SELECT st.label AS label, max(c) AS n,
       round(sqrt(sum((m - gm) * (m - gm))), 5) AS centroid_offset,
       round(sum(m2 - m * m), 5) AS var_trace
FROM st JOIN g USING (i)
GROUP BY st.label
ORDER BY label
"""


def q_ivf_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-accelerated radius search (operators/ann.py::ivf_range): probe
    the 3 nearest cells per query, exact cosine within probed cells, plain
    threshold filter — NO window, NO scan of unprobed cells. The
    index-pruned scale path for radius queries (multi_query_range's full
    scan touches everything; this touches n_probe/n_cells of 100 TB).
    Oracle: the shared IVF oracle with a radius tail — approximation
    (missed matches outside probed cells) is REPRODUCED, not waived."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    out = ANN.ivf_range(
        emb, queries_df, centroids=centroids, n_probe=3, min_score=0.3,
        id_col="vec_id", vector_col="embedding",
    )
    return _round(out, {"score": 5, "distance": 5}).orderBy(
        "query_id", "distance", "vec_id"
    )


SQL_IVF_RANGE_SEARCH = _sql_ivf(min_score=0.3)


def q_ivf_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index monitoring (operators/ann.py::ivf_health): per-cell
    population, corpus share, and mean/max cosine residual to the owning
    centroid — ONE aggregate over the same persisted inverted file the
    query path probes (rising residuals say 're-train the codebook';
    share skew says 'these cells serialize probe work'). The share window
    runs over the n_cells-row aggregate, never the corpus."""
    from vettore_spark.operators import ann as ANN

    emb = _t(spark, sf_dir, "embeddings")
    centroids = _label_mean_vectors(emb).select(
        F.col("label").alias("centroid_id"), F.col("mean").alias("centroid")
    )
    out = ANN.ivf_health(
        emb, centroids=centroids, id_col="vec_id", vector_col="embedding"
    )
    return _round(
        out, {"share": 5, "mean_dist": 5, "max_dist": 5}
    ).orderBy("cell")


SQL_IVF_HEALTH_REPORT = """
WITH pos AS (
  SELECT label, i, avg(embedding[i]::DOUBLE) AS m
  FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2),
cent AS (SELECT label::BIGINT AS cid, list(m ORDER BY i) AS cv FROM pos GROUP BY 1),
assign AS (
  SELECT e.vec_id, e.embedding,
         (SELECT c.cid FROM cent c
          ORDER BY 1 - list_cosine_similarity(e.embedding::DOUBLE[], c.cv), c.cid
          LIMIT 1) AS cell
  FROM embeddings e),
res AS (
  SELECT a.cell, 1 - list_cosine_similarity(a.embedding::DOUBLE[], c.cv) AS d
  FROM assign a JOIN cent c ON c.cid = a.cell),
agg AS (
  SELECT cell, count(*)::BIGINT AS n_rows, avg(d) AS mean_d, max(d) AS max_d
  FROM res GROUP BY cell)
SELECT cell, n_rows,
       round(n_rows / (SELECT sum(n_rows) FROM agg), 5) AS share,
       round(mean_d, 5) AS mean_dist, round(max_d, 5) AS max_dist
FROM agg ORDER BY cell
"""


SQL_MULTI_QUERY_RANGE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
  FROM embeddings e CROSS JOIN q)
SELECT query_id, vec_id, round(c, 5) AS score, round(1 - c, 5) AS distance
FROM scored WHERE c >= 0.3
ORDER BY query_id, 1 - c, vec_id
"""


SQL_KMV_WEEKLY_ROLLUP = r"""
WITH keyed AS (
  SELECT ((EXTRACT(day FROM ts) - 1) // 7)::BIGINT AS week,
         strftime(ts, '%Y-%m-%d') AS day,
         user_id::VARCHAR || ':' || event_type AS k
  FROM events
),
h AS (SELECT DISTINCT week, day, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h
      FROM keyed),
daily AS (SELECT week, day, h,
                 row_number() OVER (PARTITION BY week, day ORDER BY h) AS pos
          FROM h),
un AS (SELECT DISTINCT week, h FROM daily WHERE pos <= 128),
merged AS (SELECT week, h, row_number() OVER (PARTITION BY week ORDER BY h) AS pos
           FROM un),
ma AS (SELECT week, count(*) AS _n, max(h) AS _hk
       FROM merged WHERE pos <= 128 GROUP BY week),
dh AS (SELECT DISTINCT week, h FROM h),
drk AS (SELECT week, h, row_number() OVER (PARTITION BY week ORDER BY h) AS pos
        FROM dh),
da AS (SELECT week, count(*) AS _n, max(h) AS _hk
       FROM drk WHERE pos <= 128 GROUP BY week)
SELECT ma.week,
       round(CASE WHEN ma._n < 128 THEN CAST(ma._n AS DOUBLE)
                  ELSE (127.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(ma._hk AS DOUBLE) END, 3) AS est_from_daily,
       round(CASE WHEN da._n < 128 THEN CAST(da._n AS DOUBLE)
                  ELSE (127.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(da._hk AS DOUBLE) END, 3) AS est_direct
FROM ma JOIN da USING (week)
ORDER BY ma.week
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of the fact table (null count + exact
    distinct count per column) — the intake health check a pipeline runs
    before trusting a new drop. ONE aggregate job computes every column's
    stats (count_if + count_distinct pairs), then a literal stack unpivots
    to (column, n_nulls, n_distinct) rows; at 100 TB swap
    approx_count_distinct in — the shape is unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    ]
    aggs = []
    for c in cols:
        aggs.append(
            F.count_if(F.col(c).isNull()).cast("long").alias(f"_null_{c}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"_dist_{c}"))
    row = li.agg(*aggs)
    stacked = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"_null_{c}").alias("n_nulls"),
            F.col(f"_dist_{c}").alias("n_distinct"),
        )
        for c in cols
    ])
    return (
        row.select(F.explode(stacked).alias("_s"))
        .select("_s.column", "_s.n_nulls", "_s.n_distinct")
        .orderBy("column")
    )


SQL_TABLE_PROFILE = """
SELECT 'l_orderkey' AS "column", count(*) FILTER (l_orderkey IS NULL) AS n_nulls, count(DISTINCT l_orderkey) AS n_distinct FROM lineitem
UNION ALL
SELECT 'l_partkey', count(*) FILTER (l_partkey IS NULL), count(DISTINCT l_partkey) FROM lineitem
UNION ALL
SELECT 'l_suppkey', count(*) FILTER (l_suppkey IS NULL), count(DISTINCT l_suppkey) FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*) FILTER (l_quantity IS NULL), count(DISTINCT l_quantity) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*) FILTER (l_extendedprice IS NULL), count(DISTINCT l_extendedprice) FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*) FILTER (l_returnflag IS NULL), count(DISTINCT l_returnflag) FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*) FILTER (l_shipdate IS NULL), count(DISTINCT l_shipdate) FROM lineitem
ORDER BY "column"
"""


def q_table_profile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_profile's 100 TB variant: per-column null counts plus a KMV
    (bottom-k, k=256) distinct ESTIMATE next to the exact count for
    calibration. Exact multi-column countDistinct expands the scan by
    n_cols and shuffles every distinct value; the sketch path makes the
    same expand but ships only 256 longs per column through the shuffle —
    the profile cost stops depending on column cardinality. Deterministic
    md5-derived hashes, so the oracle reproduces the estimate
    bit-for-bit (operators/sketch.py; Bar-Yossef et al. 2002). At a real
    100 TB intake drop the exact column is omitted; it rides here so the
    gate (and SCALE.md's error-vs-k curve) can measure the relative
    error."""
    from vettore_spark.operators import sketch as SK

    li = _t(spark, sf_dir, "lineitem")
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_shipdate",
    ]
    rendered = {
        # explicit timestamp rendering: the sketch hashes the STRING, so
        # both engines must produce identical text
        "l_shipdate": F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"),
    }
    # Null rail: ONE non-exploded agg job — 7 codegen count_ifs over a
    # single scan, no Expand (the multi-countDistinct Expand previously
    # pushed 7x the row count through two aggregate phases per action).
    nulls = (
        li.agg(*[
            F.count_if(F.col(c).isNull()).cast("long").alias(f"_null_{c}")
            for c in cols
        ])
        .select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"_null_{c}").alias("n_nulls"),
                )
                for c in cols
            ])).alias("_s")
        )
        .select("_s.column", "_s.n_nulls")
    )
    # Distinct rail: the unpivoted scan's distinct (column, v) set
    # serves BOTH the exact count and the sketch (guide §2.4): the exact
    # n_distinct is count-over-distinct of the same string rendering the
    # sketch hashes (injective per column: fixed-format dates, decimal /
    # integer renderings — and the DuckDB oracle counts DISTINCT over the
    # VARCHAR rendering too, so this is the oracle's own construction),
    # and md5 is now computed per DISTINCT value, not per row. Honest
    # plan note: RemoveRedundantAggregates folds the sketch rail's
    # pre-hash distinct into its own aggregate, so the explode subtree
    # prints (and executes its map side) twice — executed tasks 256->308
    # at sf0.1 — the win is the Expand removal (the old multi-distinct
    # pushed 8x the base rows through BOTH aggregate phases) and the
    # per-distinct hashing. Measured wall (12-sample alternating A/B):
    # median 1.46 -> 1.08 s, steady-state floor ~1.3 -> ~0.95 s.
    unp = li.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    rendered.get(c, F.col(c).cast("string")).alias("v"),
                )
                for c in cols
            ])
        ).alias("_s")
    ).select("_s.column", "_s.v").filter(F.col("v").isNotNull())
    dist = unp.distinct()
    exact = dist.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
    sk = SK.kmv_sketch(dist, "v", k=256, group_by=["column"])
    est = SK.kmv_estimate(sk, k=256, group_by=["column"])
    return (
        nulls.join(exact, "column")
        .join(est, "column")
        .select("column", "n_nulls", "n_distinct", "est_distinct")
        .orderBy("column")
    )


SQL_TABLE_PROFILE_SKETCH = r"""
WITH unp AS (
  SELECT 'l_orderkey' AS c, l_orderkey::VARCHAR AS v FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey::VARCHAR FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey::VARCHAR FROM lineitem
  UNION ALL SELECT 'l_quantity', l_quantity::VARCHAR FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice::VARCHAR FROM lineitem
  UNION ALL SELECT 'l_returnflag', l_returnflag FROM lineitem
  UNION ALL SELECT 'l_shipdate', strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') FROM lineitem
),
nulls AS (
  SELECT c, CAST(count(*) FILTER (v IS NULL) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
  FROM unp GROUP BY c
),
h AS (SELECT DISTINCT c, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
      FROM unp WHERE v IS NOT NULL),
rk AS (SELECT c, h, row_number() OVER (PARTITION BY c ORDER BY h) AS pos
       FROM h),
agg AS (SELECT c, count(*) AS _n, max(h) AS _hk
        FROM rk WHERE pos <= 256 GROUP BY c)
SELECT n.c AS "column", n.n_nulls, n.n_distinct,
       round(CASE WHEN _n < 256 THEN CAST(_n AS DOUBLE)
                  ELSE (255.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(_hk AS DOUBLE) END, 3) AS est_distinct
FROM nulls n JOIN agg USING (c)
ORDER BY "column"
"""


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom runtime join filter (plans/bloom.py) — the key-level
    analog of dynamic partition pruning: build a 2^16-bit / 3-hash bitmap
    of the urgent orders' keys (one tiny bit_or aggregate, <= 1024 words,
    bounded collect into plan literals), probe every lineitem row with a
    pure map-side codegen expression, and report the funnel: fact rows,
    bloom survivors, true join partners, the false-positive leak rate,
    and the urgent revenue computed over the survivors (proving the
    superset contract: pruning never drops a true partner). At 100 TB
    the fact side is filtered in the scan stage before any shuffle; the
    bitmap is 8 KB regardless of either table's size. Deterministic md5
    bit positions, so the oracle reproduces the exact surviving set —
    false positives included."""
    from vettore_spark.plans import bloom as B

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    words = B.bloom_words(
        B.bloom_build(urgent, "o_orderkey", m_bits=1 << 16, k_hashes=3),
        m_bits=1 << 16,
    )
    flagged = li.select(
        "l_orderkey",
        B.bloom_might_contain("l_orderkey", words, k_hashes=3)
        .cast("int")
        .alias("_bloom"),
        (
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).cast("decimal(18,4)").alias("_rev"),
    )
    j = flagged.join(
        F.broadcast(urgent.withColumn("_m", F.lit(1))),
        flagged["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_fact"),
        F.sum("_bloom").cast("long").alias("n_bloom_pass"),
        F.count("_m").cast("long").alias("n_true"),
        F.sum(F.when(F.col("_m").isNotNull(), F.col("_rev"))).alias("_rev_t"),
    )
    return agg.select(
        "n_fact",
        "n_bloom_pass",
        "n_true",
        (F.col("n_bloom_pass") - F.col("n_true")).alias("fp_leaked"),
        F.round(
            (F.col("n_bloom_pass") - F.col("n_true")).cast("double")
            / (F.col("n_fact") - F.col("n_true")).cast("double"),
            6,
        ).alias("fp_rate"),
        F.round(F.col("_rev_t"), 2).cast("double").alias("urgent_revenue"),
    )


def _sql_bloom_pos(i: int, key_expr: str = "k") -> str:
    """SQL twin of plans.bloom._positions: Kirsch-Mitzenmacher double
    hashing from ONE md5 draw — h1 + i*h2 mod m with h1 = low 30 bits,
    h2 = high 30 bits forced odd."""
    h = f"(('0x' || substr(md5('bloom:' || {key_expr}), 1, 15))::BIGINT)"
    return (
        f"((({h} % 1073741824) + {i} * (({h} // 1073741824) | 1)) % 65536)"
    )


SQL_BLOOM_JOIN_PRUNE = f"""
WITH urgent AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
keys AS (SELECT o_orderkey::VARCHAR AS k FROM urgent),
pos AS (
  SELECT {_sql_bloom_pos(0)} AS p FROM keys
  UNION ALL SELECT {_sql_bloom_pos(1)} FROM keys
  UNION ALL SELECT {_sql_bloom_pos(2)} FROM keys
),
words AS (
  SELECT p // 64 AS widx, bit_or(CASE WHEN p % 64 = 63 THEN -9223372036854775808
              ELSE (1::BIGINT << (p % 64)::INTEGER) END) AS word
  FROM pos GROUP BY 1
),
fkeys AS (SELECT DISTINCT l_orderkey FROM lineitem),
fpos AS (
  SELECT l_orderkey, {_sql_bloom_pos(0, "l_orderkey::VARCHAR")} AS p FROM fkeys
  UNION ALL SELECT l_orderkey, {_sql_bloom_pos(1, "l_orderkey::VARCHAR")} FROM fkeys
  UNION ALL SELECT l_orderkey, {_sql_bloom_pos(2, "l_orderkey::VARCHAR")} FROM fkeys
),
fhit AS (
  SELECT f.l_orderkey,
         min(CASE WHEN (coalesce(w.word, 0)
                   & (CASE WHEN f.p % 64 = 63 THEN -9223372036854775808
                           ELSE (1::BIGINT << (f.p % 64)::INTEGER) END))
                       = (CASE WHEN f.p % 64 = 63 THEN -9223372036854775808
                               ELSE (1::BIGINT << (f.p % 64)::INTEGER) END)
                  THEN 1 ELSE 0 END) AS hit
  FROM fpos f LEFT JOIN words w ON w.widx = f.p // 64
  GROUP BY 1
),
rows_f AS (
  SELECT l.l_orderkey, h.hit,
         CASE WHEN u.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS m,
         CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4)) AS rev
  FROM lineitem l
  JOIN fhit h ON h.l_orderkey = l.l_orderkey
  LEFT JOIN urgent u ON u.o_orderkey = l.l_orderkey
)
SELECT CAST(count(*) AS BIGINT) AS n_fact,
       CAST(sum(hit) AS BIGINT) AS n_bloom_pass,
       CAST(sum(m) AS BIGINT) AS n_true,
       CAST(sum(hit) - sum(m) AS BIGINT) AS fp_leaked,
       round((sum(hit) - sum(m))::DOUBLE / (count(*) - sum(m))::DOUBLE, 6) AS fp_rate,
       CAST(round(sum(CASE WHEN m = 1 THEN rev END), 2) AS DOUBLE) AS urgent_revenue
FROM rows_f
"""


def q_events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew diagnostic (plans/skew.py::skew_report) over the event
    stream's user key: top-5 heaviest users with row share and the ratio
    vs a uniform key — the measurement that decides whether salted_agg /
    salt_join is worth its extra shuffle. One combinable count aggregate
    + a single-row totals broadcast + TakeOrderedAndProject."""
    from vettore_spark.plans.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id", top_k=5)


SQL_EVENTS_SKEW_REPORT = """
WITH counts AS (
  SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
),
totals AS (
  SELECT sum(n_rows) AS _total, count(*) AS _n_keys FROM counts
)
SELECT user_id, n_rows,
       round(n_rows / _total, 5) AS share,
       round(n_rows * _n_keys / _total, 3) AS skew_ratio
FROM counts, totals
ORDER BY n_rows DESC, user_id
LIMIT 5
"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleanup (text.c4_line_filter). The synthetic
    corpus is single-line with no punctuation, so the gate PLANTS line
    structure deterministically (the pii_redact pattern): 7-token lines,
    a terminal '.' on lines with index % 3 != 0. The filter must then
    keep exactly the terminated full-length lines — the remainder line
    additionally exercises the min-words rule."""
    docs = _t(spark, sf_dir, "documents")
    lines = D.unit_chunks("text", window=7)
    planted = F.array_join(
        F.transform(
            lines,
            lambda l, i: F.concat(
                l, F.when(i % 3 != 0, F.lit(".")).otherwise(F.lit(""))
            ),
        ),
        "\n",
    )
    src = docs.select("doc_id", planted.alias("text"))
    return TX.c4_line_filter(src).withColumn("text", F.md5("text"))


SQL_C4_LINE_FILTER = r"""
WITH planted AS (
  SELECT doc_id,
         list_transform(
           range(0, greatest(1, ceil(len(t) / 7.0))::BIGINT),
           i -> array_to_string(t[(i*7+1):(i*7+7)], ' ')
                || (CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END)
         ) AS lines
  FROM (SELECT doc_id, regexp_split_to_array(text, ' ') AS t FROM documents)
),
f AS (
  SELECT doc_id, lines,
         list_filter(lines,
           l -> len(regexp_split_to_array(trim(l), '[ \t\n\x0B\f\r]+')) >= 5
                AND right(trim(l), 1) IN ('.', '!', '?', '"')) AS kept
  FROM planted
)
SELECT doc_id,
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS text,
       len(lines)::BIGINT AS n_lines,
       len(kept)::BIGINT AS n_kept,
       round(len(kept)::DOUBLE / len(lines)::DOUBLE, 5) AS kept_frac
FROM f
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with a join-side predicate (non-urgent orders only — the
    predicate must live in the join condition, not a WHERE, or customers
    with only urgent orders vanish instead of counting 0), then a
    double aggregate: per-customer count -> histogram of counts."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count per part attribute, adapted: the
    reduced schema has no partsupp, so the part-supplier relation comes
    from lineitem): per (brand, type, size) the number of DISTINCT
    suppliers — a count-distinct grouped over a broadcast-dim join with
    dim-side exclusion filters."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 2, 3, 4, 5))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#1'
  AND p_size IN (1, 2, 3, 4, 5)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier; adapted: no partsupp, so the
    part-supplier relation and its supply cost come from lineitem — cost =
    min observed unit price per (part, supplier)). The correlated
    min-subquery compiles to a window min over p_partkey on the eligible
    set and an equality filter — one shuffle on the already-dim-filtered
    rows instead of a re-join. Per-row unit price is bit-identical in both
    engines and min is order-free, so the equality is exact. Full
    deterministic sort (s_suppkey tie-break) makes the LIMIT boundary
    engine-independent."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 2, 3) & (F.col("p_type") == "SMALL")
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("_cost")
    )
    elig = (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        elig.withColumn("_mn", F.min("_cost").over(w))
        .filter(F.col("_cost") == F.col("_mn"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "s_suppkey",
            F.round("_cost", 5).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey",
                 "s_suppkey")
        .limit(100)
    )


SQL_TPCH_Q2 = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS _cost
  FROM lineitem GROUP BY 1, 2
),
elig AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey, _cost
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size IN (1, 2, 3) AND p_type = 'SMALL' AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
       round(_cost, 5) AS supplycost
FROM elig e
WHERE _cost = (SELECT min(_cost) FROM elig i WHERE i.p_partkey = e.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the seven-table star with
    nation joined in TWO roles (customer market, supplier origin), a
    conditional decimal sum over a full sum per year. All dims broadcast;
    the only shuffle is the final groupBy over ~years rows. Both sums are
    exact decimals, so the double division and 5-dp round are
    engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    ords = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nat.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_regionkey").alias("_n1reg")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("_supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("_n1key"))
        .join(F.broadcast(reg), F.col("_n1reg") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("_n2key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("_supp_nation") == "NATION_3", vol).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).alias("_nat"),
            F.sum(vol).alias("_tot"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_nat").cast("double") / F.col("_tot").cast("double"), 5
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


SQL_TPCH_Q8 = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(
         CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE),
         5) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY 1 ORDER BY 1
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock; adapted via lineitem): per-part
    shipped value for a nation group, kept when above a FRACTION of the
    global total — the scalar-subquery-on-own-aggregate pattern, planned
    as aggregate -> single-row broadcast -> filter (the global total never
    leaves the cluster). Decimal sums keep both the per-part values and
    the threshold exact; the threshold comparison happens in double on
    identical operands."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    val = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                    "decimal(18,4)"
                )
            ).alias("_val")
        )
    )
    tot = val.agg(F.sum("_val").alias("_tot"))
    return (
        val.join(F.broadcast(tot))
        .filter(
            F.col("_val").cast("double") > F.col("_tot").cast("double") * 0.002
        )
        .select(
            "partkey",
            F.round("_val", 2).cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "partkey")
    )


SQL_TPCH_Q11 = """
WITH val AS (
  SELECT l_partkey AS partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS _val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT partkey, CAST(round(_val, 2) AS DOUBLE) AS value
FROM val
WHERE CAST(_val AS DOUBLE) >
      (SELECT CAST(sum(_val) AS DOUBLE) FROM val) * CAST(0.002 AS DOUBLE)
ORDER BY value DESC, partkey
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority counts; adapted: the
    reduced schema has no shipmode/commitdate/receiptdate, so lateness is
    l_shipdate > o_orderdate + 60 days). One fact-fact equi-join on
    orderkey and a conditional-count groupBy over five priority rows —
    the CASE-sum pattern Catalyst folds into a single partial-aggregated
    pass. Timestamp comparison is exact in both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    ords = _t(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("late_count"),
            F.sum(F.when(late, 0).otherwise(1)).cast("long").alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


SQL_TPCH_Q12 = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                     THEN 0 ELSE 1 END) AS BIGINT) AS ontime_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess stock; adapted via lineitem:
    'availqty' = quantity shipped in the window). Nested IN-subqueries
    compile to a left-semi chain: part-filtered shipped aggregate ->
    distinct supplier keys -> semi-join into supplier. Quantity sums are
    decimal (order-free), so the > threshold cut is exact. No row
    explosion anywhere — every stage only narrows."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%small%"))
    supp = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_qty"))
        .filter(F.col("_qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name", "s_suppkey")
    )


SQL_TPCH_Q20 = """
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS _qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND p_name LIKE '%small%'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE _qty > 50)
ORDER BY s_name, s_suppkey
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who alone delayed multi-supplier orders;
    adapted lateness: l_shipdate > o_orderdate + 60 days). The correlated
    EXISTS / NOT EXISTS pair compiles to left-semi ('another supplier
    participated') + left-anti ('no OTHER supplier was late') joins on
    orderkey with a suppkey-inequality residual — the canonical Spark
    translation; no window, no collect. `late` is built once and reused
    for both the probe side and the anti side (same order => same
    o_orderdate, so the correlated date predicate folds into the shared
    relation)."""
    li = _t(spark, sf_dir, "lineitem")
    ords = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    late = (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    l1 = (
        late.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


SQL_TPCH_Q21 = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_4'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
"""


def q_kmv_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch per day vs the exact count.
    The sketch side moves k=128 longs per day instead of every distinct
    (user, event_type) key — the shape that holds when a day has a billion
    distinct keys — and the estimator is deterministic (md5-derived
    60-bit hashes), so the oracle reproduces the estimate bit-for-bit.
    operators/sketch.py; Bar-Yossef et al. 2002 / Beyer et al. SIGMOD'07."""
    from vettore_spark.operators import sketch as SK

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("event_type")
        ).alias("k"),
    )
    # Exact rail counts over the explicit distinct set instead of
    # countDistinct over the keyed stream. The measured effect (r14
    # A/B, same session, 6 samples each order): stage/task counts are
    # UNCHANGED (17 stages / 203 tasks both — Catalyst plans both forms
    # as partial-distinct then final agg, no exchange is deduplicated),
    # but the exact rail's FINAL exchange now carries only [day] +
    # partial_count(1) where countDistinct's final phase shipped every
    # distinct (day, k) string (plan diff: partial_count(distinct k)
    # over Input [day, k] -> partial_count(1) over Input [day]) — fewer
    # shuffled bytes per guide §2.3 — and the multi-distinct rewrite no
    # longer runs at plan time (~0.2 s/build at bench scale). Wall
    # median 0.93 -> 0.77 s; the sketch is a function of the distinct
    # key set, so results are bit-identical.
    dist = keyed.distinct()
    sk = SK.kmv_sketch(dist, "k", k=128, group_by=["day"])
    est = SK.kmv_estimate(sk, k=128, group_by=["day"])
    exact = dist.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return est.join(exact, "day").select(
        "day", "n_exact", "est_distinct"
    ).orderBy("day")


SQL_KMV_DISTINCT_DAILY = r"""
WITH keyed AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         user_id::VARCHAR || ':' || event_type AS k
  FROM events
),
h AS (SELECT DISTINCT day, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h
      FROM keyed),
rk AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS pos
       FROM h),
agg AS (SELECT day, count(*) AS _n, max(h) AS _hk
        FROM rk WHERE pos <= 128 GROUP BY day),
ex AS (SELECT day, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
       FROM keyed GROUP BY day)
SELECT day, n_exact,
       round(CASE WHEN _n < 128 THEN CAST(_n AS DOUBLE)
                  ELSE (127.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(_hk AS DOUBLE) END, 3) AS est_distinct
FROM agg JOIN ex USING (day)
ORDER BY day
"""


def q_kmv_shingle_overlap(
    spark: SparkSession, sf_dir: str, *, exact: bool = True
) -> DataFrame:
    """Corpus-similarity via sketch SET OPERATIONS: split the corpus into
    halves (doc_id parity), sketch each half's word-3-gram shingle set
    (k=256), and estimate Jaccard / union / intersection from the merged
    sketch — next to the exact set arithmetic for calibration.

    TIER DISPATCH (r10 verdict watch item 2): the exact side is a
    CALIBRATION tier — a full-outer join of the two distinct-shingle
    sets, i.e. a full distinct-shingle shuffle per corpus. It rides
    inside the gated query (exact=True, the default) so the driver's
    hash compare covers both tiers at gate scale; the PRODUCTION plan at
    100 TB passes exact=False and ships ONLY the sketch side — 256 longs
    per corpus answer any pairwise overlap question between N corpora
    without re-reading them, with no distinct shuffle anywhere."""
    from vettore_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(
            D.shingle_array(D.tokens(F.coalesce(F.col("text"), F.lit(""))), 3)
        ).alias("s"),
    )
    # One shared membership aggregate replaces four `sh` subtrees
    # (guide §2.4): the previous shape referenced `sh` from two sketch
    # and two exact-distinct subtrees — tokenize+shingle+explode (the
    # expensive string HOF work) per subtree — and the exact side paid a
    # full-outer sort-merge join on top. groupBy(s) with per-half
    # membership flags is one subtree whose shuffle all three consumers
    # share; the sketches take the same distinct-shingle sets as before
    # (a KMV sketch is a function of the distinct key set) and the exact
    # union/intersection are the same counts the full-outer join
    # produced. Measured (r14, 6-sample alternating A/B, same session):
    # full-outer SMJ gone from the plan, executed stages 17 -> 16 and
    # tasks 333 -> 272 per count(), wall median 1.81 -> 0.75 s.
    flags = sh.groupBy("s").agg(
        F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias("_ina"),
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("_inb"),
    )
    a = SK.kmv_sketch(flags.filter(F.col("_ina") == 1), "s", k=256)
    b = SK.kmv_sketch(flags.filter(F.col("_inb") == 1), "s", k=256)
    est = SK.kmv_overlap(a, b, k=256)
    if not exact:
        return est.select("jaccard", "est_union", "est_intersection")
    exact_side = flags.agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(
            F.when((F.col("_ina") == 1) & (F.col("_inb") == 1), 1).otherwise(0)
        ).cast("long").alias("exact_intersection"),
    )
    return est.join(F.broadcast(exact_side)).select(
        "jaccard", "est_union", "est_intersection",
        "exact_union", "exact_intersection",
    )


SQL_KMV_SHINGLE_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id % 2 AS half,
         regexp_split_to_array(trim(coalesce(text, '')), '[ \t\n\x0B\f\r]+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT half,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks WHERE len(t) >= 3
),
hs AS (SELECT half, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS pos
                      FROM (SELECT DISTINCT h FROM hs WHERE half = 0))
       WHERE pos <= 256),
kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS pos
                      FROM (SELECT DISTINCT h FROM hs WHERE half = 1))
       WHERE pos <= 256),
mg AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS pos
                      FROM (SELECT h FROM ka UNION SELECT h FROM kb))
       WHERE pos <= 256),
fl AS (SELECT mg.h,
              (mg.h IN (SELECT h FROM ka) AND mg.h IN (SELECT h FROM kb))
                AS _both
       FROM mg),
agg AS (SELECT count(*) AS _n, max(h) AS _hk,
               sum(CASE WHEN _both THEN 1 ELSE 0 END) AS _nboth
        FROM fl),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union,
         CAST(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_intersection
  FROM (SELECT h,
               bool_or(half = 0) AS ina, bool_or(half = 1) AS inb
        FROM (SELECT DISTINCT half, h FROM hs) GROUP BY h)
)
SELECT round(CAST(_nboth AS DOUBLE) / CAST(_n AS DOUBLE), 5) AS jaccard,
       round(CASE WHEN _n < 256 THEN CAST(_n AS DOUBLE)
                  ELSE (255.0 * CAST(1152921504606846976 AS DOUBLE))
                       / CAST(_hk AS DOUBLE) END, 3) AS est_union,
       round((CAST(_nboth AS DOUBLE) / CAST(_n AS DOUBLE))
             * (CASE WHEN _n < 256 THEN CAST(_n AS DOUBLE)
                     ELSE (255.0 * CAST(1152921504606846976 AS DOUBLE))
                          / CAST(_hk AS DOUBLE) END), 3) AS est_intersection,
       exact_union, exact_intersection
FROM agg, ex
"""


def q_cms_token_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over corpus tokens: estimated vs
    exact frequency for the 20 most frequent tokens. The sketch is
    depth*width = 4*1024 counters regardless of corpus size (map-side
    partial sums; the finished sketch broadcasts into the lookup), and
    the count-min guarantee est >= exact is visible in the output.
    Deterministic bucket hashing makes the estimate oracle-able.
    operators/sketch.py; Cormode & Muthukrishnan 2005."""
    from vettore_spark.operators import sketch as SK

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(D.tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok")
    ).filter(F.col("tok") != "")
    cms = SK.cms_build(toks, "tok", depth=4, width=1024)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(20)
    )
    return SK.cms_lookup(cms, top, "tok", depth=4, width=1024).orderBy(
        F.desc("exact_cnt"), F.asc("tok")
    )


SQL_CMS_TOKEN_HITTERS = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(coalesce(text, '')), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
),
tf AS (SELECT tok FROM toks WHERE tok <> ''),
cms AS (
  SELECT d, ('0x' || substr(md5(d::VARCHAR || ':' || tok), 1, 15))::BIGINT
            % 1024 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tf, range(4) r(d)
  GROUP BY 1, 2
),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM tf GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 20
),
probe AS (
  SELECT top.tok, top.exact_cnt, r.d,
         ('0x' || substr(md5(r.d::VARCHAR || ':' || top.tok), 1, 15))::BIGINT
           % 1024 AS bucket
  FROM top, range(4) r(d)
)
SELECT probe.tok, probe.exact_cnt,
       CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est_cnt
FROM probe LEFT JOIN cms ON probe.d = cms.d AND probe.bucket = cms.bucket
GROUP BY probe.tok, probe.exact_cnt
ORDER BY probe.exact_cnt DESC, probe.tok
"""


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus sampling (A-ES, Efraimidis & Spirakis
    2006): 50 documents drawn without replacement with probability
    proportional to length (n_chars as the quality weight). Row-local
    key computation + one TakeOrderedAndProject — no shuffle, no RNG
    state; the md5-derived draw makes the sample reproducible in SQL.
    The ranking key is rounded to 8 dp BEFORE the top-k (both engines),
    with a doc_id tie-break, so the selection boundary is
    engine-independent. operators/sampling.py::weighted_sample."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from vettore_spark.operators.sampling import weighted_sample

    return weighted_sample(
        docs, 50, weight_col="n_chars", key_col="doc_id"
    ).orderBy(F.desc("sample_key"), "doc_id")


SQL_WEIGHTED_DOC_SAMPLE = """
SELECT doc_id, n_chars,
       round(
         ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                  AS DOUBLE) + 0.5)
            / CAST(1152921504606846976 AS DOUBLE))
         / CAST(n_chars AS DOUBLE),
         8) AS sample_key
FROM documents
WHERE n_chars > 0
ORDER BY sample_key DESC, doc_id
LIMIT 50
"""


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction by TextRank (Mihalcea & Tarau 2004):
    10 power iterations of weighted PageRank over the token-adjacency
    graph, top-20 tokens. Iterative — yet ORACLE-GATED, because the
    iteration is fixed-point INTEGER arithmetic (ranks scaled 1e9, floor
    divisions): no float ever enters the loop, so Spark and the
    unrolled-CTE oracle agree bit-for-bit by construction. The compared
    output is the exact scaled rank (long); the double rendering is for
    humans only and stays out of the gate. operators/graph.py."""
    from vettore_spark.operators.graph import textrank_keywords

    return textrank_keywords(
        _t(spark, sf_dir, "documents"), k=20, iters=10
    ).select("token", "rank_scaled")


def q_textrank_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME TextRank computation FORCED onto pagerank's distributed
    tier (driver_max_edges=0): the r9 tier split routes small graphs to
    the exact driver-side loop, which is what the default-parameter gate
    query now exercises — this twin keeps the distributed join+aggregate
    iteration oracle-verified against the identical unrolled-CTE SQL.
    Same oracle, two physical strategies — the zorder/bloom gate pattern
    applied to the execution-tier split."""
    from vettore_spark.operators.graph import textrank_keywords

    return textrank_keywords(
        _t(spark, sf_dir, "documents"), k=20, iters=10, driver_max_edges=0
    ).select("token", "rank_scaled")


def _sql_textrank(iters: int, k: int) -> str:
    """Unrolled fixed-point power-iteration oracle: it{i} CTEs mirror
    graph.pagerank exactly — same (r * w) // outweight floor division,
    same integer damped update (85//100 with a 150000000 floor)."""
    head = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '[ \t\n\x0B\f\r]+') AS t
  FROM documents
),
pairs AS (
  SELECT p.a AS a, p.b AS b FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> {'a': t[i], 'b': t[i+1]})) AS p
    FROM toks WHERE len(t) >= 2
  ) WHERE p.a <> p.b AND p.a <> '' AND p.b <> ''
),
und AS (SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM pairs GROUP BY 1, 2),
edges AS (SELECT u.a AS src, u.b AS dst, CAST(sum(u.w) AS BIGINT) AS w
          FROM (SELECT a, b, w FROM und
                UNION ALL SELECT b AS a, a AS b, w FROM und) u
          GROUP BY 1, 2),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outw AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS ow
         FROM edges GROUP BY 1),
it0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)
"""
    steps = ",".join(
        f"""
it{i} AS (
  SELECT n.node,
         CAST(150000000 + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum((p.r * e.w) // d.ow) AS m
    FROM it{i - 1} p JOIN edges e ON e.src = p.node
    JOIN outw d ON d.node = p.node
    GROUP BY e.dst) s ON n.node = s.node
)"""
        for i in range(1, iters + 1)
    )
    return (
        head
        + ","
        + steps
        + f"""
SELECT node AS token, r AS rank_scaled FROM it{iters}
ORDER BY rank_scaled DESC, token LIMIT {k}
"""
    )


SQL_TEXTRANK_KEYWORDS = _sql_textrank(10, 20)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Registration ORDER matters: the driver's correctness gate runs only the
# first 50 entries per round. Rotation happens ONCE, at round START, never
# mid-round. The raw dict below keeps the stable declaration order; the
# per-round gate window is the explicit `_GATE_WINDOW` list after it, so a
# rotation is a 50-line list edit that cannot drop or duplicate entries
# (asserted at import).
_REGISTRY_RAW: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # --- slots 1-13: round-3 additions, first driver gating ---
    "paragraph_dedup": (q_paragraph_dedup, SQL_PARAGRAPH_DEDUP),
    "paragraph_dedup_doc": (q_paragraph_dedup_doc, SQL_PARAGRAPH_DEDUP_DOC),
    "cross_corpus_dedup": (q_cross_corpus_dedup, SQL_CROSS_CORPUS_DEDUP),
    "minhash_dedup_against": (
        q_minhash_dedup_against,
        SQL_MINHASH_DEDUP_AGAINST,
    ),
    "text_normalize": (q_text_normalize, SQL_TEXT_NORMALIZE),
    "blocklist_filter": (q_blocklist_filter, SQL_BLOCKLIST_FILTER),
    "embedding_neardup_blocked": (
        q_embedding_neardup_blocked,
        SQL_EMBEDDING_NEARDUP_BLOCKED,
    ),
    "salted_event_rollup": (q_salted_event_rollup, SQL_SALTED_EVENT_ROLLUP),
    "tpch_q3_topk": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q4_exists": (q_tpch_q4, SQL_TPCH_Q4),
    "tpch_q10_returns": (q_tpch_q10, SQL_TPCH_Q10),
    "tpch_q18_volume": (q_tpch_q18, SQL_TPCH_Q18),
    "tpch_q19_bands": (q_tpch_q19, SQL_TPCH_Q19),
    # --- slots 14-20: round-3 fix-surface re-checks ---
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "neardup_clusters": (q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "hybrid_topk": (q_hybrid_topk, SQL_HYBRID_TOPK),
    "quantized_topk": (q_quantized_topk, SQL_QUANTIZED_TOPK),
    "funnel_topk": (q_funnel_topk, SQL_FUNNEL_TOPK),
    # --- slot 21: pq_adc_topk re-gated because the round-4 collect-cap
    # fix touches its code path (pq.py) ---
    "pq_adc_topk": (q_pq_adc_topk, SQL_PQ_ADC_TOPK),
    # --- slots 22-32: TPC-H / relational r2 block re-checks ---
    "tpch_q1_pricing": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q6_revenue": (q_tpch_q6, SQL_TPCH_Q6),
    # layout superset proof: Z-order-clustered lineitem, plain-Q6 oracle
    # VERBATIM (bit-identical contract, the tpch_q17_bloom pattern)
    "tpch_q6_zorder": (q_tpch_q6_zorder, SQL_TPCH_Q6),
    "tpch_q14_promo": (q_tpch_q14_promo, SQL_TPCH_Q14_PROMO),
    "supplier_nation_revenue": (q_supplier_nation_revenue, SQL_SUPPLIER_NATION_REVENUE),
    "customers_without_big_orders": (q_customers_without_big_orders, SQL_CUSTOMERS_WITHOUT_BIG_ORDERS),
    "lineitem_rollup": (q_lineitem_rollup, SQL_LINEITEM_ROLLUP),
    "shipmode_priority": (q_shipmode_priority, SQL_SHIPMODE_PRIORITY),
    "orders_above_cust_avg": (q_orders_above_cust_avg, SQL_ORDERS_ABOVE_CUST_AVG),
    "top_orders_join": (q_top_orders_join, SQL_TOP_ORDERS_JOIN),
    "customer_top_orders_window": (q_customer_top_orders_window, SQL_CUSTOMER_TOP_ORDERS_WINDOW),
    "region_revenue": (q_region_revenue, SQL_REGION_REVENUE),
    # --- slots 33-47: oldest r1 greens, not re-gated since round 1 ---
    "flat_topk_cosine": (q_flat_topk_cosine, SQL_FLAT_TOPK_COSINE),
    "flat_topk_dot": (q_flat_topk_dot, SQL_FLAT_TOPK_DOT),
    "packed_jaccard_topk": (q_packed_jaccard_topk, SQL_PACKED_JACCARD_TOPK),
    "similarity_score_mode": (q_similarity_score_mode, SQL_SIMILARITY_SCORE_MODE),
    "multi_query_topk": (q_multi_query_topk, SQL_MULTI_QUERY_TOPK),
    "prefix_topk": (q_prefix_topk, SQL_PREFIX_TOPK),
    "maxsim_label_topk": (q_maxsim_label_topk, SQL_MAXSIM_LABEL_TOPK),
    "mean_vector_by_label": (q_mean_vector_by_label, SQL_MEAN_VECTOR_BY_LABEL),
    "normalize_stats": (q_normalize_stats, SQL_NORMALIZE_STATS),
    "signbit_popcount": (q_signbit_popcount, SQL_SIGNBIT_POPCOUNT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    # --- slots 48-50: remaining r1/r2 greens longest out of window ---
    "mmr_rerank": (q_mmr_rerank, SQL_MMR_RERANK),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    # --- past the 50-entry gate window: driver-greens (r1/r2/r3) with
    # untouched implementations ---
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "user_event_features": (q_user_event_features, SQL_USER_EVENT_FEATURES),
    "bpe_pair_stats": (q_bpe_pair_stats, SQL_BPE_PAIR_STATS),
    "semdedup_prune": (q_semdedup_prune, SQL_SEMDEDUP_PRUNE),
    "text_embed": (q_text_embed, SQL_TEXT_EMBED),
    "curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    "token_budget_select": (q_token_budget_select, SQL_TOKEN_BUDGET_SELECT),
    "calibrated_quality": (q_calibrated_quality, SQL_CALIBRATED_QUALITY),
    "media_ahash_pairs": (q_media_ahash_pairs, SQL_MEDIA_AHASH_PAIRS),
    "rerank_model_topk": (q_rerank_model_topk, SQL_RERANK_MODEL),
    "retrieval_pipeline": (q_retrieval_pipeline, SQL_RETRIEVAL_PIPELINE),
    "mlm_masking": (q_mlm_masking, SQL_MLM_MASKING),
    "bitext_mining": (q_bitext_mining, SQL_BITEXT_MINING),
    "temperature_mixture": (q_temperature_mixture, SQL_TEMPERATURE_MIXTURE),
    "corpus_diversity": (q_corpus_diversity, SQL_CORPUS_DIVERSITY),
    "dedup_report": (q_dedup_report, SQL_DEDUP_REPORT),
    "domain_mixture": (q_domain_mixture, SQL_DOMAIN_MIXTURE),
    "substring_dedup": (q_substring_dedup, SQL_SUBSTRING_DEDUP),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "charlm_quality": (q_charlm_quality, SQL_CHARLM_QUALITY),
    "ivf_delete_search": (q_ivf_delete_search, SQL_IVF_DELETE_SEARCH),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "semantic_dedup_pairs": (q_semantic_dedup_pairs, SQL_SEMANTIC_DEDUP_PAIRS),
    "leakage_safe_split": (q_leakage_safe_split, SQL_LEAKAGE_SAFE_SPLIT),
    "hnsw_insert_search": (q_hnsw_insert_search, SQL_HNSW_INSERT_SEARCH),
    "bm25_batch": (q_bm25_batch, SQL_BM25_BATCH),
    "retrieval_eval": (q_retrieval_eval, SQL_RETRIEVAL_EVAL),
    "score_agreement": (q_score_agreement, SQL_SCORE_AGREEMENT),
    "fuzzy_value_pairs": (q_fuzzy_value_pairs, SQL_FUZZY_VALUE_PAIRS),
    "filtered_quantized_topk": (q_filtered_quantized_topk, SQL_FILTERED_QUANTIZED_TOPK),
    "uniform_negatives": (q_uniform_negatives, SQL_UNIFORM_NEGATIVES),
    "quality_deciles": (q_quality_deciles, SQL_QUALITY_DECILES),
    "ivf_filtered_topk": (q_ivf_filtered_topk, SQL_IVF_FILTERED_TOPK),
    "event_window_dedup": (q_event_window_dedup, SQL_EVENT_WINDOW_DEDUP),
    "embedding_outliers": (q_embedding_outliers, SQL_EMBEDDING_OUTLIERS),
    "hnsw_multi_topk": (q_hnsw_multi_topk, SQL_HNSW_MULTI_TOPK),
    "events_json_props": (q_events_json_props, SQL_EVENTS_JSON_PROPS),
    "sequence_packing": (q_sequence_packing, SQL_SEQUENCE_PACKING),
    "label_dispersion": (q_label_dispersion, SQL_LABEL_DISPERSION),
    "train_shards": (q_train_shards, SQL_TRAIN_SHARDS),
    "training_pipeline": (q_training_pipeline, SQL_TRAINING_PIPELINE),
    "muvera_fde_retrieval": (q_muvera_fde_retrieval, SQL_MUVERA_FDE_RETRIEVAL),
    "hnsw_delete_search": (q_hnsw_delete_search, SQL_HNSW_DELETE_SEARCH),
    "media_image_features": (q_media_image_features, SQL_MEDIA_IMAGE_FEATURES),
    "media_image_resize": (q_media_image_resize, SQL_MEDIA_IMAGE_RESIZE),
    "media_frame_sample": (q_media_frame_sample, SQL_MEDIA_FRAME_SAMPLE),
    "media_audio_features": (q_media_audio_features, SQL_MEDIA_AUDIO_FEATURES),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "knn_graph": (q_knn_graph, SQL_KNN_GRAPH),
    "mutual_knn_pairs": (q_mutual_knn_pairs, SQL_MUTUAL_KNN_PAIRS),
    "ann_brp_lsh_topk": (q_ann_brp_lsh_topk, SQL_ANN_BRP_LSH_TOPK),
    "ann_ivfpq_topk": (q_ann_ivfpq_topk, SQL_ANN_IVFPQ_TOPK),
    "flat_topk_l2": (q_flat_topk_l2, SQL_FLAT_TOPK_L2),
    "filtered_topk": (q_filtered_topk, SQL_FILTERED_TOPK),
    "flat_topk_manhattan": (q_flat_topk_manhattan, SQL_FLAT_TOPK_MANHATTAN),
    "flat_topk_chebyshev": (q_flat_topk_chebyshev, SQL_FLAT_TOPK_CHEBYSHEV),
    "flat_topk_jaccard": (q_flat_topk_jaccard, SQL_FLAT_TOPK_JACCARD),
    "flat_topk_hamming": (q_flat_topk_hamming, SQL_FLAT_TOPK_HAMMING),
    "ann_brute_topk": (q_ann_brute_topk, SQL_MULTI_QUERY_TOPK),
    "multi_query_quantized": (q_multi_query_quantized, SQL_MULTI_QUERY_QUANTIZED),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "sq_int8_topk": (q_sq_int8_topk, SQL_SQ_INT8_TOPK),
    "hnsw_topk": (q_hnsw_topk, SQL_HNSW_TOPK),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "rrf_fusion": (q_rrf_fusion, SQL_RRF_FUSION),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "repetition_filter": (q_repetition_filter, SQL_REPETITION_FILTER),
    "events_anomaly": (q_events_anomaly, SQL_EVENTS_ANOMALY),
    "events_asof_join": (q_events_asof_join, SQL_EVENTS_ASOF_JOIN),
    "events_range_join": (q_events_range_join, SQL_EVENTS_RANGE_JOIN),
    "events_time_rollup": (q_events_time_rollup, SQL_EVENTS_TIME_ROLLUP),
    "user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "hashed_embedding": (q_hashed_embedding, SQL_HASHED_EMBEDDING),
    "events_sliding_window": (q_events_sliding_window, SQL_EVENTS_SLIDING_WINDOW),
    # --- round-4 additions (tail: enter the gate window at the r5
    # rotation; selfcheck-verified until then) ---
    "salted_user_join": (q_salted_user_join, SQL_SALTED_USER_JOIN),
    "tpch_q5_local": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q7_nations": (q_tpch_q7, SQL_TPCH_Q7),
    "tpch_q9_profit": (q_tpch_q9, SQL_TPCH_Q9),
    "tpch_q17_smallqty": (q_tpch_q17, SQL_TPCH_Q17),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "user_retention": (q_user_retention, SQL_USER_RETENTION),
    "jl_projection": (q_jl_projection, SQL_JL_PROJECTION),
    "jl_prefilter_topk": (q_jl_prefilter_topk, SQL_JL_PREFILTER_TOPK),
    "tpch_q15_topsupp": (q_tpch_q15, SQL_TPCH_Q15),
    "tpch_q22_noorders": (q_tpch_q22, SQL_TPCH_Q22),
    "events_value_quantiles": (q_events_value_quantiles, SQL_EVENTS_VALUE_QUANTILES),
    "table_profile": (q_table_profile, SQL_TABLE_PROFILE),
    "ivf_insert_search": (q_ivf_insert_search, SQL_IVF_INSERT_SEARCH),
    "hnsw_batch_insert_search": (
        q_hnsw_batch_insert_search,
        SQL_HNSW_BATCH_INSERT_SEARCH,
    ),
    "tpch_q13_custdist": (q_tpch_q13, SQL_TPCH_Q13),
    "tpch_q16_suppcnt": (q_tpch_q16, SQL_TPCH_Q16),
    "c4_line_filter": (q_c4_line_filter, SQL_C4_LINE_FILTER),
    "events_skew_report": (q_events_skew_report, SQL_EVENTS_SKEW_REPORT),
    # full TPC-H (adapted to the reduced schema): Q2/Q8/Q11/Q12/Q20/Q21
    # complete all 22 shapes
    "tpch_q2_mincost": (q_tpch_q2, SQL_TPCH_Q2),
    "tpch_q8_mktshare": (q_tpch_q8, SQL_TPCH_Q8),
    "tpch_q11_important": (q_tpch_q11, SQL_TPCH_Q11),
    "tpch_q12_lateship": (q_tpch_q12, SQL_TPCH_Q12),
    "tpch_q20_excess": (q_tpch_q20, SQL_TPCH_Q20),
    "tpch_q21_waiting": (q_tpch_q21, SQL_TPCH_Q21),
    # deterministic sketch family (operators/sketch.py): KMV distinct
    # counting + set ops, count-min heavy hitters
    "kmv_distinct_daily": (q_kmv_distinct_daily, SQL_KMV_DISTINCT_DAILY),
    "kmv_shingle_overlap": (q_kmv_shingle_overlap, SQL_KMV_SHINGLE_OVERLAP),
    "cms_token_hitters": (q_cms_token_hitters, SQL_CMS_TOKEN_HITTERS),
    "weighted_doc_sample": (q_weighted_doc_sample, SQL_WEIGHTED_DOC_SAMPLE),
    "textrank_keywords": (q_textrank_keywords, SQL_TEXTRANK_KEYWORDS),
    # --- round-5 additions (tail: enter the gate window at the r6
    # rotation; selfcheck-verified until then) ---
    "table_profile_sketch": (q_table_profile_sketch, SQL_TABLE_PROFILE_SKETCH),
    "bloom_join_prune": (q_bloom_join_prune, SQL_BLOOM_JOIN_PRUNE),
    # --- round-6 additions (tail: enter the gate window at the r7
    # rotation; selfcheck-verified until then) ---
    "tpch_q17_bloom": (q_tpch_q17_bloom, SQL_TPCH_Q17_BLOOM),
    "store_attached_topk": (q_store_attached_topk, SQL_STORE_ATTACHED_TOPK),
    "events_quantile_sketch": (q_events_quantile_sketch, SQL_EVENTS_QUANTILE_SKETCH),
    "approx_event_rollup": (q_approx_event_rollup, SQL_APPROX_EVENT_ROLLUP),
    "zorder_cluster_profile": (q_zorder_cluster_profile, SQL_ZORDER_CLUSTER_PROFILE),
    "range_search_cosine": (q_range_search_cosine, SQL_RANGE_SEARCH_COSINE),
    "kmv_weekly_rollup": (q_kmv_weekly_rollup, SQL_KMV_WEEKLY_ROLLUP),
    "multi_query_range": (q_multi_query_range, SQL_MULTI_QUERY_RANGE),
    "ivf_range_search": (q_ivf_range_search, SQL_IVF_RANGE_SEARCH),
    "ivf_health_report": (q_ivf_health_report, SQL_IVF_HEALTH_REPORT),
    "embedding_covariance": (q_embedding_covariance, SQL_EMBEDDING_COVARIANCE),
    "pca_prefilter_topk": (q_pca_prefilter_topk, SQL_PCA_PREFILTER_TOPK),
    "zca_whiten_stats": (q_zca_whiten_stats, SQL_ZCA_WHITEN_STATS),
    "embedding_drift_by_label": (
        q_embedding_drift_by_label,
        SQL_EMBEDDING_DRIFT_BY_LABEL,
    ),
    # --- round-8 additions (tail: enter the gate window at the r9
    # rotation; selfcheck-verified until then) ---
    "mutual_knn_blocked": (q_mutual_knn_blocked, SQL_MUTUAL_KNN_BLOCKED),
    "mutual_knn_multiband": (q_mutual_knn_multiband, SQL_MUTUAL_KNN_MULTIBAND),
    "mutual_knn_cellblocked": (
        q_mutual_knn_cellblocked,
        SQL_MUTUAL_KNN_CELLBLOCKED,
    ),
    # a REAL Structured Streaming run (availableNow bounded replay) gated
    # against the batch oracle VERBATIM — the zorder/bloom "same oracle,
    # different execution" pattern applied to the streaming engine
    "streaming_events_hourly": (q_streaming_events_hourly, SQL_EVENTS_HOURLY),
    # the STATEFUL streaming path (applyInPandasWithState) under the same
    # bounded-replay gate: single-batch replay makes the intra-batch keep
    # rule the whole answer, so plain SQL oracles the GroupState engine
    "streaming_dedup_keepers": (
        q_streaming_dedup_keepers,
        SQL_STREAMING_DEDUP_KEEPERS,
    ),
    # --- round-9 addition (gated r10, slot 1) --- the distributed
    # pagerank tier's oracle gate, now that the default-parameter
    # textrank_keywords takes the driver tier on gate-sized corpora
    "textrank_distributed": (q_textrank_distributed, SQL_TEXTRANK_KEYWORDS),
    # --- round-10 additions: the previously pytest-only stateful
    # streaming operators, gated via availableNow replay (the
    # streaming_events_hourly pattern) — engine dropDuplicatesWithinWatermark,
    # applyInPandasWithState funnel, and the stateful KMV sketch
    "streaming_horizon_dedup": (
        q_streaming_horizon_dedup,
        SQL_STREAMING_HORIZON_DEDUP,
    ),
    "streaming_funnel_stage": (
        q_streaming_funnel_stage,
        SQL_STREAMING_FUNNEL_STAGE,
    ),
    "streaming_kmv_distinct": (
        q_streaming_kmv_distinct,
        SQL_STREAMING_KMV_DISTINCT,
    ),
    # --- round-10 tail additions (enter the gate window at the r11
    # rotation; selfcheck-verified until then): the remaining stateful
    # streaming operators with hash-stable oracles — running top-k
    # leaderboard, engine session windows, histogram quantile sketch.
    # (streaming_zscore_anomaly's RAW z floats stay pytest-only BY
    # DESIGN: its Welford running moments accumulate in a different
    # floating-point order than any SQL window aggregate, so a
    # cross-engine value hash would flake at the ULP level;
    # streaming_simhash_candidates' capped bucket state is
    # arrival-order-dependent past the cap — both multi-batch-pinned in
    # tests/test_stateful.py, and both now ALSO carry deterministic-
    # projection twin gates, registered below as the round-11 block.)
    "streaming_topk_per_key": (
        q_streaming_topk_per_key,
        SQL_STREAMING_TOPK_PER_KEY,
    ),
    "streaming_session_counts": (
        q_streaming_session_counts,
        SQL_STREAMING_SESSION_COUNTS,
    ),
    "streaming_histogram_quantiles": (
        q_streaming_histogram_quantiles,
        SQL_EVENTS_QUANTILE_SKETCH,
    ),
    "streaming_unit_dedup": (
        q_streaming_unit_dedup,
        SQL_STREAMING_UNIT_DEDUP,
    ),
    "streaming_moment_stats": (
        q_streaming_moment_stats,
        SQL_STREAMING_MOMENT_STATS,
    ),
    # --- round-11 additions (gated r11, slots 6-7): deterministic-
    # projection twin gates for the two BY-DESIGN ungated stateful
    # operators. The RAW surfaces stay pytest-only — zscore's Welford
    # float fold is ULP-order-sensitive vs any SQL window, simhash's
    # bucket state is arrival-order-dependent PAST its cap — but the
    # projections are exact: integer anomaly counts at a threshold with
    # ~8e-4 margin, and the below-cap distinct candidate-pair set with
    # the SQL-reproducible poly_hash62 fingerprint. With these, all 12
    # streaming operators carry a driver gate.
    "streaming_zscore_flag_counts": (
        q_streaming_zscore_flag_counts,
        SQL_STREAMING_ZSCORE_FLAG_COUNTS,
    ),
    "streaming_simhash_pairs": (
        q_streaming_simhash_pairs,
        SQL_SIMHASH_PAIRS,
    ),
}

# Round-15 gate window (rotated per the round-14 verdict item #1, then
# reconciled at round END so no r15-changed query's gate trails its
# change). Slots 1-13 are the r15-CHANGED surfaces: the ten decimal-rail
# money-sum queries (exact-DECIMAL order-free sums, query+oracle changed
# in lockstep), the simhash gate (JVM-side pair expansion + bucketed
# state), and the two textrank tiers (pagerank's size-tiered broadcast
# of the contribution vector — keywords' driver tier shares the edge
# derivation). Slots 14-25 are the 12 r14-changed surfaces whose r14
# gate predated the change (r14 verdict #1's explicit list: the
# bucketed-state streaming gates, the 8-file single-batch sources, the
# profile-sketch rewrite, kmv_weekly_rollup, and the q17 SHJ flips).
# Slots 26-50 are the 25 alphabetically-first of the 38 remaining
# queries whose latest driver green is r11 — the oldest surviving
# greens; the other 13 r11 greens (mean_vector_by_label ..
# zorder_cluster_profile) are the round-16 rotation block. 13+12+25
# fills 50 exactly; after this gate no changed query's latest green
# trails its change and nothing is gated older than r11 except that
# 13-query remainder.
_GATE_WINDOW: list[str] = [
    # --- slots 1-13: r15-changed surfaces ---
    "tpch_q1_pricing",
    "tpch_q6_revenue",
    "tpch_q6_zorder",
    "tpch_q3_topk",
    "tpch_q14_promo",
    "tpch_q19_bands",
    "top_orders_join",
    "region_revenue",
    "supplier_nation_revenue",
    "lineitem_rollup",
    "streaming_simhash_pairs",
    "textrank_distributed",
    "textrank_keywords",
    # --- slots 14-25: r14-changed, gate trailed the change (r14 verdict #1) ---
    "streaming_funnel_stage",
    "streaming_topk_per_key",
    "streaming_unit_dedup",
    "streaming_dedup_keepers",
    "streaming_zscore_flag_counts",
    "streaming_events_hourly",
    "streaming_session_counts",
    "streaming_histogram_quantiles",
    "table_profile_sketch",
    "kmv_weekly_rollup",
    "tpch_q17_smallqty",
    "tpch_q17_bloom",
    # --- slots 26-50: oldest surviving greens (r11), alphabetical ---
    "ann_brute_topk",
    "ann_ivf_topk",
    "approx_event_rollup",
    "bpe_pair_stats",
    "charlm_quality",
    "corpus_diversity",
    "corpus_stats",
    "dedup_exact",
    "doc_fingerprint",
    "embedding_covariance",
    "embedding_drift_by_label",
    "embedding_outliers",
    "event_window_dedup",
    "events_hourly",
    "events_json_props",
    "events_quantile_sketch",
    "fuzzy_value_pairs",
    "hnsw_batch_insert_search",
    "hnsw_insert_search",
    "ivf_insert_search",
    "ivf_range_search",
    "knn_graph",
    "label_dispersion",
    "lang_id",
    "leakage_safe_split",
]

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    name: _REGISTRY_RAW[name] for name in _GATE_WINDOW
}
_REGISTRY.update(
    (name, spec) for name, spec in _REGISTRY_RAW.items() if name not in _REGISTRY
)
assert len(_REGISTRY) == len(_REGISTRY_RAW), "gate rotation dropped a query"
assert len(_GATE_WINDOW) == len(set(_GATE_WINDOW)), "gate window has duplicates"



# Prepared-query memo: the registry functions are pure plan builders over
# immutable inputs, so the built (analyzed) DataFrame is reusable across
# invocations. Building + analyzing a 64-dim HOF expression tree costs
# ~0.5 s of driver time — at repeated-query workloads (bench, serving) the
# plan is the prepared statement and only execution should be paid per call.
# Bounded LRU: a long-lived session sweeping many (appId, sf_dir) pairs must
# not grow the memo without bound — 4x the registry covers several active
# directories while evicting plans for sessions/dirs no longer in use
# (evicted entries are just analyzed plans, cheap to rebuild on re-touch).
_DF_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_DF_CACHE_MAX = 4 * len(_REGISTRY)


def _prepared(name: str, fn: Callable) -> Callable:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Session timezone is read at EXECUTION time, so the UTC pin
        # must ride every dispatch, not just the first table load: a
        # driver whose session tz is not UTC would otherwise bucket
        # date_trunc/date_format in local time while the DuckDB oracles'
        # naive timestamps are effectively UTC (r14 tz audit; parity
        # pinned under a hostile tz in tests/test_hardening_r14.py).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        key = (spark.sparkContext.applicationId, sf_dir, name)
        df = _DF_CACHE.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _DF_CACHE[key] = df
            while len(_DF_CACHE) > _DF_CACHE_MAX:
                _DF_CACHE.popitem(last=False)
        else:
            _DF_CACHE.move_to_end(key)
        return df

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _prepared(name, fn) for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    # A registry entry may hold the SQL string OR a zero-arg builder
    # (data-dependent oracles — PCA — must be rendered at call time
    # against the gate's sf_dir, not at import).
    out: dict[str, str] = {}
    for name, (_, sql) in _REGISTRY.items():
        if callable(sql):
            sql = sql()
        if sql is not None:
            out[name] = sql
    return out
