"""One result order for every top-k operator (operators/search.py
`rank_order` / `rank_per_query`): rank key ascending NULLS LAST, ties by id
ascending, `rank` numbered 1..k per query with no gaps.

The fixture holds exact-duplicate vectors under different ids, with small
integer coordinates so every metric value is computed exactly and the
duplicates tie bit-for-bit on every path (JVM kernels, NumPy GEMM, graph
shards, PQ codes). Rows are stored in DESCENDING id order over two
partitions, and the block grid and shard counts below are ones where the
tied rows reach the merge window out of id order, so an operator that
dropped the id tie-break would return the ties in arrival order and fail.
Query q0's nearest group is four duplicates and k = 3, so the cut falls
inside the tie.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions import kernels as K

A = [1.0, 1.0, 1.0, 0.0]  # l2 1 from q0
B = [-1.0, 2.0, 0.0, 0.0]  # l2 1 from q1
ROWS = {
    "r09": A, "r03": A, "r06": A, "r01": A,
    "r11": B, "r02": B, "r07": B,
    "r05": [2.0, 2.0, 2.0, 2.0],
    "r10": [2.0, 2.0, 2.0, 2.0],
    "r04": [1.0, 1.0, 0.0, 0.0],
    "r08": [0.0, -1.0, 1.0, 2.0],
    "r12": [-2.0, 0.0, 1.0, -1.0],
}
QUERIES = {"q0": [1.0, 1.0, 1.0, 1.0], "q1": [-1.0, 2.0, 0.0, 1.0]}
K_ = 3


@pytest.fixture(scope="module")
def coll(spark):
    rows = [(i, ROWS[i]) for i in sorted(ROWS, reverse=True)]
    df = spark.createDataFrame(rows, "id string, vector array<double>")
    # two partitions, larger ids first: a merge window fed p0 then p1 sees
    # r09 ahead of r01..r06 unless it breaks ties by id
    return df.withColumn(
        "binary_vector", K.compress_sign_bits(F.col("vector"), 4)
    ).coalesce(2)


@pytest.fixture(scope="module")
def queries(spark):
    return spark.createDataFrame(
        sorted(QUERIES.items()), "query_id string, query_vector array<double>"
    )


def _l2(q, ids):
    qv = np.asarray(q)
    return {i: float(np.sqrt(((np.asarray(ROWS[i]) - qv) ** 2).sum())) for i in ids}


def _hamming(q, ids):
    qs = np.asarray(q) >= 0
    return {i: int((qs != (np.asarray(ROWS[i]) >= 0)).sum()) for i in ids}


def _exact(key_of, q, ids=None, k=K_):
    d = key_of(q, list(ids or ROWS))
    return sorted(d, key=lambda i: (d[i], i))[:k]


def _multi(spark, coll, queries):
    from vettore_spark.operators import search as S

    return S.multi_query_topk(queries, coll, metric="l2", k=K_)


def _quantized(stage1):
    def run(spark, coll, queries):
        from vettore_spark.operators import search as S

        return S.multi_query_quantized(
            queries, coll, dims=4, metric="l2", k=K_, candidates=12,
            stage1=stage1,
        )

    return run


def _brute(spark, coll, queries):
    from vettore_spark.operators import ann as A_

    return A_.brute_force_topk(
        coll, queries, k=K_, metric="l2", id_col="id", vector_col="vector"
    )


def _hamming_brute(spark, coll, queries):
    from vettore_spark.operators import ann as A_

    return A_.hamming_brute_topk(
        coll, queries, k=K_, id_col="id", vector_col="vector"
    )


def _self_knn(spark, coll, queries):
    from vettore_spark.operators import ann as A_

    return A_.self_knn_topk(
        coll, k=K_, metric="l2", id_col="id", vector_col="vector",
        query_blocks=2, data_blocks=3,
    ).filter(F.col("query_id").isin("r01", "r11"))


def _blocked(spark, coll, queries):
    from vettore_spark.operators import ann as A_

    # two 1-bit bands: ranks merge across bands through the shared window
    return A_.blocked_knn_topk(
        coll, k=K_, metric="l2", id_col="id", vector_col="vector",
        n_bits=1, n_bands=2,
    ).filter(F.col("query_id").isin("r01", "r11"))


def _ivf(spark, coll, queries):
    from vettore_spark.operators import ann as A_

    cents = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], "centroid_id long, centroid array<double>"
    )
    return A_.ivf_topk(
        coll, queries, centroids=cents, n_probe=1, k=K_,
        id_col="id", vector_col="vector",
    )


def _hnsw(spark, coll, queries):
    from vettore_spark.operators import hnsw as H

    return H.hnsw_search(
        coll, sorted(QUERIES.items()), metric="l2", k=K_, num_partitions=5
    )


def _books():
    from vettore_spark.operators import pq as PQ

    mat = np.array([ROWS[i] for i in sorted(ROWS)])
    return PQ.pq_train_kmeans(mat, m=2, n_codes=4, iters=3)


def _pq_adc(n_queries):
    def run(spark, coll, queries):
        from vettore_spark.operators import pq as PQ

        codes = PQ.pq_encode(coll, _books(), id_col="id", vector_col="vector")
        return PQ.pq_adc_topk(
            codes, queries.limit(n_queries), _books(), k=K_, id_col="id"
        )

    return run


def _pq_search(spark, coll, queries):
    from vettore_spark.operators import pq as PQ

    return PQ.pq_search(
        coll, queries, _books(), candidates=12, k=K_, metric="l2",
        id_col="id", vector_col="vector",
    )


def _brp(spark, coll, queries):
    from vettore_spark.operators import mllib_lsh as L

    # one huge bucket: every row is a candidate, so the LSH top-k is exact
    return L.brp_lsh_topk(coll, queries, k=K_, bucket_length=1e6)


# (operator, rank type at this API, exact oracle key or None when the
# candidate set is approximate and only the order is checked)
OPERATORS = {
    "multi_query_topk": (_multi, T.IntegerType(), _l2),
    "multi_query_quantized_expr": (_quantized("expr"), T.IntegerType(), _l2),
    "multi_query_quantized_arrow": (_quantized("arrow"), T.IntegerType(), _l2),
    "brute_force_topk": (_brute, T.IntegerType(), _l2),
    "hamming_brute_topk": (_hamming_brute, T.IntegerType(), _hamming),
    "self_knn_topk": (_self_knn, T.IntegerType(), _l2),
    "blocked_knn_topk": (_blocked, T.LongType(), None),
    "ivf_topk": (_ivf, T.IntegerType(), None),
    "search_graph_shards": (_hnsw, T.IntegerType(), _l2),
    "pq_adc_topk_one": (_pq_adc(1), T.IntegerType(), None),
    "pq_adc_topk_batch": (_pq_adc(2), T.IntegerType(), None),
    "pq_search": (_pq_search, T.IntegerType(), _l2),
    "brp_lsh_topk": (_brp, T.LongType(), _l2),
}


def _order_key(name, row):
    """The operator's own rank key for a returned row."""
    if name == "hamming_brute_topk":
        return row["hamming"]
    if name.startswith("pq_adc"):
        return round(row["distance"], 5)
    return row["distance"]


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_ties_break_by_id_with_dense_ranks(spark, coll, queries, name):
    op, rank_type, oracle = OPERATORS[name]
    out = op(spark, coll, queries)
    assert out.schema["rank"].dataType == rank_type
    qcol = "query_id"
    rows = out.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[qcol], []).append(r)
    assert by_q, name
    for qid, got in by_q.items():
        got.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
        assert len(got) == K_
        keys = [(_order_key(name, r), r["id"]) for r in got]
        assert keys == sorted(keys), (name, qid, keys)
        if oracle is not None:
            q = QUERIES[qid] if qid in QUERIES else ROWS[qid]
            assert [r["id"] for r in got] == _exact(oracle, q), (name, qid)


@pytest.mark.parametrize("op", ["flat_topk", "flat_range"])
def test_single_query_order_breaks_ties_by_id(spark, coll, op):
    from vettore_spark.operators import search as S

    q = QUERIES["q0"]
    if op == "flat_topk":
        out = S.flat_topk(coll, q, metric="l2", k=K_)
    else:
        out = S.flat_range(coll, q, metric="l2", max_distance=1.5, limit=K_)
    assert [r["id"] for r in out.collect()] == ["r01", "r03", "r06"]
