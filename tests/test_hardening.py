"""Hardening tests (reference pattern: test/vector_hardening_test.exs,
vector_adversarial_test.exs §5.5): every malformed input must raise a clean,
typed Python error — never a JVM crash or a silent wrong answer."""

from __future__ import annotations

import math

import numpy as np
import pytest

from vettore_spark.collection import Collection, CollectionConfig
from vettore_spark.encodings.muvera import MuveraConfig, encode
from vettore_spark.functions import kernels as K
from vettore_spark.operators.hnsw import HnswParams
from vettore_spark.operators.search import funnel_search


# -- config fuzzing -----------------------------------------------------------


@pytest.mark.parametrize(
    "kwargs,msg",
    [
        (dict(name="", dimensions=4), "non-empty string"),
        (dict(name="c", dimensions=0), "positive integer"),
        (dict(name="c", dimensions=-3), "positive integer"),
        (dict(name="c", dimensions=4, metric="bogus"), "unknown metric"),
        (dict(name="c", dimensions=4, normalize="bogus"), "unknown normalize"),
        (dict(name="c", dimensions=4, score="bogus"), "unknown score"),
        (dict(name="c", dimensions=4, index="bogus"), "unknown index"),
    ],
)
def test_collection_config_fuzzing(kwargs, msg):
    with pytest.raises(ValueError, match=msg):
        CollectionConfig(**kwargs)


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(m=0),
        dict(m=2000),
        dict(m=16, m0=8),
        dict(m=16, m0=4096),
        dict(m=16, ef_construction=4),
        dict(ef_search=0),
        dict(max_level=100),
    ],
)
def test_hnsw_params_fuzzing(kwargs):
    with pytest.raises(ValueError):
        HnswParams(**kwargs)


@pytest.mark.parametrize(
    "kwargs,msg",
    [
        (dict(dimension=0), "dimension"),
        (dict(dimension=4, num_repetitions=0), "repetitions"),
        (dict(dimension=4, num_simhash_projections=31), "simhash"),
        (dict(dimension=4, num_simhash_projections=-1), "simhash"),
        (dict(dimension=4, projection_dimension=0), "projection_dimension"),
        (dict(dimension=4, final_projection_dimension=0), "final_projection"),
        (dict(dimension=64, num_repetitions=100, num_simhash_projections=30), "safety limit"),
    ],
)
def test_muvera_config_fuzzing(kwargs, msg):
    with pytest.raises(ValueError, match=msg):
        MuveraConfig(**kwargs).validate()


def test_muvera_encode_input_fuzzing():
    cfg = MuveraConfig(dimension=4)
    with pytest.raises(ValueError, match="empty"):
        encode([], cfg)
    with pytest.raises(ValueError, match="dimension mismatch"):
        encode([[1.0, 2.0]], cfg)
    with pytest.raises(ValueError, match="non-finite"):
        encode([[1.0, float("nan"), 0.0, 0.0]], cfg)
    with pytest.raises(ValueError, match="unknown mode"):
        encode([[1.0, 2.0, 3.0, 4.0]], cfg, mode="bogus")


# -- query-path fuzzing -------------------------------------------------------


def test_query_validation(spark):
    c = Collection.create(spark, "h", 2, metric="l2")
    c.put_many([{"id": "a", "vector": [0.0, 1.0]}])
    with pytest.raises(ValueError, match="dimension mismatch"):
        c.search([1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="non-finite"):
        c.search([float("inf"), 0.0])
    with pytest.raises(ValueError, match="non-finite"):
        c.search([float("nan"), 0.0])
    # beyond f32 max rejected (collection.ex:61 parity)
    with pytest.raises(ValueError, match="non-finite"):
        c.search([3.5e38, 0.0])


def test_funnel_stage_validation(spark):
    df = spark.createDataFrame(
        [("a", [0.0, 1.0, 2.0, 3.0])], "id: string, vector: array<double>"
    )
    with pytest.raises(ValueError, match="out of range"):
        funnel_search(df, [0.0, 1.0, 2.0, 3.0], dims=4, stages=[0])
    with pytest.raises(ValueError, match="out of range"):
        funnel_search(df, [0.0, 1.0, 2.0, 3.0], dims=4, stages=[8])


def test_unknown_generator_and_rerank(spark):
    from vettore_spark.operators.search import hybrid_search

    df = spark.createDataFrame(
        [("a", [0.0, 1.0], [0] * 1)], "id: string, vector: array<double>, binary_vector: array<long>"
    )
    with pytest.raises(ValueError, match="unknown generator"):
        hybrid_search(df, [0.0, 1.0], dims=2, generators=["bogus"])
    with pytest.raises(ValueError, match="unknown rerank"):
        hybrid_search(df, [0.0, 1.0], dims=2, rerank="bogus")
    with pytest.raises(ValueError, match="requires rerank_query_vectors"):
        hybrid_search(df, [0.0, 1.0], dims=2, rerank="multi_vector")


def test_closed_collection_all_ops(spark):
    c = Collection.create(spark, "h", 2)
    c.put_many([{"id": "a", "vector": [1.0, 0.0]}])
    c.close()
    c.close()  # idempotent
    for op in (
        lambda: c.search([1.0, 0.0]),
        lambda: c.put_many([{"id": "b", "vector": [0.0, 1.0]}]),
        lambda: c.get("a"),
        lambda: c.delete("a"),
        lambda: c.count(),
        lambda: c.snapshot("/tmp/never"),
    ):
        with pytest.raises(RuntimeError, match="closed"):
            op()


def test_metric_aliases_and_unknown():
    assert K.canonical_metric("euclidean") == "l2"
    assert K.canonical_metric("dot") == "inner_product"
    assert K.canonical_metric("dot_product") == "inner_product"
    assert K.canonical_metric("binary") == "hamming"
    with pytest.raises(ValueError, match="unknown metric"):
        K.canonical_metric("bogus")


# -- numeric edge cases -------------------------------------------------------


def test_zero_vector_semantics(spark):
    """cosine(zero, x) must be 0.0 (distances.rs:160-177), l2 normalize of a
    zero vector stays zero (distances.rs:350-361)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a: array<double>, b: array<double>")
    row = df.select(
        K.cosine("a", "b").alias("c"),
        K.normalize_l2("a").alias("n"),
    ).first()
    assert row["c"] == 0.0
    assert list(row["n"]) == [0.0, 0.0]


def test_constant_vector_normalizations(spark):
    """z-score and min-max of a constant vector -> zeros (distances.rs:364-410)."""
    df = spark.createDataFrame([([3.0, 3.0, 3.0],)], "v: array<double>")
    row = df.select(
        K.normalize_zscore("v").alias("z"), K.normalize_minmax("v").alias("m")
    ).first()
    assert list(row["z"]) == [0.0, 0.0, 0.0]
    assert list(row["m"]) == [0.0, 0.0, 0.0]


def test_empty_collection_search(spark):
    c = Collection.create(spark, "empty", 2)
    assert c.search([1.0, 0.0]).count() == 0
    assert c.count() == 0


# -- new-operator error paths (reference posture: malformed input errors
# cleanly, never crashes mid-job — vector_hardening_test.exs:475-516) ------


def test_pq_train_rejects_bad_shapes():
    import numpy as np
    import pytest

    from vettore_spark.operators import pq as PQ

    mat = np.zeros((32, 10))
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_train_kmeans(mat, m=3, n_codes=4)
    with pytest.raises(ValueError, match="< n_codes"):
        PQ.pq_train_kmeans(np.zeros((3, 8)), m=2, n_codes=8)


def test_cc_nonconvergence_raises(spark, monkeypatch):
    import pytest

    from vettore_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)  # pin the loop
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=0)


def test_collection_pq_search_rejects_unsupported_metric(spark):
    import pytest

    from vettore_spark.collection import Collection

    c = Collection.create(spark, "pqbad", 4, metric="manhattan")
    c.put_many([{"id": "a", "vector": [1.0, 0.0, 0.0, 0.0]}])
    with pytest.raises(ValueError, match="l2/cosine"):
        c.pq_search([1.0, 0.0, 0.0, 0.0])


def test_many_sequential_ingest_batches_stay_responsive(spark):
    """12 sequential put_many batches: the union lineage is cut every few
    batches (localCheckpoint at depth 8), so late batches don't pay
    re-analysis over a deep union tree, and the rows all survive the
    cuts. (r14 suite-cost trim: 20 -> 12 batches — still past the cut
    cadence, and 12 uncut batches would stack 11 unions, so the <10
    bound still DISCRIMINATES a missing cut; was 38 s.)"""
    from vettore_spark import Collection

    c = Collection.create(spark, "lineage", 4, metric="cosine")
    for b in range(12):
        c.put_many(
            [{"id": f"r{b}-{i}", "vector": [1.0, float(b), float(i), 0.5]}
             for i in range(5)]
        )
    assert c.count() == 60
    # the resulting plan must not be a 12-deep union chain
    plan = c.all()._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") < 10
    got = c.get("r11-4")
    assert got is not None
