"""Scalar (int8) quantization tests against NumPy oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.operators import sq as SQ
from tests.conftest import resident


@pytest.fixture(scope="module")
def vecs():
    rng = np.random.default_rng(7)
    return rng.normal(size=(200, 8)).astype(np.float32)


@pytest.fixture(scope="module")
def coll(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, ["id", "vector"]).cache()


def _np_codes(vecs: np.ndarray, mins, maxs):
    lo = np.array(mins, dtype=np.float64)
    hi = np.array(maxs, dtype=np.float64)
    sc = np.where(hi > lo, (hi - lo) / 255.0, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        c = np.floor((vecs.astype(np.float64) - lo) / np.where(sc > 0, sc, 1.0) + 0.5)
    c = np.clip(c, 0.0, 255.0)
    return np.where(sc > 0, c, 0.0), sc


def test_sq_train_matches_numpy(coll, vecs):
    mins, maxs = SQ.sq_train(coll)
    assert mins == pytest.approx(vecs.min(axis=0).astype(np.float64).tolist())
    assert maxs == pytest.approx(vecs.max(axis=0).astype(np.float64).tolist())


def test_sq_encode_matches_numpy(coll, vecs):
    mins, maxs = SQ.sq_train(coll)
    got = (
        coll.select("id", SQ.sq_encode(F.col("vector"), mins, maxs).alias("c"))
        .orderBy("id")
        .collect()
    )
    want, _ = _np_codes(vecs, mins, maxs)
    for r in got:
        np.testing.assert_array_equal(np.array(r["c"]), want[r["id"]])
    # all codes integral and in range
    flat = np.array([r["c"] for r in got])
    assert ((flat >= 0) & (flat <= 255)).all()
    assert (flat == np.floor(flat)).all()


def test_sq_topk_recall_vs_exact(coll, vecs):
    mins, maxs = SQ.sq_train(coll)
    q = [float(x) for x in vecs[0]]
    got = [r["id"] for r in SQ.sq_topk(coll, q, mins, maxs, k=10, candidates=60).collect()]
    d = np.linalg.norm(vecs.astype(np.float64) - np.array(q), axis=1)
    exact = list(np.lexsort((np.arange(len(d)), d))[:10])
    # with candidates >> k on smooth data, SQ8 rerank recovers the exact set
    assert len(set(got) & set(exact)) >= 9
    assert got[0] == 0  # self-match first


def test_sq_constant_dim_is_ignored(spark):
    rows = [(i, [float(i), 5.0]) for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "vector"])
    mins, maxs = SQ.sq_train(df)
    assert SQ.sq_params(mins, maxs)[1] == 0.0
    out = SQ.sq_topk(df, [3.0, 5.0], mins, maxs, k=3, candidates=5).collect()
    assert [r["id"] for r in out] == [3, 2, 4]


def test_collection_sq_search_and_invalidation(spark):
    """Facade: sq_search matches flat search top-1; new vectors are
    reachable after put and deleted ones are gone (the round-1 PQ
    staleness bug class). r4: the min/max bounds STAY resident across
    single-row put/delete (superset bounds remain valid; the plan-keyed
    code table refreshes automatically), so no re-train scan is paid."""
    import numpy as np

    from vettore_spark.collection import Collection

    rng = np.random.default_rng(13)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(40)
    ]
    c = Collection.create(spark, "sqt", 6, metric="l2").put_many(rows)
    got = c.sq_search(rows[3]["vector"], limit=3, candidates=20).collect()
    assert got[0]["id"] == "v3"
    assert resident(c, "sq")

    # insert a new exact-match vector -> must be reachable (bounds stay
    # resident; the code table keys on the new plan and refreshes)
    target = [float(x) for x in rng.normal(size=6)]
    c.put({"id": "new", "vector": target})
    assert resident(c, "sq")
    got2 = c.sq_search(target, limit=2, candidates=20).collect()
    assert got2[0]["id"] == "new"

    # delete it -> never returned again
    c.delete("new")
    got3 = c.sq_search(target, limit=5, candidates=20).collect()
    assert all(r["id"] != "new" for r in got3)


def test_collection_sq_search_rejects_non_l2(spark):
    import pytest as _pt

    from vettore_spark.collection import Collection

    c = Collection.create(spark, "sqm", 4, metric="manhattan")
    c.put({"id": "a", "vector": [0.1, 0.2, 0.3, 0.4]})
    with _pt.raises(ValueError, match="sq_search supports"):
        c.sq_search([0.1, 0.2, 0.3, 0.4])
