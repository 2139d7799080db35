"""Single-query ANN serving: IVF within-cell scoring and one-query PQ ADC
run as JVM expressions, HNSW scans its shards in one task wave, and
array literals enter the plan through one parse call."""

from __future__ import annotations

import contextlib
import itertools
import math
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import strip_cached_plans
from vettore_spark.collection import Collection
from vettore_spark.functions import kernels as K
from vettore_spark.operators import ann as ANN
from vettore_spark.operators import hnsw as H
from vettore_spark.operators import pq as PQ

DIMS = 16
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
_groups = itertools.count()


def _executed(df) -> str:
    return strip_cached_plans(df._jdf.queryExecution().executedPlan().toString())


@contextlib.contextmanager
def _stage_tasks(spark):
    """Task counts of every stage the block's jobs ran."""
    sc = spark.sparkContext
    group = f"single-query-{next(_groups)}"
    sc.setJobGroup(group, group)
    tasks: list[int] = []
    try:
        yield tasks
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            for sid in st.getJobInfo(jid).stageIds:
                info = st.getStageInfo(sid)
                if info is not None:
                    tasks.append(info.numTasks)


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


@pytest.fixture(scope="module")
def data():
    """Three planted clusters; rows 0 and 1 are duplicated (ties)."""
    rng = np.random.default_rng(7)
    centres = rng.standard_normal((3, DIMS)) * 4.0
    x = np.vstack([c + rng.standard_normal((60, DIMS)) for c in centres])
    x = np.vstack([x, x[[0, 0, 0, 1, 1]]])
    return x, centres


@pytest.fixture(scope="module")
def coll(spark, data):
    x, _ = data
    return spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def cents(spark, data):
    _, centres = data
    return spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(centres)],
        "centroid_id long, centroid array<double>",
    )


def _query_frame(spark, qs: dict):
    return spark.createDataFrame(
        [(k, v.tolist()) for k, v in qs.items()],
        "query_id string, query_vector array<double>",
    )


def _numpy_probe_scores(x, centres, assigned_cells, q, n_probe):
    """(distance, id, score) of every row in q's n_probe nearest cells."""
    cu = _unit(centres)
    d = 1.0 - cu @ (q / np.linalg.norm(q))
    probes = set(np.lexsort((np.arange(len(d)), d))[:n_probe].tolist())
    rows = [i for i, c in assigned_cells.items() if c in probes]
    s = _unit(x[rows]) @ (q / np.linalg.norm(q))
    return sorted((1.0 - float(si), i, float(si)) for si, i in zip(s, rows))


def test_ivf_topk_and_range_match_numpy_cosine(spark, data, coll, cents):
    x, centres = data
    qs = {"a": x[0] + 0.01, "b": x[70] * 1.5, "c": centres[2] + 0.2}
    queries = _query_frame(spark, qs)
    assigned = ANN.ivf_assign(coll, centroids=cents)
    cells = {r["vec_id"]: r["_cell"] for r in assigned.select("vec_id", "_cell").collect()}
    top = ANN.ivf_topk(coll, queries, centroids=cents, n_probe=2, k=12).collect()
    thr = 0.6
    rng = ANN.ivf_range(
        coll, queries, centroids=cents, n_probe=2, max_distance=thr
    ).collect()
    for qid, q in qs.items():
        want = _numpy_probe_scores(x, centres, cells, q, 2)
        got = sorted(
            (r for r in top if r["query_id"] == qid), key=lambda r: r["rank"]
        )
        assert [r["vec_id"] for r in got] == [i for _, i, _ in want[:12]]
        assert [r["rank"] for r in got] == list(range(1, 13))
        for r, (dist, _, score) in zip(got, want):
            assert abs(r["score"] - score) <= 1e-12
            assert abs(r["distance"] - dist) <= 1e-12
        got_r = {r["vec_id"]: r["score"] for r in rng if r["query_id"] == qid}
        want_r = {i: s for d, i, s in want if d <= thr}
        assert got_r.keys() == want_r.keys() and want_r
        assert all(abs(got_r[i] - want_r[i]) <= 1e-12 for i in want_r)


def test_ivf_topk_ranks_non_finite_row_last(spark, cents):
    """A caller-supplied inverted file holding a NaN vector: the kernel
    scores it NULL, and the rank window puts NULL after every real row."""
    good = [(i, [1.0 + 0.1 * i] + [0.5] * (DIMS - 1), 0) for i in range(1, 5)]
    bad = [(0, [float("nan")] * DIMS, 0)]
    assigned = spark.createDataFrame(
        bad + good, "vec_id long, embedding array<double>, _cell long"
    )
    queries = _query_frame(spark, {"q": np.ones(DIMS)})
    rows = ANN.ivf_topk(
        assigned, queries, centroids=cents, n_probe=3, k=5, assigned=assigned
    ).orderBy("rank").collect()
    assert [r["vec_id"] for r in rows][-1] == 0
    assert rows[-1]["score"] is None and rows[-1]["rank"] == 5
    assert all(r["score"] is not None for r in rows[:-1])


def test_collection_ivf_search_runs_no_python_stage(spark, data):
    x, _ = data
    c = Collection.create(spark, "ivf_no_python", DIMS, metric="cosine")
    c.put_many([{"id": f"r{i}", "vector": x[i].tolist()} for i in range(len(x))])
    out = c.ivf_search(x[5].tolist(), limit=5, n_cells=3)
    rows = out.collect()
    assert rows[0]["id"] == "r5" and len(rows) == 5
    plan = _executed(out)
    # the probed cells filter the resident inverted file's cached scan
    assert re.search(r"InMemoryTableScan \[[^\]]*\], \[_cell#\d+L IN \(", plan), plan
    assert not [n for n in PYTHON_NODES if n in plan], plan


@pytest.fixture(scope="module")
def pq_index(spark, data, coll):
    x, _ = data
    books = PQ.pq_train_kmeans(x, m=4, n_codes=8, iters=4)
    codes = PQ.pq_encode(coll, books).cache()
    codes.count()
    yield codes, books
    codes.unpersist()


@pytest.mark.parametrize("round_digits", [5, None])
def test_pq_one_query_matches_batched_adc(spark, data, pq_index, round_digits):
    """The JVM single-query ADC equals the Arrow batch path for the same
    query: same ids and ranks (duplicate rows tie and break by id)."""
    x, _ = data
    codes, books = pq_index
    q = x[0] + 0.05
    kw = dict(k=9, round_digits=round_digits)
    one = PQ.pq_adc_topk(codes, _query_frame(spark, {"q": q}), books, **kw)
    two = PQ.pq_adc_topk(
        codes, _query_frame(spark, {"q": q, "z": x[100]}), books, **kw
    )
    got = one.orderBy("rank").collect()
    want = two.filter(F.col("query_id") == "q").orderBy("rank").collect()
    assert [(r["vec_id"], r["rank"]) for r in got] == [
        (r["vec_id"], r["rank"]) for r in want
    ]
    assert all(
        abs(a["distance"] - b["distance"]) <= 1e-12 for a, b in zip(got, want)
    )
    # the duplicates of row 0 share its codes, hence its distance
    dup = [r["vec_id"] for r in got if r["vec_id"] in (0, 180, 181, 182)]
    assert dup == [0, 180, 181, 182]
    assert len({r["distance"] for r in got if r["vec_id"] in dup}) == 1
    assert {r["query_id"] for r in got} == {"q"}

    plan = _executed(one)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert "MapInPandas" in _executed(two)


def test_hnsw_scan_runs_one_task_wave(spark, data, monkeypatch):
    x, _ = data
    frame = spark.createDataFrame(
        [(f"r{i}", x[i].tolist()) for i in range(len(x))],
        "id string, vector array<double>",
    )
    shards = H.build_graph_shards(frame, metric="cosine", num_partitions=8)
    shards.count()
    assert shards.rdd.getNumPartitions() == 8
    slots = spark.sparkContext.defaultParallelism
    assert slots < 8
    queries = [("a", x[3].tolist()), ("b", x[90].tolist())]

    def search():
        return H.search_graph_shards(
            shards, queries, metric="cosine", k=6, id_type=T.StringType()
        ).orderBy("query_id", "rank").collect()

    with _stage_tasks(spark) as tasks:
        got = search()
    assert tasks and max(tasks) <= slots

    monkeypatch.setattr(type(shards), "coalesce", lambda self, n: self)
    with _stage_tasks(spark) as wide:
        want = search()
    assert 8 in wide
    assert got == want


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_double_array_lit_is_bit_exact(spark):
    rng = np.random.default_rng(3)
    raw = rng.integers(0, 2**63, size=400, dtype=np.int64).view(np.float64)
    vals = [float(v) for v in raw if math.isfinite(v)]
    vals += rng.standard_normal(100).tolist()
    vals += [-0.0, 0.0, 5e-324, -5e-324, 2.2250738585072009e-308,
             1e300, -1e300, 1e-300, -1e-300, 1.7976931348623157e308, 1 / 3]
    row = spark.range(1).select(K.double_array_lit(vals).alias("a")).first()
    assert [_bits(v) for v in row["a"]] == [_bits(v) for v in vals]


def test_double_array_lit_non_finite_and_empty(spark):
    vals = [1.5, float("nan"), float("inf"), -float("inf")]
    df = spark.range(1).select(
        K.double_array_lit(vals).alias("a"), K.double_array_lit([]).alias("e")
    )
    assert df.schema["a"].dataType == T.ArrayType(T.DoubleType(), False)
    assert df.schema["e"].dataType.elementType == T.DoubleType()
    row = df.first()
    assert row["a"][0] == 1.5 and math.isnan(row["a"][1])
    assert row["a"][2:] == [float("inf"), -float("inf")]
    assert row["e"] == []
