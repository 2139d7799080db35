"""The two HNSW serving tiers: graphs held on the driver while the shard
blobs stay within `hnsw._HNSW_DRIVER_MAX_BYTES`, else a mapInPandas wave on
the executors. Both return the same rows in the same order, through every
kind of write and a snapshot round trip; a warm driver-tier request runs no
Spark job; a request's beam width never leaks into the shared graphs; and
both tiers score under the collection's score mode."""

from __future__ import annotations

import contextlib
import itertools
import threading

import numpy as np
import pytest

from tests.conftest import resident
from vettore_spark.collection import Collection
from vettore_spark.operators import hnsw as H

TIERS = (0, H._HNSW_DRIVER_MAX_BYTES)  # the executors; the driver
DIMS = 8
WHERE = "metadata['tier'] = '1'"
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
_groups = itertools.count()


@contextlib.contextmanager
def tier(bound: int):
    """Serve hnsw_search with the driver-tier bound set to `bound`; 0
    keeps every request on the executors."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(H, "_HNSW_DRIVER_MAX_BYTES", bound)
        yield


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    group = f"hnsw-tiers-{next(_groups)}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _rows(lo: int, hi: int) -> list[dict]:
    rng = np.random.default_rng(lo)
    return [
        {"id": f"r{i}", "vector": rng.standard_normal(DIMS).tolist(),
         "metadata": {"tier": str(i % 4)}}
        for i in range(lo, hi)
    ]


def _query(i: int) -> list[float]:
    return np.random.default_rng(1000 + i).standard_normal(DIMS).tolist()


def _index(c):
    (ix,) = resident(c, "hnsw").values()
    return ix


def _answers(c) -> list:
    """Rows, in order, of three queries with and without `where`."""
    return [
        (c.hnsw_search(_query(i), limit=5, where=w).schema,
         [tuple(r) for r in c.hnsw_search(_query(i), limit=5, where=w).collect()])
        for i in range(3) for w in (None, WHERE)
    ]


def _lifecycle(spark, tmp_path, metric: str, bound: int) -> list:
    """Answers after the build and after each kind of write and a snapshot
    round trip, with the tier each answer came from."""
    with tier(bound):
        c = Collection.create(spark, f"tiers_{metric}_{bound}", DIMS, metric=metric)
        c.put_many(_rows(0, 160))
        steps = [
            lambda: None,
            lambda: c.put(_rows(500, 501)[0]),
            lambda: c.put_many(_rows(600, 612)),
            lambda: c.put_many(spark.createDataFrame(
                [(r["id"], r["vector"]) for r in _rows(700, 712)],
                "id string, vector array<double>",
            )),
            lambda: c.delete("r3"),
        ]
        out = []
        for step in steps:
            step()
            out.append(_answers(c))
            out.append(_index(c).graphs() is not None)
        path = str(tmp_path / f"snap_{metric}_{bound}")
        c.snapshot(path, include_indexes=True)
        loaded = Collection.load_snapshot(spark, path)
        assert resident(loaded, "hnsw"), "index not restored"
        out.append(_answers(loaded))
        out.append(_index(loaded).graphs() is not None)
        return out


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_tiers_return_identical_rows(spark, tmp_path, metric):
    """Bit-identical rows, order and schema included, across the tiers:
    after the build, a put, a list put_many, a DataFrame put_many, a
    delete, and a snapshot then load_snapshot."""
    executors, driver = (_lifecycle(spark, tmp_path, metric, b) for b in TIERS)
    assert executors[1::2] == [False] * 6
    assert driver[1::2] == [True] * 6
    assert executors[0::2] == driver[0::2]


def test_warm_driver_request_runs_no_job(spark):
    """A warm driver-tier request runs no Spark job, so no Python worker,
    and its plan is a local relation; the first read after each kind of
    write runs at most one job (the collect of the patched blobs). Past
    the bound, the first read after a write runs the search's job only:
    a table known past the bound is never collected again."""
    q = _query(0)
    for bound in TIERS:
        with tier(bound):
            c = Collection.create(spark, f"warm_{bound}", DIMS)
            c.put_many(_rows(0, 120))
            c.hnsw_search(q, limit=5).collect()
            writes = [
                lambda: c.put(_rows(500, 501)[0]),
                lambda: c.put_many(_rows(600, 608)),
                lambda: c.put_many(spark.createDataFrame(
                    [(r["id"], r["vector"]) for r in _rows(700, 708)],
                    "id string, vector array<double>",
                )),
                lambda: c.delete("r3"),
            ]
            for write in writes:
                write()
                with _jobs(spark) as first:
                    c.hnsw_search(q, limit=5).collect()
                assert len(first) <= 1, (bound, first)
                with _jobs(spark) as warm:
                    out = c.hnsw_search(q, limit=5)
                    rows = out.collect()
                assert len(rows) == 5
                plan = out._jdf.queryExecution().executedPlan().toString()
                if bound:
                    assert warm == [] and "LocalTableScan" in plan, plan
                    assert not [p for p in PYTHON_NODES if p in plan], plan
                else:
                    assert len(warm) == 1 and "MapInPandas" in plan, plan


def test_unknown_size_table_collects_no_blob_past_the_bound(spark, tmp_path):
    """A loaded table's size is unknown: its first read ships no blob past
    the bound's per-shard share, and a table over it stays on the
    executors."""
    c = Collection.create(spark, "tiers_cap", DIMS)
    c.put_many(_rows(0, 120))
    want = [tuple(r) for r in c.hnsw_search(_query(1), limit=5).collect()]
    nbytes = _index(c).nbytes
    path = str(tmp_path / "snap")
    c.snapshot(path, include_indexes=True)
    with tier(nbytes - 1):
        loaded = Collection.load_snapshot(spark, path)
        got = [tuple(r) for r in loaded.hnsw_search(_query(1), limit=5).collect()]
        ix = _index(loaded)
        assert ix.graphs() is None and ix.nbytes == nbytes
    assert got == want
    assert H.collect_graph_shards(ix.shards, 0) == (nbytes, None)


def test_ef_search_never_changes_the_shared_graphs(spark):
    """Two threads with different ef_search on one driver-held index get
    their serial answers, and the graphs' params are unchanged."""
    c = Collection.create(spark, "tiers_ef", 16, metric="l2")
    rng = np.random.default_rng(7)
    c.put_many([{"id": f"e{i}", "vector": rng.standard_normal(16).tolist()}
                for i in range(800)])
    queries = [rng.standard_normal(16).tolist() for _ in range(6)]

    def answers(ef):
        return [[tuple(r) for r in c.hnsw_search(q, limit=10, ef_search=ef,
                                                 num_partitions=2).collect()]
                for q in queries]

    c.hnsw_search(queries[0], limit=10, num_partitions=2).collect()  # builds
    graphs = _index(c).graphs()
    params = [g.params for g in graphs]
    serial = {ef: answers(ef) for ef in (1, 400)}
    assert serial[1] != serial[400]  # the beam width shows in the rows
    got, errors = {}, []

    def client(ef):
        try:
            for _ in range(3):
                assert answers(ef) == serial[ef], ef
            got[ef] = True
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(ef,)) for ef in (1, 400)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert got == {1: True, 400: True}
    assert all(g.params is p for g, p in zip(graphs, params))


@pytest.mark.parametrize("score", ["raw", "similarity"])
def test_both_tiers_score_like_search(spark, score):
    """hnsw_search scores under the collection's score mode, as `search`
    does: at a beam covering every row it returns search's rows."""
    for bound in TIERS:
        with tier(bound):
            c = Collection.create(spark, f"tiers_score_{score}_{bound}", DIMS,
                                  metric="cosine", score=score)
            c.put_many(_rows(0, 60))
            q = _query(2)
            want = c.search(q, limit=5).collect()
            got = c.hnsw_search(q, limit=5, ef_search=10_000).collect()
            assert [r["id"] for r in got] == [r["id"] for r in want]
            for g, w in zip(got, want):
                assert g["score"] == pytest.approx(w["score"], abs=1e-12)
                assert g["distance"] == pytest.approx(w["distance"], abs=1e-12)
            if score == "similarity":
                assert all(r["score"] == pytest.approx((1 - r["distance"] + 1) / 2,
                                                       abs=1e-12) for r in got)
