"""Two-stage single-query serving (`quantized_search`, `sq_search`,
`pq_search`) as one scan: each request is one Spark job whose candidate
cut carries the vectors into an exact rerank of the survivors, a PQ
snapshot holding only (id, codes) loads and serves, and concurrent first
searches over a PQ index built on no rows rebuild it once."""

from __future__ import annotations

import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import resident, strip_cached_plans
from tests.test_resident_rows import _jobs
from vettore_spark.collection import Collection
from vettore_spark.operators import pq as PQ
from vettore_spark.operators import search as S

DIMS = 8
TWO_STAGE = {
    "quantized_search": lambda c, q, w: c.quantized_search(
        q, limit=5, candidates=40, where=w
    ),
    "sq_search": lambda c, q, w: c.sq_search(q, limit=5, candidates=40, where=w),
    "pq_search": lambda c, q, w: c.pq_search(
        q, limit=5, m=2, n_codes=8, candidates=40, where=w
    ),
}


def _rows(lo: int, hi: int) -> list[dict]:
    rng = np.random.default_rng(lo)
    return [
        {"id": f"r{i}", "vector": rng.standard_normal(DIMS).tolist(),
         "metadata": {"tier": str(i % 4)}}
        for i in range(lo, hi)
    ]


def _query(i: int) -> list[float]:
    return np.random.default_rng(2000 + i).standard_normal(DIMS).tolist()


@pytest.mark.parametrize("where", [None, "metadata['tier'] != '2'"])
@pytest.mark.parametrize("mode", list(TWO_STAGE))
def test_two_stage_request_is_one_job(spark, mode, where):
    """One job, no broadcast and no range exchange, and the exact kernel
    (`_raw`) projected between the final and the candidate
    TakeOrderedAndProject, above the proxy: were the projection pushed
    below the candidate LIMIT, the rows would match but every row would
    be scored, in more jobs."""
    c = Collection.create(spark, f"one_job_{mode}_{where is None}", DIMS)
    c.put_many(_rows(0, 200))
    call = TWO_STAGE[mode]
    call(c, _query(0), where).collect()  # builds the index, stores the tables
    with _jobs(spark) as ids:
        out = call(c, _query(1), where)
        assert len(out.collect()) == 5
    assert len(ids) == 1, (mode, ids)
    plan = strip_cached_plans(out._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    lines = plan.splitlines()
    takes = [i for i, line in enumerate(lines) if "TakeOrderedAndProject" in line]
    (raw,) = [i for i, line in enumerate(lines) if " AS _raw" in line]
    (proxy,) = [i for i, line in enumerate(lines) if " AS _proxy" in line]
    assert len(takes) == 2 and takes[0] < raw < takes[1] < proxy, plan
    c.close()


def _same(got, want) -> None:
    assert got.schema == want.schema
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_pq_snapshot_of_codes_only_loads_and_serves(spark, tmp_path, monkeypatch):
    """A snapshot's PQ table holds (id, codes) only. Loaded, the index
    serves the rows it served before the save without retraining, and
    after a put and a delete each `where` form still equals the operator
    over the collection's rows."""
    c = Collection.create(spark, "pq_snap", DIMS, metric="l2")
    c.put_many(_rows(0, 200))
    q = _query(0)
    before = c.pq_search(q, limit=7, candidates=28, m=2, n_codes=8).collect()
    path = str(tmp_path / "snap")
    c.snapshot(path, include_indexes=True)
    assert spark.read.parquet(f"{path}/index_pq/k0").columns == ["id", "codes"]

    def no_training(*a, **k):
        raise AssertionError("the loaded PQ index retrained")

    monkeypatch.setattr(PQ, "pq_train_kmeans", no_training)
    d = Collection.load_snapshot(spark, path)
    assert list(resident(d, "pq")) == [(2, 8, 5)]
    got = d.pq_search(q, limit=7, candidates=28, m=2, n_codes=8).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in before]

    d.put({"id": "new", "vector": q, "metadata": {"tier": "1"}})
    d.delete("r3")
    opts = dict(metric="l2", score_mode=d.config.score, pre_normalized=d._pre_normalized)
    wheres = (None, "metadata['tier'] != '2'", F.col("metadata")["tier"] != "2")
    for i in range(2):
        raw = _query(i)
        pq_q = d.prepare_query(raw)
        for where in wheres:
            rows = d.df if where is None else d.df.filter(where)
            got = d.pq_search(raw, limit=7, candidates=28, m=2, n_codes=8, where=where)
            pq = resident(d, "pq")[(2, 8, 5)]
            pruned = pq.candidates(d.df, pq_q, 28 if where is None else 112)
            if where is not None:
                pruned = pruned.join(rows.select("id"), "id", "left_semi")
            _same(got, S.flat_topk(pruned, pq_q, k=7, **opts))
    ids = [r["id"] for r in d.pq_search(q, limit=7, m=2, n_codes=8).collect()]
    assert ids[0] == "new" and "r3" not in ids
    d.close()


def test_pq_index_built_on_no_rows_rebuilds_once(spark, monkeypatch):
    """Two concurrent first searches over rows put after an index was
    built on none: the index is trained once, and replaced whole under
    its key's build lock, so neither request sees a half-built one."""
    c = Collection.create(spark, "pq_rebuild", DIMS)
    q = _query(0)
    assert c.pq_search(q, limit=3, m=2, n_codes=4).collect() == []
    for row in _rows(0, 10):
        c.put(row)
    real, trained = PQ.pq_train_kmeans, []

    def slow_train(*a, **k):
        trained.append(1)
        time.sleep(1.0)  # holds the first build while the second arrives
        return real(*a, **k)

    monkeypatch.setattr(PQ, "pq_train_kmeans", slow_train)
    start, out, errors = threading.Barrier(2), {}, []

    def search(i: int) -> None:
        start.wait()
        try:
            rows = c.pq_search(q, limit=3, m=2, n_codes=4).collect()
            out[i] = [tuple(r) for r in rows]
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=search, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(trained) == 1
    assert out[0] == out[1] and len(out[0]) == 3
    c.close()
