"""Resident collection rows: each committed put_many batch is materialized at
its first read, so searches read stored rows instead of re-running the
ingest plan; single-query frames are built in the JVM."""

from __future__ import annotations

import contextlib
import itertools
import os
from types import SimpleNamespace

import numpy as np
import pytest
from py4j.protocol import MEMORY_COMMAND_NAME

from vettore_spark.collection import EMBEDDING_SCHEMA, Collection, CollectionConfig
from vettore_spark.operators.search import single_query_frame
from vettore_spark.plans import checkpoint as CK

DIMS = 8
_groups = itertools.count()


def _rows(lo: int, hi: int, seed: int = 0) -> list[dict]:
    rng = np.random.default_rng(seed + lo)
    return [
        {"id": f"r{i}", "vector": rng.standard_normal(DIMS).tolist()}
        for i in range(lo, hi)
    ]


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    group = f"resident-rows-{next(_groups)}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_committed_frame_keeps_embedding_schema(spark):
    """Nullability included, after every kind of mutation."""
    c = Collection.create(spark, "schema_list", DIMS)
    assert c.df.schema == EMBEDDING_SCHEMA
    c.put_many(_rows(0, 20))
    assert c.df.schema == EMBEDDING_SCHEMA
    c.put_many(_rows(20, 40))
    assert c.df.schema == EMBEDDING_SCHEMA
    c.put({"id": "one", "vector": [1.0] * DIMS})
    assert c.df.schema == EMBEDDING_SCHEMA
    c.delete("r3")
    assert c.df.schema == EMBEDDING_SCHEMA

    d = Collection.create(spark, "schema_df", DIMS)
    frame = spark.createDataFrame(
        [(r["id"], r["vector"]) for r in _rows(0, 20)],
        "id string, vector array<double>",
    )
    d.put_many(frame)
    assert d.df.schema == EMBEDDING_SCHEMA
    d.put_many(spark.createDataFrame(
        [(r["id"], None, r["vector"], None, None, None) for r in _rows(20, 40)],
        EMBEDDING_SCHEMA,
    ))
    assert d.df.schema == EMBEDDING_SCHEMA


def test_empty_collection_runs_no_job(spark):
    """The empty frame is a JVM local relation: a search over an empty
    collection is pruned to an empty result without a Spark job."""
    c = Collection.create(spark, "empty_local", DIMS)
    assert (
        c.df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        == "LocalRelation"
    )
    with _jobs(spark) as ids:
        assert c.search([1.0] * DIMS, limit=3).collect() == []
    assert ids == []


def test_put_many_dataframe_with_id_and_vector_only(spark):
    """Absent optional columns are filled with typed nulls, as on the list
    path: both ingest the same rows."""
    rows = _rows(0, 30)
    by_list = Collection.create(spark, "fill_list", DIMS).put_many(rows)
    frame = spark.createDataFrame(
        [(r["id"], r["vector"]) for r in rows], "id string, vector array<double>"
    )
    by_df = Collection.create(spark, "fill_df", DIMS).put_many(frame)
    assert sorted(by_df.df.collect()) == sorted(by_list.df.collect())
    assert by_df.count() == 30


def test_search_reads_materialized_rows(spark):
    """After the first read, a search over a list-ingested collection scans
    the stored batch: no Python-list scan in its lineage and none of
    put_many's staging expressions in its plan."""
    c = Collection.create(spark, "resident_search", DIMS)
    c.put_many(_rows(0, 60))
    c.put_many(_rows(60, 120))
    q = _rows(500, 501)[0]["vector"]
    c.search(q, limit=5).collect()  # first read materializes the batches
    s = c.search(q, limit=5)
    s.collect()
    plan = _executed(s)
    assert "coalesce(value" not in plan
    assert "array_repeat(SQRT" not in plan
    assert "applySchemaToPythonRDD" not in _lineage(s)


def test_single_query_frames_hold_no_python_scan(spark, monkeypatch):
    """Building a single-query request submits no Spark job and costs at
    most 20 py4j calls (one SQL text over engine-owned views, or over the
    VALUES relation of hnsw_search's driver-held graphs), and its plan
    scans no Python-side query frame."""
    frame = single_query_frame(spark, [0.5, -1.0], "q7")
    assert "LocalTableScan" in _executed(frame)
    assert frame.collect()[0].asDict() == {
        "query_id": "q7", "query_vector": [0.5, -1.0]
    }
    c = Collection.create(spark, "resident_ann", DIMS)
    c.put_many(_rows(0, 80))
    q = _rows(600, 601)[0]["vector"]
    modes = {
        "search": lambda: c.search(q, limit=5),
        "search_where": lambda: c.search(q, limit=5, where="id LIKE 'r1%'"),
        "quantized_search": lambda: c.quantized_search(q, limit=5),
        "hnsw_search": lambda: c.hnsw_search(q, limit=5),
        "ivf_search": lambda: c.ivf_search(q, limit=5),
        "sq_search": lambda: c.sq_search(q, limit=5),
        "pq_search": lambda: c.pq_search(q, limit=5),
    }
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        # py4j's object-release messages are sent when Python's GC frees
        # any proxy, often one of an earlier test's: not the build's work
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(1)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    for mode, build in modes.items():
        build().collect()  # builds the index
        with _jobs(spark) as plan_jobs:
            calls.clear()
            out = build()
            n_calls = len(calls)
        assert plan_jobs == [], mode
        assert n_calls <= 20, (mode, n_calls)
        assert len(out.collect()) == 5
        plan = _executed(out)
        assert "ExistingRDD[query_id" not in plan, mode
        assert "applySchemaToPythonRDD" not in _lineage(out), mode


def test_put_many_adds_no_job(spark):
    """The lazy cut submits nothing: a put_many runs its validation
    aggregate's jobs only (3 into an empty collection, 5 with the
    duplicate-id join against stored rows)."""
    c = Collection.create(spark, "resident_jobs", DIMS)
    with _jobs(spark) as first:
        c.put_many(_rows(0, 50))
    with _jobs(spark) as later:
        c.put_many(_rows(50, 100))
    frame = spark.createDataFrame(
        [(r["id"], r["vector"]) for r in _rows(100, 150)],
        "id string, vector array<double>",
    )
    with _jobs(spark) as by_df:
        c.put_many(frame)
    assert (len(first), len(later), len(by_df)) == (3, 5, 5)


def test_mutations_then_search_match_numpy(spark):
    rows = _rows(0, 40) + _rows(40, 80) + _rows(80, 120)
    c = Collection.create(spark, "resident_exact", DIMS)
    for lo in (0, 40, 80):
        c.put_many(rows[lo:lo + 40])
    c.delete("r7")
    extra = {"id": "extra", "vector": _rows(900, 901)[0]["vector"]}
    c.put(extra)
    kept = [r for r in rows if r["id"] != "r7"] + [extra]
    ids = np.array([r["id"] for r in kept])
    x = np.array([r["vector"] for r in kept])
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    q = np.asarray(_rows(700, 701)[0]["vector"])
    q = q / np.linalg.norm(q)
    want = list(ids[np.argsort(-(x.astype(np.float64) @ q), kind="stable")[:10]])
    got = [r["id"] for r in c.search(q.tolist(), limit=10).collect()]
    assert got == want
    assert c.count() == 120


class _StubFrame:
    """Records which cut the ladder takes; no Spark involved."""

    def __init__(self, master: str, ckpt_dir: str | None):
        sc = SimpleNamespace(master=master, getCheckpointDir=lambda: ckpt_dir)
        self.sparkSession = SimpleNamespace(sparkContext=sc)
        self.cut = None

    def _take(self, kind):
        self.cut = kind
        return self

    def checkpoint(self, eager):
        assert eager is False
        return self._take("checkpoint")

    def localCheckpoint(self, eager):
        assert eager is False
        return self._take("localCheckpoint")

    def persist(self):
        return self._take("persist")


@pytest.mark.parametrize(
    "master, ckpt_dir, batch_cut, ladder_cut",
    [
        ("local[4]", None, "localCheckpoint", "localCheckpoint"),
        ("local", None, "localCheckpoint", "localCheckpoint"),
        ("local-cluster[2,1,1024]", None, "persist", None),
        ("yarn", None, "persist", None),
        ("local-cluster[2,1,1024]", "/ckpt", "checkpoint", "checkpoint"),
        ("local[4]", "/ckpt", "checkpoint", "checkpoint"),
    ],
)
def test_cut_ladder_branches(master, ckpt_dir, batch_cut, ladder_cut):
    assert CK.resident_cut(_StubFrame(master, ckpt_dir)).cut == batch_cut
    frame = _StubFrame(master, ckpt_dir)
    c = Collection(frame.sparkSession, CollectionConfig("ladder", DIMS), df=frame)
    for _ in range(7):
        c._cut_lineage_maybe()
        assert frame.cut is None
    c._cut_lineage_maybe()
    assert frame.cut == ladder_cut


def test_close_releases_persisted_batches(spark, monkeypatch):
    """Where the cut is a persist (a cluster without a checkpoint dir),
    close() unpersists the batches."""
    import vettore_spark.collection as C

    monkeypatch.setattr(C, "resident_cut", lambda df: df.persist())
    c = Collection.create(spark, "resident_persist", DIMS).put_many(_rows(0, 10))
    (batch,) = c._persisted_batches
    assert batch.is_cached and c.df.count() == 10
    c.close()
    assert not batch.is_cached
    assert not batch.storageLevel.useMemory


def test_batches_checkpoint_reliably_when_dir_set(spark, tmp_path):
    """With a checkpoint dir, a committed batch is written there at its
    first read, and reads back intact."""
    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        c = Collection.create(spark, "resident_ckpt", DIMS).put_many(_rows(0, 25))
        assert c.count() == 25
        assert c.df.count() == 25
        written = [f for _r, _d, fs in os.walk(ckdir) for f in fs]
        assert written, "no checkpoint files for the committed batch"
        assert c.df.schema == EMBEDDING_SCHEMA
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
