"""The Collection's resident-index registry: what each committed write does
to each kind of resident index (HNSW, IVF, PQ, SQ), how many Spark jobs the
write runs, and that a search never writes index state."""

from __future__ import annotations

import threading
import time

import pytest

from tests.conftest import resident
from vettore_spark import collection as C
from vettore_spark.operators import ann as ANN
from vettore_spark.operators import hnsw as H
from vettore_spark.sources.store import PqIndex

KINDS = ("hnsw", "ivf", "pq", "sq")

# write -> (Spark jobs with all four indexes resident, outcome per kind,
# index-maintenance calls made). "patch": the entry was replaced or its
# table rewritten; "keep": the same object, untouched; "drop": gone. A put
# and a list put_many run as many jobs as a rejected put: their index
# patches run none.
POLICY = {
    "put": (5, dict(hnsw="patch", ivf="patch", pq="patch", sq="keep"),
            {"_insert_rows", "ivf_insert", "PqIndex.insert"}),
    "put_many_list": (5, dict(hnsw="patch", ivf="drop", pq="drop", sq="drop"),
                      {"_insert_rows"}),
    "put_many_long_list": (9, dict(hnsw="patch", ivf="drop", pq="drop", sq="drop"),
                           {"insert_df_into_graph_shards"}),
    "put_many_frame": (9, dict(hnsw="patch", ivf="drop", pq="drop", sq="drop"),
                       {"insert_df_into_graph_shards"}),
    "delete": (0, dict(hnsw="patch", ivf="patch", pq="patch", sq="keep"),
               {"delete_from_graph_shards", "ivf_delete", "PqIndex.delete"}),
    "put_rejected": (5, dict.fromkeys(KINDS, "keep"), set()),
    "put_many_rejected": (5, dict.fromkeys(KINDS, "keep"), set()),
    "attach_store": (2, dict.fromkeys(KINDS, "drop"), set()),
    "delete_stored": (4, dict(hnsw="patch", ivf="patch", pq="patch", sq="keep"),
                      {"delete_from_graph_shards", "ivf_delete", "PqIndex.delete"}),
    "compact_store": (3, dict.fromkeys(KINDS, "drop"), set()),
}


def _vec(seed: int, dims: int = 8) -> list[float]:
    return [((seed * 31 + i * 7) % 13) - 6.0 or 1.0 for i in range(dims)]


def _warm(c) -> None:
    """Build (or reuse) one resident index of every kind."""
    q = _vec(1)
    c.hnsw_search(q, limit=3).collect()
    c.ivf_search(q, limit=3, n_cells=4, n_probe=2).collect()
    c.pq_search(q, limit=3, m=2, n_codes=4, candidates=20).collect()
    c.sq_search(q, limit=3, candidates=20).collect()


def _entries(c) -> dict:
    out = {}
    for kind in KINDS:
        (entry,) = resident(c, kind).values() or [None]
        out[kind] = entry
    return out


def _outcome(before, after) -> str:
    if after is None:
        return "drop"
    return "keep" if after is before else "patch"


@pytest.fixture(scope="module")
def write_log(spark, tmp_path_factory):
    """Run every write once over a cosine collection with all four indexes
    resident; record per write its job count, the outcome for each kind
    and the index-maintenance calls it made."""
    mp = pytest.MonkeyPatch()
    calls: list[str] = []

    def spy(owner, name, label):
        real = getattr(owner, name)

        def wrapped(*a, **kw):
            calls.append(label)
            return real(*a, **kw)

        mp.setattr(owner, name, wrapped)

    for name in ("_insert_rows", "insert_many_into_graph_shards",
                 "insert_df_into_graph_shards", "delete_from_graph_shards"):
        spy(H, name, name)
    for name in ("ivf_insert", "ivf_delete"):
        spy(ANN, name, name)
    for name in ("insert", "delete"):
        spy(PqIndex, name, f"PqIndex.{name}")

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # the job counts assume local cuts
    c = C.Collection.create(spark, "registry", 8, metric="cosine")
    c.put_many([{"id": str(i), "vector": _vec(i)} for i in range(40)])
    frame = spark.createDataFrame(
        [("d1", [float(x) for x in _vec(120)])], "id string, vector array<double>"
    )
    store = str(tmp_path_factory.mktemp("registry") / "canon")

    def put_many_long_list():
        cap = C._HNSW_CLOSURE_BATCH_CAP
        mp.setattr(C, "_HNSW_CLOSURE_BATCH_CAP", 2)
        try:
            c.put_many([{"id": f"l{i}", "vector": _vec(110 + i)} for i in range(3)])
        finally:
            mp.setattr(C, "_HNSW_CLOSURE_BATCH_CAP", cap)

    def rejected(write):
        def run():
            with pytest.raises(ValueError, match="duplicate id"):
                write()
        return run

    writes = {
        "put": lambda: c.put({"id": "p1", "vector": _vec(101)}),
        "put_many_list": lambda: c.put_many(
            [{"id": "s1", "vector": _vec(102)}, {"id": "s2", "vector": _vec(103)}]
        ),
        "put_many_long_list": put_many_long_list,
        "put_many_frame": lambda: c.put_many(frame),
        "delete": lambda: c.delete("p1"),
        "put_rejected": rejected(lambda: c.put({"id": "5", "vector": _vec(99)})),
        "put_many_rejected": rejected(
            lambda: c.put_many([{"id": "5", "vector": _vec(99)}])
        ),
        "attach_store": lambda: c.attach_store(store),
        "delete_stored": lambda: c.delete("s1"),
        "compact_store": lambda: c.compact_store(),
    }
    log = {}
    try:
        for name, write in writes.items():
            _warm(c)
            before = _entries(c)
            calls.clear()
            group = f"registry-{name}"
            sc.setJobGroup(group, name)
            try:
                write()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            after = _entries(c)
            log[name] = (
                len(sc.statusTracker().getJobIdsForGroup(group)),
                {k: _outcome(before[k], after[k]) for k in KINDS},
                set(calls),
            )
    finally:
        mp.undo()
    return log


@pytest.mark.parametrize("kind", KINDS)
def test_write_policy_and_job_counts(write_log, kind):
    """put patches HNSW/IVF/PQ and keeps SQ; put_many (a short list, a list
    past the closure cap, a DataFrame) patches HNSW and drops the rest;
    delete patches HNSW/IVF/PQ and keeps SQ; a rejected write leaves every
    entry object-identical; attach_store and compact_store drop all."""
    assert {w: out[kind] for w, (_, out, _) in write_log.items()} == {
        w: out[kind] for w, (_, out, _) in POLICY.items()
    }
    assert {w: (jobs, calls) for w, (jobs, _, calls) in write_log.items()} == {
        w: (jobs, calls) for w, (jobs, _, calls) in POLICY.items()
    }


def test_pq_search_writes_no_index_state(spark):
    """A search only reads the shared resident PqIndex: requests with
    different candidate depths and predicates leave its attributes as they
    were, so concurrent requests cannot read each other's depth."""
    c = C.Collection.create(spark, "pq_readonly", 8, metric="l2")
    c.put_many([{"id": f"v{i}", "vector": _vec(i)} for i in range(40)])
    c.pq_search(_vec(1), limit=3, m=2, n_codes=4, candidates=20).collect()
    (idx,) = resident(c, "pq").values()
    before = dict(vars(idx))
    c.pq_search(
        _vec(2), limit=3, m=2, n_codes=4, candidates=33, where="id != 'v0'"
    ).collect()
    assert vars(idx).keys() == before.keys()
    assert all(vars(idx)[k] is v for k, v in before.items())


@pytest.mark.parametrize("write", ["put", "delete"])
def test_pq_patch_leaves_the_resident_index_unchanged(spark, write):
    """put and delete replace the registry's PqIndex with a patched copy:
    the index a concurrent search already holds keeps every attribute."""
    c = C.Collection.create(spark, f"pq_copy_{write}", 8, metric="l2")
    c.put_many([{"id": f"v{i}", "vector": _vec(i)} for i in range(40)])
    c.pq_search(_vec(1), limit=3, m=2, n_codes=4, candidates=20).collect()
    (idx,) = resident(c, "pq").values()
    before = dict(vars(idx))
    if write == "put":
        c.put({"id": "fresh", "vector": _vec(77)})
    else:
        c.delete("v3")
    (patched,) = resident(c, "pq").values()
    assert patched is not idx
    assert vars(idx).keys() == before.keys()
    assert all(vars(idx)[k] is v for k, v in before.items())
    assert idx._codes.count() == 40
    assert patched._codes.count() == (41 if write == "put" else 39)


def test_concurrent_first_searches_build_one_index(spark, monkeypatch):
    """Four threads race the first pq_search of one key: exactly one
    builds the index (the build is slowed so they overlap), and all four
    get the same rows."""
    c = C.Collection.create(spark, "pq_race", 8, metric="l2")
    c.put_many([{"id": f"v{i}", "vector": _vec(i)} for i in range(40)])
    real = PqIndex.build
    builds = []

    def counting_build(self, coll):
        builds.append(threading.get_ident())
        time.sleep(0.5)
        return real(self, coll)

    monkeypatch.setattr(PqIndex, "build", counting_build)
    start = threading.Barrier(4)
    results: list = [None] * 4

    def search(i):
        start.wait()
        results[i] = sorted(
            r["id"] for r in c.pq_search(
                _vec(1), limit=3, m=2, n_codes=4, candidates=20
            ).collect()
        )

    threads = [threading.Thread(target=search, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(resident(c, "pq")) == 1
    assert results[0] is not None and results.count(results[0]) == 4


@pytest.mark.parametrize("write", ["put", "delete"])
def test_write_during_first_build_is_not_lost(spark, monkeypatch, write):
    """A put or delete that commits while the first pq_search still builds
    over the pre-write rows: that build is not stored, so the next search
    sees the write (the registry holds the new row count)."""
    c = C.Collection.create(spark, f"pq_write_race_{write}", 8, metric="l2")
    c.put_many([{"id": f"v{i}", "vector": _vec(i)} for i in range(40)])
    real = PqIndex.build
    building, written = threading.Event(), threading.Event()

    def slow_build(self, coll):
        building.set()
        assert written.wait(timeout=300)
        return real(self, coll)  # over the rows read before the write

    monkeypatch.setattr(PqIndex, "build", slow_build)

    def search(query):
        return [
            r["id"] for r in c.pq_search(
                query, limit=3, m=2, n_codes=4, candidates=20
            ).collect()
        ]

    first = threading.Thread(target=search, args=(_vec(1),))
    first.start()
    assert building.wait(timeout=300)
    if write == "put":
        c.put({"id": "fresh", "vector": _vec(77)})
    else:
        c.delete("v3")
    written.set()
    first.join(timeout=300)
    assert not first.is_alive()
    monkeypatch.setattr(PqIndex, "build", real)
    got = search(_vec(77) if write == "put" else _vec(3))
    (ix,) = resident(c, "pq").values()
    if write == "put":
        assert got[0] == "fresh"
        assert ix._codes.count() == 41
    else:
        assert "v3" not in got
        assert ix._codes.count() == 39
