"""Single-query serving as one SQL text over engine-owned views: each mode
returns its DataFrame operator's rows, resident tables stay cached across
requests and writes, concurrent requests and writes never see each other's
view bindings, a string `where` stays one predicate, the driver-side IVF
probe matches the JVM probe, and stream scratch dirs do not collide across
concurrent checkouts."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import threading

import numpy as np
import pytest
from pyspark.errors import ParseException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import resident, strip_cached_plans
from vettore_spark.collection import Collection
from vettore_spark.operators import ann as ANN
from vettore_spark.operators import hnsw as H
from vettore_spark.operators import search as S
from vettore_spark.operators import sq as SQ
from vettore_spark.operators.search import single_query_frame

DIMS = 8
MODES = {
    "search": lambda c, q: c.search(q, limit=5),
    "search_where": lambda c, q: c.search(q, limit=5, where="metadata['tier'] = '1'"),
    "quantized_search": lambda c, q: c.quantized_search(q, limit=5, candidates=40),
    "hnsw_search": lambda c, q: c.hnsw_search(q, limit=5, num_partitions=2),
    "ivf_search": lambda c, q: c.ivf_search(q, limit=5, n_cells=4),
    "sq_search": lambda c, q: c.sq_search(q, limit=5, candidates=40),
    "pq_search": lambda c, q: c.pq_search(q, limit=5, m=2, n_codes=8, candidates=40),
}
PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def _rows(lo: int, hi: int) -> list[dict]:
    rng = np.random.default_rng(lo)
    return [
        {"id": f"r{i}", "vector": rng.standard_normal(DIMS).tolist(),
         "metadata": {"tier": str(i % 4)}}
        for i in range(lo, hi)
    ]


def _query(i: int) -> list[float]:
    return np.random.default_rng(1000 + i).standard_normal(DIMS).tolist()


@pytest.mark.parametrize("mode", list(MODES))
def test_resident_tables_stay_resident(spark, mode):
    """20 requests, a put, a delete, 5 more requests: no request loop
    unpersists a resident table, and no executed plan re-runs a Python
    eval outside a cached relation (HNSW's shard scan is its one
    allowed Python node, a MapInPandas)."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    c = Collection.create(spark, f"resident_{mode}", DIMS)
    c.put_many(_rows(0, 150))
    call = MODES[mode]
    call(c, _query(0)).collect()  # builds the index

    def loop(n: int, first: int) -> None:
        sizes = []
        for i in range(first, first + n):
            sizes.append(persisted().size())
            out = call(c, _query(i))
            assert len(out.collect()) == 5
            plan = strip_cached_plans(
                out._jdf.queryExecution().executedPlan().toString()
            )
            assert not [p for p in PYTHON_EVAL if p in plan], (mode, plan)
        sizes.append(persisted().size())
        assert sizes == sorted(sizes), (mode, sizes)

    loop(20, 1)
    c.put(_rows(500, 501)[0])
    c.delete("r3")
    loop(5, 21)
    c.close()


def _same(got, want) -> None:
    assert got.schema == want.schema
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_serving_modes_equal_their_operators(spark, metric):
    """Each SQL-text mode returns its DataFrame operator's rows bit for
    bit, in the same order and schema, with no `where`, a string one and
    a Column one; one-query HNSW (rank_order + LIMIT) returns the
    multi-query window's rows for the same query."""
    c = Collection.create(spark, f"parity_{metric}", DIMS, metric=metric)
    c.put_many(_rows(0, 200))
    opts = dict(
        metric=metric, score_mode=c.config.score, pre_normalized=c._pre_normalized
    )
    wheres = (None, "metadata['tier'] != '2'", F.col("metadata")["tier"] != "2")
    for i in range(3):
        raw = _query(i)
        q = c.prepare_query(raw)
        for where in wheres:
            rows = c.df if where is None else c.df.filter(where)
            _same(c.search(raw, limit=7, where=where),
                  S.flat_topk(rows, q, k=7, extra_cols=["value"], **opts))
            _same(c.quantized_search(raw, limit=7, candidates=40, where=where),
                  S.quantized_search(rows, q, dims=DIMS, k=7, candidates=40, **opts))
            got = c.sq_search(raw, limit=7, candidates=40, where=where)
            bounds = resident(c, "sq")[()]
            _same(got, SQ.sq_topk(rows, q, bounds.mins, bounds.maxs, k=7,
                                  candidates=40, **opts))
            got = c.pq_search(raw, limit=7, candidates=28, m=2, n_codes=8, where=where)
            pq = resident(c, "pq")[(2, 8, 5)]
            pruned = pq.candidates(c.df, q, 28 if where is None else 112)
            if where is not None:
                pruned = pruned.join(rows.select("id"), "id", "left_semi")
            _same(got, S.flat_topk(pruned, q, k=7, **opts))
        got = c.hnsw_search(raw, limit=7, num_partitions=2)
        shards = next(iter(resident(c, "hnsw").values())).shards
        many = H.search_graph_shards(
            shards, [("q", q), ("o", c.prepare_query(_query(99)))], metric=metric,
            k=7, ef_search=H.HnswParams().ef_search, id_col="id",
            id_type=T.StringType(),
        )
        _same(got, many.filter("query_id = 'q'").orderBy("rank")
              .select("id", "score", "distance"))


def test_string_where_is_one_predicate(spark):
    """A string `where` that closes its parenthesis to extend the
    statement is refused; a trailing `--` comment ends at its line."""
    c = Collection.create(spark, "where_text", DIMS)
    c.put_many(_rows(0, 60))
    other = Collection.create(spark, "where_other", DIMS)
    other.put_many(_rows(900, 910))
    other.search(_query(0), limit=1).collect()  # binds its rows view
    view = next(name for name, (key, _) in other._views.items() if key is None)
    q = _query(0)
    injected = (
        f"metadata['tier'] = '1') UNION ALL SELECT id, value, 1.0D, 0.0D "
        f"FROM {view} WHERE (true"
    )
    for mode in ("search", "quantized_search", "sq_search", "pq_search"):
        with pytest.raises(ParseException):
            getattr(c, mode)(q, limit=5, where=injected)
    plain = c.search(q, limit=5, where="metadata['tier'] = '1'")
    _same(c.search(q, limit=5, where="metadata['tier'] = '1' -- tier one"), plain)


def _hold_in_sql(monkeypatch, coll, race) -> list:
    """Run `race` in a second thread while the first `spark.sql` call is
    between its views' binding and its analysis, giving it 1.5 s before
    the analysis goes on."""
    real_sql, started = coll.spark.sql, []

    def sql(*args, **kwargs):
        if not started:
            started.append(threading.Thread(target=race))
            started[0].start()
            started[0].join(timeout=1.5)
        return real_sql(*args, **kwargs)

    monkeypatch.setattr(coll.spark, "sql", sql)
    return started


@pytest.mark.parametrize("race", ["older_request", "write"])
def test_views_hold_from_bind_to_analysis(spark, monkeypatch, race):
    """A pq_search of the row just put sees it, while a request still
    holding the pre-put rows and codes binds them ("older_request"), or
    a write drops every index view ("write"), in the middle of it."""
    c = Collection.create(spark, f"views_{race}", DIMS)
    c.put_many(_rows(0, 150))
    key = ("pq", 2, 8, 5)
    c.pq_search(_query(0), limit=1, m=2, n_codes=8).collect()
    old_rows, old_codes = c.df, c._indexes[key]._codes
    new = {"id": "new", "vector": _query(7), "metadata": {"tier": "0"}}
    c.put(new)

    def older_request():
        c._sql(
            lambda where, rows, codes: f"SELECT id FROM {rows} LEFT SEMI JOIN {codes} USING (id)",
            rows=(None, old_rows), codes=(key, old_codes),
        ).collect()

    started = _hold_in_sql(
        monkeypatch, c, older_request if race == "older_request" else c._invalidate_derived
    )
    got = c.pq_search(new["vector"], limit=1, m=2, n_codes=8).collect()
    started[0].join()
    assert [r["id"] for r in got] == ["new"]
    assert [r["id"] for r in c.search(new["vector"], limit=1).collect()] == ["new"]


def test_single_query_ivf_probe_matches_jvm_probe(spark):
    """`ann.ivf_probe_cells` (driver) picks the cells the JVM probe of
    `ann._ivf_probe_scored` picks, over 240 seeded queries and a codebook
    whose cells 1 and 7 are identical (an exact tie: 1 must win)."""
    rng = np.random.default_rng(11)
    cents = rng.standard_normal((9, DIMS))
    cents[5] = cents[1]  # cells 1 and 7 below: identical rows
    cids = np.array([0, 1, 2, 3, 4, 7, 8, 9, 12], dtype=np.int64)
    cmat = ANN._l2norm_rows(cents)
    qs = [rng.standard_normal(DIMS) for _ in range(200)]
    qs += [cents[1] + 1e-3 * rng.standard_normal(DIMS) for _ in range(40)]
    frame = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(qs)], "qid int, q array<double>"
    )
    for n_probe in (1, 2, 3):
        jvm = frame.selectExpr(
            "qid", f"{ANN._ivf_probe_sql('q', cids, cmat, n_probe)} AS cells"
        ).collect()
        got = {r["qid"]: list(r["cells"]) for r in jvm}
        for i, q in enumerate(qs):
            assert ANN.ivf_probe_cells(q.tolist(), cids, cmat, n_probe) == got[i]
        ties = [got[i][0] for i in range(200, 240)]
        assert set(ties) == {1}, ties


@pytest.mark.parametrize("where", [None, "metadata['tier'] != '2'"])
def test_ivf_search_equals_ivf_topk(spark, where):
    c = Collection.create(spark, "ivf_parity", DIMS, metric="cosine")
    c.put_many(_rows(0, 200))
    for i in range(6):
        q = _query(i)
        got = c.ivf_search(q, limit=7, n_cells=4, n_probe=2, where=where)
        got_rows = [tuple(r) for r in got.collect()]
        ix = resident(c, "ivf")[(4,)]
        assigned = ix.assigned if where is None else ix.assigned.filter(where)
        want = ANN.ivf_topk(
            c.df, single_query_frame(spark, c.prepare_query(q)),
            centroids=ix.centroids, n_probe=2, k=7, id_col="id",
            vector_col="vector", assigned=assigned,
        ).select("id", "score", "distance", "rank")
        assert got.schema == want.schema
        assert got_rows == [tuple(r) for r in want.collect()]


def test_stream_scratch_dir_falls_through_a_live_claim(spark, tmp_path):
    """A second process holding the shared stream scratch dir's claim
    sends this process to a sibling dir, which holds the table."""
    from vettore_spark import queries as Q

    sf_dir = str(tmp_path)
    spark.range(5).write.parquet(os.path.join(sf_dir, "events.parquet"))
    src = os.path.join(sf_dir, "events.parquet")
    digest = hashlib.md5(("stream:events:" + sf_dir).encode()).hexdigest()[:12]
    shared = os.path.join(tempfile.gettempdir(), f"vettore_stream_events_{digest}")
    holder = subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(f"""
            import sys
            from vettore_spark import queries as Q
            Q._claim_scratch_dir({shared!r})
            print("held", flush=True)
            sys.stdin.read()
        """)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        path = Q._streaming_table_dir(spark, sf_dir, "events")
        assert path == shared + "_1"
        assert sorted(os.listdir(path)) == sorted(
            f"{i:03d}.parquet" for i, f in enumerate(sorted(os.listdir(src)))
            if f.endswith(".parquet") and not f.startswith(".")
        )
        assert spark.read.parquet(path).count() == 5
    finally:
        holder.stdin.close()
        holder.wait(timeout=30)
        shutil.rmtree(shared + "_1", ignore_errors=True)
        for lock in (shared + ".lock", shared + "_1.lock"):
            if os.path.exists(lock):
                os.remove(lock)
