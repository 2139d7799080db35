"""Writes beside reads keep a flat cost, pinned by counts rather than
times: the partitions of the resident tables after runs of writes, and the
persisted RDDs a run of put + sq_search leaves behind."""

from __future__ import annotations

import pytest

from tests.conftest import resident
from vettore_spark import collection as C

DIMS = 8


def _vec(seed: int) -> list[float]:
    return [((seed * 31 + i * 7) % 13) - 6.0 or 1.0 for i in range(DIMS)]


def _rows(lo: int, hi: int) -> list[dict]:
    return [{"id": f"v{i:04d}", "vector": _vec(i)} for i in range(lo, hi)]


def _parts(df) -> int:
    return df.rdd.getNumPartitions()


@pytest.mark.parametrize("write", ["list", "frame", "put", "delete"])
def test_hnsw_churn_keeps_the_shard_table_partitions(spark, write):
    """Twelve cycles of one write then one hnsw_search: the resident shard
    table keeps the partition count it was built with after every cycle
    (a list batch of 16 rows, a DataFrame batch, a put, a delete). A
    patch that widens the table makes every later read run more tasks."""
    c = C.Collection.create(spark, f"churn_{write}", DIMS, metric="cosine")
    c.put_many(_rows(0, 48))
    c.hnsw_search(_vec(1), limit=3).collect()
    (built,) = [_parts(ix.shards) for ix in resident(c, "hnsw").values()]
    counts = []
    for i in range(12):
        batch = _rows(100 + 16 * i, 116 + 16 * i)
        if write == "list":
            c.put_many(batch)
        elif write == "frame":
            c.put_many(spark.createDataFrame(
                [(r["id"], r["vector"]) for r in batch],
                "id string, vector array<double>",
            ))
        elif write == "put":
            c.put(batch[0])
        else:
            c.delete(f"v{i:04d}")
        c.hnsw_search(_vec(i), limit=3).collect()
        (ix,) = resident(c, "hnsw").values()
        counts.append(_parts(ix.shards))
    assert counts == [built] * 12


def test_one_row_puts_add_one_partition_per_table(spark):
    """Eight puts grow the rows table, the IVF inverted file and the PQ
    code table by at most one partition each per put."""
    c = C.Collection.create(spark, "put_parts", DIMS, metric="cosine")
    c.put_many(_rows(0, 40))
    c.ivf_search(_vec(1), limit=3, n_cells=4, n_probe=2).collect()
    c.pq_search(_vec(1), limit=3, m=2, n_codes=4, candidates=20).collect()

    def tables():
        (ivf,) = resident(c, "ivf").values()
        (pq,) = resident(c, "pq").values()
        return {"rows": _parts(c.df), "ivf": _parts(ivf.assigned),
                "pq": _parts(pq._codes)}

    before = tables()
    for i in range(8):
        c.put({"id": f"p{i}", "vector": _vec(200 + i)})
    after = tables()
    assert all(after[k] - before[k] <= 8 for k in before), (before, after)


def test_sq_search_keeps_one_code_table_cached(spark):
    """Six cycles of put then sq_search persist one RDD per cycle (the
    put's row batch, cut at its first read), as six put + search cycles
    do: the SQ index holds one cached code table, and unpersists the one
    it replaces."""
    sc = spark.sparkContext

    def run(name, search):
        c = C.Collection.create(spark, name, DIMS, metric="l2")
        c.put_many(_rows(0, 40))
        search(c, _vec(1)).collect()
        start = sc.emptyRDD().id()
        counts = []
        for i in range(6):
            c.put({"id": f"s{i}", "vector": _vec(300 + i)})
            search(c, _vec(i)).collect()
            counts.append(sum(
                1 for rdd_id in sc._jsc.getPersistentRDDs().keys() if rdd_id > start
            ))
        return counts

    flat = run("leak_flat", lambda c, q: c.search(q, limit=3))
    sq = run("leak_sq", lambda c, q: c.sq_search(q, limit=3, candidates=20))
    assert [b - a for a, b in zip(sq, sq[1:])] == [b - a for a, b in zip(flat, flat[1:])]
    assert sq[-1] - sq[0] == 5
