"""Round-7 hardening: the r6 advisor's findings.

1. (medium) a put_many batch refused by the tombstone-reinsert guard must
   leave the resident HNSW shard table attached (collection.py popped the
   shards BEFORE the check, silently forcing a rebuild on the next search).
2. (low) attach_store on a store WITHOUT exists() must only treat the
   protocol's documented empty signal (ValueError mentioning "empty") as
   "fresh"; any other read failure re-raises instead of overwriting the
   store's real contents with the in-memory rows.
3. (low) DataFrame-batch HNSW insert routing must agree with the list-batch
   path for ids bearing trailing '\\x00' (numpy's fixed-width U conversion
   silently drops trailing NULs, which previously re-routed such ids).
4. (low) the pca_prefilter oracle is registered as a lazy builder so
   oracle_sql() renders it against the gate's sf_dir, never an
   import-time directory pick.
"""

from __future__ import annotations

import numpy as np
import pytest

from vettore_spark.collection import Collection
from tests.conftest import resident


def _vec(seed: int, dims: int = 8) -> list[float]:
    return [((seed * 31 + i * 7) % 13) - 6.0 or 1.0 for i in range(dims)]


def test_refused_tombstone_batch_keeps_resident_hnsw(spark, tmp_path):
    """The tombstone-reinsert refusal must not cost the caller their
    resident HNSW index: search before and after the refused batch must
    run off the SAME shard table (no silent invalidation/rebuild)."""
    c = Collection.create(spark, "tomb_hnsw", 8, metric="l2", index="hnsw")
    c.attach_store(str(tmp_path / "canon"))
    c.put_many([{"id": f"d{i}", "vector": _vec(i)} for i in range(30)])
    # materialize the resident index
    c.hnsw_search(_vec(2), limit=3).collect()
    shards_before = resident(c, "hnsw")
    assert shards_before, "search must leave a resident index"

    c.delete("d7")
    shards_after_delete = resident(c, "hnsw")

    with pytest.raises(ValueError, match="tombstoned"):
        c.put_many([{"id": "d7", "vector": _vec(99)}])

    # entries compare by identity
    assert resident(c, "hnsw") == shards_after_delete, (
        "a refused batch must leave the resident HNSW shard table exactly "
        "as it was — not popped"
    )
    # and the surviving index still answers correctly without a rebuild
    # (_vec repeats with period 13 in seed, so d3/d16/d29 are exact ties)
    top = c.hnsw_search(_vec(3), limit=1).collect()
    assert top[0]["id"] in {"d3", "d16", "d29"}
    assert top[0]["distance"] == pytest.approx(0.0)


def test_attach_store_transient_read_failure_does_not_overwrite(spark):
    """A store lacking exists() whose read() fails for a NON-empty reason
    (permissions, connectivity) must propagate the error — previously any
    exception was read as 'fresh store' and a non-empty collection would
    overwrite() the store's real rows."""

    class FlakyStore:
        def __init__(self):
            self.overwritten = False

        def read(self, spark):
            raise OSError("connection reset")

        def append(self, df):
            pass

        def overwrite(self, df):
            self.overwritten = True

    c = Collection.create(spark, "flaky", 8, metric="l2")
    c.put_many([{"id": "a", "vector": _vec(1)}])
    store = FlakyStore()
    with pytest.raises(OSError, match="connection reset"):
        c.attach_store(store)
    assert not store.overwritten, (
        "a transient read failure must never be treated as emptiness and "
        "the store clobbered"
    )
    assert c._store is None

    # a ValueError that is NOT the documented empty signal also re-raises
    class WrongValueStore(FlakyStore):
        def read(self, spark):
            raise ValueError("schema mismatch: 12 columns, expected 6")

    with pytest.raises(ValueError, match="schema mismatch"):
        c.attach_store(WrongValueStore())

    # the documented empty signal still adopts the store as fresh
    class EmptySignalStore(FlakyStore):
        def read(self, spark):
            if self.overwritten:
                return self._df
            raise ValueError("empty store")

        def overwrite(self, df):
            self.overwritten = True
            self._df = df

    s = EmptySignalStore()
    c.attach_store(s)
    assert s.overwritten, "non-empty collection persists into a fresh store"
    assert c.count() == 1


def test_hnsw_df_insert_routes_trailing_nul_ids_like_list_path(spark):
    """Ids with trailing '\\x00' must route to the same shard through the
    DataFrame cogroup path as through the list path's
    fnv1a64(str(id).encode()) rule — shard blobs bit-identical."""
    from vettore_spark.operators.hnsw import (
        HnswParams,
        build_graph_shards,
        insert_df_into_graph_shards,
        insert_many_into_graph_shards,
    )

    rng = np.random.default_rng(53)
    vecs = rng.normal(size=(40, 6))
    base = spark.createDataFrame(
        [(f"b{i:03d}", [float(x) for x in vecs[i]]) for i in range(30)],
        "id string, vector array<double>",
    )
    shards = build_graph_shards(
        base, metric="l2", params=HnswParams(ef_search=10_000),
        id_col="id", vector_col="vector", num_partitions=4,
    )
    sids = sorted(r["shard_id"] for r in shards.select("shard_id").collect())

    # trailing-NUL, embedded-NUL, and plain ids in one batch
    batch_ids = ["x1\x00", "x2\x00\x00", "x\x003", "\x00", "x5"]
    batch = [
        (bid, [float(x) for x in vecs[30 + j]])
        for j, bid in enumerate(batch_ids)
    ]
    via_list = insert_many_into_graph_shards(shards, batch, shard_ids=sids)
    batch_df = spark.createDataFrame(batch, "id string, vector array<double>")
    via_df = insert_df_into_graph_shards(
        shards, batch_df, shard_ids=sids, id_col="id", vector_col="vector",
    )
    a = {r["shard_id"]: bytes(r["shard"]) for r in via_list.collect()}
    b = {r["shard_id"]: bytes(r["shard"]) for r in via_df.collect()}
    assert set(a) == set(b)
    for sid in a:
        assert a[sid] == b[sid], (
            f"shard {sid} diverged: NUL-bearing ids re-routed by the "
            "vectorized path"
        )


def test_pca_oracle_is_lazy_and_renders():
    """SQL_PCA_PREFILTER_TOPK is a zero-arg builder (resolved inside
    oracle_sql(), against the gate's sf_dir) and oracle_sql() returns a
    plain SQL string for the query."""
    from vettore_spark import queries as Q

    assert callable(Q.SQL_PCA_PREFILTER_TOPK)
    sql = Q.oracle_sql()["pca_prefilter_topk"]
    assert isinstance(sql, str) and "list_dot_product" in sql
