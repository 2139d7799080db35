"""HNSW tests mirroring the reference suite (hnsw.rs:659-784):
- high-ef search equals exact L2 on a 15x15 grid
- unit-circle self-recall for cosine
- graph well-formedness invariants (degree bounds, no self/dup edges,
  reachability)
- deterministic FNV-1a levels / deterministic rebuilds
- distributed: partition-merged search overlap@k vs exact oracle
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from tests.conftest import resident

from vettore_spark.operators.hnsw import (
    HnswGraph,
    HnswParams,
    fnv1a64,
    hnsw_search,
    level_for,
)


def test_fnv1a_known_values():
    # published FNV-1a 64 test vectors
    assert fnv1a64(b"") == 0xCBF29CE484222325
    assert fnv1a64(b"a") == 0xAF63DC4C8601EC8C
    assert fnv1a64(b"foobar") == 0x85944171F73967E8


def test_params_bounds():
    with pytest.raises(ValueError):
        HnswParams(m=0)
    with pytest.raises(ValueError):
        HnswParams(m=16, m0=8)
    with pytest.raises(ValueError):
        HnswParams(ef_construction=1)
    with pytest.raises(ValueError):
        HnswParams(max_level=65)


def test_levels_deterministic_and_bounded():
    levels = [level_for(f"id-{i}", 12) for i in range(1000)]
    assert levels == [level_for(f"id-{i}", 12) for i in range(1000)]
    assert max(levels) <= 12
    # ~1/4 of ids climb at least one level
    frac = sum(1 for lv in levels if lv >= 1) / len(levels)
    assert 0.15 < frac < 0.35


def _grid_graph(ef_search):
    g = HnswGraph(metric="l2", params=HnswParams(ef_search=ef_search))
    pts = {}
    for x in range(15):
        for y in range(15):
            eid = f"p-{x:02d}-{y:02d}"
            g.insert(eid, [float(x), float(y)])
            pts[eid] = (x, y)
    return g, pts


def test_high_ef_equals_exact_on_grid():
    """hnsw.rs:659-687: with ef covering the whole grid, HNSW must equal the
    exact scan."""
    g, pts = _grid_graph(ef_search=225)
    q = np.array([7.2, 7.8])
    got = [eid for eid, _ in g.search(q, 10)]
    # oracle uses the same distance kernel as the graph (the reference test
    # compares against its own exact kernel, hnsw.rs:659-687)
    exact = sorted(
        pts, key=lambda e: (g._rank(q, np.array(pts[e], dtype=np.float64)), e)
    )[:10]
    assert got == exact


def test_unit_circle_self_recall_cosine():
    """hnsw.rs:690-705: every unit vector must retrieve itself first."""
    g = HnswGraph(metric="cosine")
    n = 50
    vecs = {}
    for i in range(n):
        a = 2 * np.pi * i / n
        v = [float(np.cos(a)), float(np.sin(a))]
        g.insert(f"c-{i:02d}", v)
        vecs[f"c-{i:02d}"] = v
    for eid, v in list(vecs.items())[::5]:
        got = g.search(v, 1)
        assert got[0][0] == eid
        assert got[0][1] == pytest.approx(1.0)


def test_graph_invariants():
    """hnsw.rs:708-750: degree bounds, no self/dup/dangling edges, all nodes
    reachable from the entry point at layer 0."""
    g = HnswGraph(metric="l2")
    rng = np.random.default_rng(7)
    n = 300
    for i in range(n):
        g.insert(f"n-{i:03d}", rng.standard_normal(4).tolist())
    for nid, conns in enumerate(g.connections):
        for layer, nbs in enumerate(conns):
            limit = g.params.m0 if layer == 0 else g.params.m
            assert len(nbs) <= limit
            assert nid not in nbs
            assert len(set(nbs)) == len(nbs)
            assert all(0 <= nb < n for nb in nbs)
            assert all(layer <= g.levels[nb] for nb in nbs)
    # reachability over layer-0 edges (undirected closure)
    adj = [set() for _ in range(n)]
    for nid in range(n):
        for nb in g.connections[nid][0]:
            adj[nid].add(nb)
            adj[nb].add(nid)
    seen = {g.entry}
    stack = [g.entry]
    while stack:
        cur = stack.pop()
        for nb in adj[cur]:
            if nb not in seen:
                seen.add(nb)
                stack.append(nb)
    assert len(seen) == n


def test_rebuild_deterministic():
    rng = np.random.default_rng(11)
    data = [(f"r-{i:03d}", rng.standard_normal(8).tolist()) for i in range(200)]
    runs = []
    for _ in range(2):
        g = HnswGraph(metric="l2")
        for eid, v in data:
            g.insert(eid, v)
        runs.append([eid for eid, _ in g.search([0.0] * 8, 10)])
    assert runs[0] == runs[1]


def test_distributed_hnsw_overlap(spark):
    """Partition-merged HNSW search vs exact flat oracle on the real
    embeddings table: overlap@10 must be high (the reference's agreement
    pattern for approximate modes)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    q = [float(x) for x in rows[0]["embedding"]]
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    d = np.sqrt(((mat - np.array(q)) ** 2).sum(axis=1))
    exact = {ids[i] for i in sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:10]}

    got = hnsw_search(
        emb, [("q0", q)], metric="l2", k=10,
        params=HnswParams(ef_search=128),
        id_col="vec_id", vector_col="embedding", num_partitions=4,
    ).collect()
    assert len(got) == 10
    overlap = len({r["vec_id"] for r in got} & exact) / 10
    assert overlap >= 0.9
    # rank/score/distance contract
    assert [r["rank"] for r in got] == list(range(1, 11))
    for r in got:
        assert r["score"] == pytest.approx(-r["distance"])


@pytest.mark.parametrize("k", [3, 7])
def test_non_finite_vector_never_ranks_ahead_of_finite(spark, k):
    """A NaN vector in a shard used to rank FIRST: its NULL rank key led
    the merge window, and its NaN graph distance broke the beam heap and
    the final sort, pushing real neighbours out. Now the finite rows come
    back in NumPy's exact order and the NaN row only after all of them."""
    from vettore_spark.operators.hnsw import (
        build_graph_shards,
        search_graph_shards,
    )

    rng = np.random.default_rng(0)
    fin = rng.normal(size=(6, 4)).round(2)
    q = rng.normal(size=4).round(2).tolist()
    rows = [(f"r{i:02d}", fin[i].tolist()) for i in range(6)]
    rows.append(("nan", [float("nan"), 1.0, 1.0, 1.0]))
    df = spark.createDataFrame(rows, "id string, vector array<double>")
    shards = build_graph_shards(
        df, metric="l2", id_col="id", vector_col="vector", num_partitions=1
    )
    got = search_graph_shards(
        shards, [("q", q)], metric="l2", k=k, id_col="id"
    ).orderBy("rank").collect()
    d = np.sqrt(((fin - np.asarray(q)) ** 2).sum(axis=1))
    want = sorted(range(6), key=lambda i: (d[i], i))
    ids = [r["id"] for r in got]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    assert ids[:min(k, 6)] == [f"r{i:02d}" for i in want[:k]]
    if k > 6:
        assert ids[6] == "nan"
        assert got[6]["score"] is None and got[6]["distance"] is None


def test_graph_delete_entry_replacement():
    """Reference delete semantics (hnsw.rs:263-289): deleted node becomes
    unreachable, incoming edges are stripped, entry is replaced by the
    highest-layer (then smallest-id) survivor, and search never returns it."""
    rng = np.random.default_rng(23)
    g = HnswGraph(metric="l2", params=HnswParams(ef_search=200))
    vecs = {f"n{i:02d}": rng.standard_normal(8) for i in range(50)}
    for k in sorted(vecs):
        g.insert(k, vecs[k])
    target = g.ext_ids[g.entry]  # delete the entry point itself
    assert g.delete(target)
    assert not g.delete(target)  # second delete is a no-op
    assert g.entry is not None and g.ext_ids[g.entry] != target
    # no surviving node links to the tombstone
    dead = next(i for i, e in enumerate(g.ext_ids) if e == target)
    for i, layers in enumerate(g.connections):
        if i == dead:
            continue
        assert all(dead not in layer for layer in layers)
    hits = [eid for eid, _ in g.search(vecs[target], 10)]
    assert target not in hits and len(hits) == 10
    # delete everything -> empty graph answers empty
    for k in sorted(vecs):
        g.delete(k)
    assert g.entry is None and g.search(vecs[target], 3) == []


def test_shard_delete_without_rebuild(spark):
    """delete_from_graph_shards patches the shard table in place: the
    deleted id vanishes from search results and every other shard blob is
    byte-identical (no rebuild happened)."""
    from vettore_spark.operators.hnsw import (
        build_graph_shards,
        delete_from_graph_shards,
        search_graph_shards,
    )

    rng = np.random.default_rng(31)
    rows = [(f"v{i:03d}", rng.standard_normal(8).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "id string, vector array<double>")
    shards = build_graph_shards(
        df, metric="l2", params=HnswParams(ef_search=500), id_col="id",
        vector_col="vector", num_partitions=4,
    )
    target, qv = rows[7][0], rows[7][1]
    before = search_graph_shards(
        shards, [("q", qv)], metric="l2", k=5, ef_search=500, id_col="id",
    ).collect()
    assert before[0]["id"] == target  # self-match tops the exact-beam search

    patched = delete_from_graph_shards(shards, target)
    after = search_graph_shards(
        patched, [("q", qv)], metric="l2", k=5, ef_search=500, id_col="id",
    ).collect()
    ids_after = [r["id"] for r in after]
    assert target not in ids_after and len(ids_after) == 5
    # survivors keep their relative order from the pre-delete result
    assert ids_after[:4] == [r["id"] for r in before[1:5]]
    # all-but-one shard blobs pass through byte-identical
    blobs_a = {bytes(r["shard"]) for r in shards.collect()}
    blobs_b = {bytes(r["shard"]) for r in patched.collect()}
    assert len(blobs_a & blobs_b) >= len(blobs_a) - 1


def test_one_row_batch_patches_one_shard(spark):
    """Incremental insert of a one-row batch: the new id becomes
    searchable without any shard rebuild; exactly one shard blob changes,
    the others pass through byte-identical, and the patched table keeps
    the table's partition count."""
    import numpy as np

    from vettore_spark.operators.hnsw import (
        HnswParams,
        build_graph_shards,
        insert_many_into_graph_shards,
        search_graph_shards,
    )
    from pyspark.sql import types as T

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(40, 6))
    coll = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs) if i != 7],
        ["vec_id", "embedding"],
    )
    shards = build_graph_shards(
        coll, metric="l2", params=HnswParams(ef_search=10_000),
        id_col="vec_id", vector_col="embedding", num_partitions=4,
    )
    before = {r["shard_id"]: bytes(r["shard"]) for r in shards.collect()}

    patched = insert_many_into_graph_shards(
        shards, [(7, [float(x) for x in vecs[7]])]
    )
    assert patched.rdd.getNumPartitions() == shards.rdd.getNumPartitions()
    after = {r["shard_id"]: bytes(r["shard"]) for r in patched.collect()}
    assert set(before) == set(after)
    changed = [sid for sid in before if before[sid] != after[sid]]
    assert len(changed) == 1

    hits = search_graph_shards(
        patched, [("q", [float(x) for x in vecs[7]])], metric="l2", k=3,
        ef_search=10_000, id_col="vec_id", id_type=T.LongType(),
    ).collect()
    assert hits[0]["vec_id"] == 7  # the inserted vector is its own top hit


@pytest.mark.parametrize("path", ["one_row", "list", "frame"])
def test_stale_shard_ids_raise(spark, path):
    """A caller-supplied shard_ids list that routes a row to a shard
    absent from the table raises instead of losing the row
    (build_graph_shards emits no row for an empty partition, so
    range(num_partitions) is not a valid list); the table's own list
    patches. The list path raises ValueError before any patch is built;
    the DataFrame path, which never collects the batch, fails the
    patch's job."""
    import pickle

    from vettore_spark.operators import hnsw as H

    df = spark.createDataFrame(
        [(str(i), [float(i), 0.0]) for i in range(10)],
        "id string, vector array<double>",
    )
    shards = H.build_graph_shards(df, metric="l2", num_partitions=2)
    real = sorted(r["shard_id"] for r in shards.select("shard_id").collect())
    n = 1 if path == "one_row" else 8
    batch = [(f"new{i}", [99.0 + i, 1.0]) for i in range(n)]
    # one row: a list naming only absent shards routes it to one of them;
    # a batch: real ids plus two phantoms route some rows to a phantom
    phantoms = [max(real) + 7, max(real) + 9]
    stale = phantoms if path == "one_row" else real + phantoms

    def insert(sids):
        if path == "frame":
            rows = spark.createDataFrame(batch, "id string, vector array<double>")
            return H.insert_df_into_graph_shards(shards, rows, shard_ids=sids)
        return H.insert_many_into_graph_shards(shards, batch, shard_ids=sids)

    if path == "frame":
        with pytest.raises(Exception, match="stale"):
            insert(stale).collect()
    else:
        with pytest.raises(ValueError, match="stale"):
            insert(stale)
    patched = insert(real).collect()
    assert len(patched) == len(real)
    inserted = set().union(*(pickle.loads(bytes(r["shard"])).ext_ids for r in patched))
    assert {rid for rid, _ in batch} <= inserted


def test_collection_hnsw_incremental_put_delete(spark):
    """Facade: hnsw_search builds a resident shard table; put patches one
    shard (no rebuild — the table object changes but is derived from the
    prior one), delete tombstones, and results track the collection."""
    import numpy as np

    from vettore_spark.collection import Collection

    rng = np.random.default_rng(31)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(30)
    ]
    c = Collection.create(spark, "hn", 6, metric="l2").put_many(rows)
    got = c.hnsw_search(rows[4]["vector"], limit=3, ef_search=10_000).collect()
    assert got[0]["id"] == "v4"
    assert resident(c, "hnsw")

    # incremental insert: resident table survives (patched, not dropped)
    nv = [float(x) for x in rng.normal(size=6)]
    c.put({"id": "fresh", "vector": nv})
    assert resident(c, "hnsw"), "resident table must be patched, not dropped"
    got2 = c.hnsw_search(nv, limit=2, ef_search=10_000).collect()
    assert got2[0]["id"] == "fresh"

    # incremental delete: patched table stops returning the id
    c.delete("fresh")
    assert resident(c, "hnsw")
    got3 = c.hnsw_search(nv, limit=5, ef_search=10_000).collect()
    assert all(r["id"] != "fresh" for r in got3)

    # bulk put_many with a driver-small list now PATCHES the resident
    # table too (r4: insert_many_into_graph_shards — one batched job)
    c.put_many([{"id": "bulk1", "vector": nv}, {"id": "bulk2", "vector": nv}])
    assert resident(c, "hnsw"), "small-batch put_many must patch"
    got4 = c.hnsw_search(nv, limit=2, ef_search=10_000).collect()
    assert {got4[0]["id"], got4[1]["id"]} == {"bulk1", "bulk2"}

    # a DataFrame batch now PATCHES too (r5: insert_df_into_graph_shards
    # routes executor-side — no collect, no rebuild)
    staged = c._df.sparkSession.createDataFrame(
        [("dfrow", "dfrow", [float(x) for x in nv], None, None, None)],
        c._df.schema,
    )
    c.put_many(staged)
    assert resident(c, "hnsw"), "DataFrame batch must patch"
    got5 = c.hnsw_search(nv, limit=3, ef_search=10_000).collect()
    assert any(r["id"] == "dfrow" for r in got5)


def test_collection_hnsw_multivector_put_keeps_residency(spark):
    """A put with only multi-`vectors` must still patch (not drop) the
    resident shard table, inserting the stored primary (mean) vector."""
    import numpy as np

    from vettore_spark.collection import Collection

    rng = np.random.default_rng(41)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=4)]}
        for i in range(20)
    ]
    c = Collection.create(spark, "hnm", 4, metric="l2").put_many(rows)
    c.hnsw_search(rows[0]["vector"], limit=2, ef_search=10_000).collect()
    assert resident(c, "hnsw")
    mv = [[1.0, 2.0, 3.0, 4.0], [3.0, 4.0, 5.0, 6.0]]  # mean (2,3,4,5)
    c.put({"id": "multi", "vectors": mv})
    assert resident(c, "hnsw"), "multi-vector put must patch, not drop"
    got = c.hnsw_search([2.0, 3.0, 4.0, 5.0], limit=1, ef_search=10_000).collect()
    assert got[0]["id"] == "multi"


def test_snapshot_persists_hnsw_index(spark, tmp_path):
    """include_indexes=True writes the resident HNSW shard table with the
    data; load_snapshot restores it so the first search after a restart
    does NOT rebuild the graph."""
    from vettore_spark import Collection

    c = Collection.create(spark, "snapidx", 4, metric="cosine")
    c.put_many(
        [{"id": f"v{i}", "vector": [1.0, float(i % 3), float(i), 0.5]}
         for i in range(30)]
    )
    q = [1.0, 1.0, 5.0, 0.5]
    want = [(r["id"], r["score"]) for r in
            c.hnsw_search(q, limit=5, num_partitions=2).collect()]
    assert resident(c, "hnsw")

    path = str(tmp_path / "snap")
    c.snapshot(path, include_indexes=True)
    c2 = Collection.load_snapshot(spark, path)
    # the index came back resident: the cache is pre-populated with the
    # same (metric, params, partitions) key before any search runs
    assert resident(c2, "hnsw"), "index not restored"
    assert set(resident(c2, "hnsw")) == set(resident(c, "hnsw"))
    got = [(r["id"], r["score"]) for r in
           c2.hnsw_search(q, limit=5, num_partitions=2).collect()]
    assert got == want


def test_snapshot_include_indexes_requires_parquet(spark, tmp_path):
    import pytest as _pytest

    from vettore_spark import Collection

    c = Collection.create(spark, "snapidx2", 4, metric="cosine")
    c.put_many([{"id": "a", "vector": [1.0, 0.0, 0.0, 0.0]}])
    with _pytest.raises(ValueError):
        c.snapshot(str(tmp_path / "s2"), format="json", include_indexes=True)


def test_insert_df_into_graph_shards_matches_list_path(spark):
    """The cogroup DataFrame path and the task-closure list path must
    produce byte-identical patched shard tables (same FNV-1a routing,
    same sorted-id insertion order) — the property that lets put_many
    switch paths on batch size without changing search results."""
    import numpy as np

    from vettore_spark.operators.hnsw import (
        HnswParams,
        build_graph_shards,
        insert_df_into_graph_shards,
        insert_many_into_graph_shards,
    )

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(60, 6))
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs) if i >= 10],
        ["vec_id", "embedding"],
    )
    shards = build_graph_shards(
        base, metric="l2", params=HnswParams(ef_search=10_000),
        id_col="vec_id", vector_col="embedding", num_partitions=4,
    )
    sids = sorted(r["shard_id"] for r in shards.select("shard_id").collect())

    batch = [(i, [float(x) for x in vecs[i]]) for i in range(10)]
    via_list = insert_many_into_graph_shards(shards, batch, shard_ids=sids)
    batch_df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    via_df = insert_df_into_graph_shards(
        shards, batch_df, shard_ids=sids,
        id_col="vec_id", vector_col="embedding",
    )
    a = {r["shard_id"]: bytes(r["shard"]) for r in via_list.collect()}
    b = {r["shard_id"]: bytes(r["shard"]) for r in via_df.collect()}
    assert set(a) == set(b)
    for sid in a:
        assert a[sid] == b[sid], f"shard {sid} diverged between paths"


def test_insert_df_into_graph_shards_equals_rebuild_search(spark):
    """Patch == rebuild at a DataFrame-sized batch: building on rows
    whose ids sort BEFORE the batch and patching in the batch must
    reproduce the full-corpus rebuild's search results exactly (full
    beam), because insertion order (sorted ids per shard) only matches
    when the batch sorts after the base."""
    import numpy as np
    from pyspark.sql import types as T

    from vettore_spark.operators.hnsw import (
        HnswParams,
        build_graph_shards,
        insert_df_into_graph_shards,
        search_graph_shards,
    )

    rng = np.random.default_rng(47)
    n, cut = 400, 300
    vecs = rng.normal(size=(n, 8))
    rows = [(f"{i:04d}", [float(x) for x in v]) for i, v in enumerate(vecs)]
    full = spark.createDataFrame(rows, "id string, vector array<double>")
    base = full.filter(F.col("id") < f"{cut:04d}")
    batch = full.filter(F.col("id") >= f"{cut:04d}")
    p = HnswParams(ef_search=10_000)

    built = build_graph_shards(
        base, metric="l2", params=p, num_partitions=4
    )
    sids = sorted(r["shard_id"] for r in built.select("shard_id").collect())
    patched = insert_df_into_graph_shards(built, batch, shard_ids=sids)

    q = [("q", [float(x) for x in vecs[0]])]
    got = [
        (r["id"], r["rank"])
        for r in search_graph_shards(
            patched, q, metric="l2", k=10, ef_search=10_000
        ).collect()
    ]
    # exact oracle: full beam over every row == flat l2 top-10
    dists = np.linalg.norm(vecs - vecs[0], axis=1)
    want_ids = [
        f"{i:04d}"
        for i in sorted(range(n), key=lambda i: (dists[i], f"{i:04d}"))[:10]
    ]
    assert [g[0] for g in got] == want_ids


def test_put_many_large_batch_keeps_residency_via_df_path(spark, monkeypatch):
    """A batch past the closure cap must keep the resident HNSW index
    (patched through the cogroup path), not drop it for rebuild — and the
    inserted ids must be searchable. The cap is lowered via its module
    constant so the DF path is exercised without paying a >10k-row
    ingest (r14 suite-cost trim: was 54 s for the same pinned class;
    the path SELECTION reads the same constant production does)."""
    import numpy as np

    from vettore_spark import collection as coll_mod
    from vettore_spark.collection import Collection

    monkeypatch.setattr(coll_mod, "_HNSW_CLOSURE_BATCH_CAP", 100)
    rng = np.random.default_rng(53)
    c = Collection.create(spark, "bigbatch", 6, metric="l2")
    c.put_many(
        [
            {"id": f"a{i:05d}", "vector": [float(x) for x in rng.normal(size=6)]}
            for i in range(50)
        ]
    )
    c.hnsw_search([0.0] * 6, limit=3).collect()
    assert resident(c, "hnsw")
    big = [
        {"id": f"b{i:05d}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(101)
    ]
    c.put_many(big)
    assert resident(c, "hnsw"), "residency dropped for a big batch"
    target = big[17]["vector"]
    hits = c.hnsw_search(target, limit=1).collect()
    assert hits[0]["id"] == "b00017"
