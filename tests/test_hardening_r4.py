"""Round-4 hardening regressions: banded sign-prefix embedding near-dup
(block cap + multi-band recall), capped PQ query-side collects, checkpoint
file release in the connected-components loop, and the HNSW resident-shard
durability ladder."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.operators import dedup as D
from vettore_spark.plans.checkpoint import durable_cut, release_cut
from tests.conftest import resident


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _clear_checkpoint_dir(sc) -> None:
    try:
        empty = sc._jvm.scala.Option.empty()
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(empty)
    except Exception:  # noqa: BLE001 — leave set; tests stay correct
        pass


# ---------------------------------------------------------------------------
# banded embedding near-dup
# ---------------------------------------------------------------------------


def _banded_oracle(ids, mat, n_bits, n_bands, threshold):
    """NumPy twin of embedding_neardup_banded: a pair is emitted iff its
    sign prefixes agree in ANY band and the exact cosine >= threshold."""
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    keys = [
        tuple(
            sum(1 << i for i in range(n_bits) if mat[r, j * n_bits + i] > 0)
            for j in range(n_bands)
        )
        for r in range(len(ids))
    ]
    out = set()
    for a in range(len(ids)):
        for b in range(len(ids)):
            if not ids[a] < ids[b]:
                continue
            if not any(keys[a][j] == keys[b][j] for j in range(n_bands)):
                continue
            if float(norm[a] @ norm[b]) >= threshold:
                out.add((ids[a], ids[b]))
    return out


def test_banded_neardup_matches_numpy_oracle(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(40, 16))
    # plant near-dups: tiny perturbations keep signs (and cosine ~1)
    for src, dst in [(0, 1), (2, 3), (4, 5)]:
        mat[dst] = mat[src] + rng.normal(scale=1e-3, size=16)
    ids = [f"d{i:02d}" for i in range(len(mat))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id: string, embedding: array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_neardup_banded(
            df, n_bits=4, n_bands=2, threshold=0.9, max_block_size=None
        ).collect()
    }
    want = _banded_oracle(ids, mat, 4, 2, 0.9)
    assert got == want
    assert {("d00", "d01"), ("d02", "d03"), ("d04", "d05")} <= got


def test_banded_neardup_block_cap_drops_hot_blocks(spark):
    """With max_block_size below every block's population, the quadratic
    stage sees nothing and the result is empty — the hot-key escape hatch."""
    rng = np.random.default_rng(8)
    mat = np.abs(rng.normal(size=(12, 8)))  # all-positive: ONE block per band
    df = spark.createDataFrame(
        [(f"d{i}", [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id: string, embedding: array<double>",
    )
    capped = D.embedding_neardup_banded(
        df, n_bits=4, n_bands=2, threshold=0.0, max_block_size=5
    )
    assert capped.count() == 0
    uncapped = D.embedding_neardup_banded(
        df, n_bits=4, n_bands=2, threshold=0.0, max_block_size=None
    )
    assert uncapped.count() == 12 * 11 // 2


def test_banded_neardup_plan_caps_before_self_join(spark):
    """Plan pin: the population filter (`_pop <= cap` behind a left-semi
    membership join) must exist and the pair stage must stay an equi-join —
    never a cartesian/nested-loop product."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _executed(
        D.embedding_neardup_banded(
            emb, n_bits=8, n_bands=2, threshold=0.35, max_block_size=100
        )
    )
    assert "_pop" in plan, "block-population cap missing from the plan"
    assert "LeftSemi" in plan, "cap must apply via semi-join before pairing"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# PQ query-side collect caps
# ---------------------------------------------------------------------------


def _tiny_pq_setup(spark, n_queries):
    codebooks = np.zeros((2, 4, 2))
    codes = spark.createDataFrame(
        [(1, [0, 0])], "vec_id: long, codes: array<int>"
    )
    queries = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(n_queries)],
        "query_id: long, query_vector: array<double>",
    )
    return codes, queries, codebooks


def test_pq_adc_topk_caps_query_collect(spark):
    from vettore_spark.operators.pq import pq_adc_topk

    codes, queries, books = _tiny_pq_setup(spark, 3)
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        pq_adc_topk(codes, queries, books, max_broadcast_queries=2)
    # under the cap the same call works
    assert pq_adc_topk(codes, queries, books, max_broadcast_queries=3).count() > 0


def test_ivfpq_topk_caps_query_collect(spark):
    from vettore_spark.operators.pq import ivfpq_topk

    codes, queries, books = _tiny_pq_setup(spark, 3)
    coarse = np.zeros((1, 4))
    index = spark.createDataFrame(
        [(1, 0, [0, 0])], "vec_id: long, cell: int, codes: array<int>"
    )
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        ivfpq_topk(index, queries, coarse, books, max_broadcast_queries=2)


# ---------------------------------------------------------------------------
# checkpoint lifecycle
# ---------------------------------------------------------------------------


def _rdd_dirs(root):
    found = []
    for r, dirs, _files in os.walk(root):
        found.extend(os.path.join(r, d) for d in dirs if d.startswith("rdd-"))
    return found


def test_durable_cut_eager_records_and_releases_files(spark, tmp_path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ck1"))
    try:
        df = spark.range(100)
        cut = durable_cut(df, eager=True)
        dirs = cut.__dict__.get("_vettore_ckpt_dirs")
        assert dirs, "eager reliable cut must record its rdd-* dirs"
        assert all(os.path.exists(d.replace("file:", "")) for d in dirs)
        assert cut.count() == 100
        release_cut(cut)
        assert not any(os.path.exists(d.replace("file:", "")) for d in dirs)
    finally:
        _clear_checkpoint_dir(sc)


def test_cc_releases_previous_round_checkpoints(spark, tmp_path, monkeypatch):
    """The loop must not leak O(rounds) checkpoint copies: at exit only the
    raw cut and the final round(s) remain, regardless of iteration count."""
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)  # pin the loop
    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck2")
    sc.setCheckpointDir(ckdir)
    try:
        # a 24-node chain needs several large/small-star rounds
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(24)], "doc_a: int, doc_b: int"
        )
        got = {
            (r["id"], r["component"])
            for r in D.connected_components(pairs).collect()
        }
        assert got == {(i, 0) for i in range(25)}
        remaining = _rdd_dirs(ckdir)
        assert len(remaining) <= 3, (
            f"checkpoint files leaked: {len(remaining)} rdd dirs remain"
        )
    finally:
        _clear_checkpoint_dir(sc)


def test_hnsw_shard_patch_routes_through_durable_cut(spark, monkeypatch):
    """collection.put/delete shard patches must take the durability ladder,
    not a raw localCheckpoint (a lost executor would orphan the resident
    shards with no lineage to recompute)."""
    from vettore_spark import collection as C
    from vettore_spark.sources import store as ST

    calls = []
    real = ST.durable_cut

    def spy(df, **kw):
        calls.append(kw)
        return real(df, **kw)

    # the resident indexes (sources.store) apply the patches
    monkeypatch.setattr(ST, "durable_cut", spy)
    rng = np.random.default_rng(11)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(20)
    ]
    c = C.Collection.create(spark, "hn_r4", 6, metric="l2").put_many(rows)
    c.hnsw_search(rows[0]["vector"], limit=3, ef_search=10_000).collect()
    assert resident(c, "hnsw")

    calls.clear()
    c.put({"id": "fresh", "vector": [float(x) for x in rng.normal(size=6)]})
    assert calls, "put shard patch bypassed durable_cut"

    calls.clear()
    c.delete("fresh")
    assert calls, "delete shard patch bypassed durable_cut"


# kind -> (search over the resident index, index table to tamper, a
# row-count-preserving edit of it)
_TAMPER = {
    "hnsw": (
        lambda c, q: c.hnsw_search(q, limit=5, num_partitions=2),
        "index_hnsw/k0",
        # corrupted graph blob
        lambda t: t.withColumn("shard", F.concat("shard", F.lit(b"\x00"))),
    ),
    "ivf": (
        lambda c, q: c.ivf_search(q, limit=5, n_cells=4, n_probe=2),
        "index_ivf/k0/assigned",
        # every row moved to another cell
        lambda t: t.withColumn("_cell", (F.col("_cell") + 1) % 4),
    ),
    "pq": (
        lambda c, q: c.pq_search(q, limit=5, m=2, n_codes=8, candidates=10),
        "index_pq/k0",
        # every code sequence reversed
        lambda t: t.withColumn("codes", F.reverse("codes")),
    ),
}


@pytest.mark.parametrize("kind", sorted(_TAMPER))
def test_snapshot_detects_content_tampered_index(spark, tmp_path, kind):
    """Row-count-preserving tampering (edited blobs, rewired graph, moved
    cells, rewritten codes) must fail the manifest's CONTENT fingerprint
    and skip the index — the r4 upgrade over the count-only check — and
    the search rebuilds to the same answer."""
    import warnings

    from vettore_spark import Collection

    search, table, edit = _TAMPER[kind]
    c = Collection.create(spark, f"tamper_r4_{kind}", 4, metric="cosine")
    c.put_many(
        [{"id": f"v{i}", "vector": [1.0, float(i % 3), float(i), 0.5]}
         for i in range(30)]
    )
    q = [1.0, 1.0, 5.0, 0.5]
    want = [r["id"] for r in search(c, q).collect()]
    path = str(tmp_path / "snap")
    c.snapshot(path, include_indexes=True)

    idx_dir = os.path.join(path, table)
    stored = spark.read.parquet(idx_dir)
    n = stored.count()
    # same row count, edited content
    tampered = spark.createDataFrame(edit(stored).collect(), stored.schema)
    assert tampered.count() == n
    tampered.write.mode("overwrite").parquet(idx_dir)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        c2 = Collection.load_snapshot(spark, path)
    assert any("integrity" in str(w.message) for w in caught)
    assert not resident(c2, kind), "tampered index was installed"
    got = [r["id"] for r in search(c2, q).collect()]
    assert got == want


# ---------------------------------------------------------------------------
# JL projection
# ---------------------------------------------------------------------------


def test_jl_projection_preserves_inner_products(spark):
    """JL with a Rademacher matrix preserves inner products in expectation
    (Achlioptas 2003): across many pairs the compressed dot must track the
    true dot with small mean absolute error relative to vector norms."""
    from vettore_spark.encodings.projections import jl_project, rademacher_signs

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(60, 64)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id: long, embedding: array<double>",
    )
    got = {
        r["vec_id"]: np.array(r["projected"])
        for r in jl_project(df, d_in=64, d_out=32).collect()
    }
    # spark result == numpy result for the same deterministic matrix
    S = np.array(rademacher_signs(64, 32, seed=0), dtype=np.float64)
    want = (mat @ S.T) / np.sqrt(32)
    assert np.allclose(np.array([got[i] for i in range(60)]), want, atol=1e-9)
    # distance preservation: mean |proj_dot - true_dot| small for unit vecs
    errs = []
    for a in range(0, 60, 3):
        for b in range(1, 60, 7):
            errs.append(abs(float(got[a] @ got[b]) - float(mat[a] @ mat[b])))
    assert float(np.mean(errs)) < 0.15


def test_jl_projection_is_map_only(spark):
    from vettore_spark.encodings.projections import jl_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = jl_project(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# incremental IVF insert
# ---------------------------------------------------------------------------


def test_collection_ivf_incremental_put(spark):
    """Facade parity with the HNSW patch path: ivf_search builds a
    resident inverted file; put appends ONE row to it (no codebook
    re-train — the state object is patched, not dropped) and searches
    find the new vector."""
    from vettore_spark.collection import Collection

    rng = np.random.default_rng(13)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(40)
    ]
    c = Collection.create(spark, "ivf_r4", 6, metric="cosine").put_many(rows)
    got = c.ivf_search(rows[3]["vector"], limit=3, n_cells=4, n_probe=4).collect()
    assert got[0]["id"] == "v3"
    state0 = resident(c, "ivf")
    assert state0
    cents0 = {k: ivf.centroids for k, ivf in state0.items()}

    nv = [float(x) for x in rng.normal(size=6)]
    c.put({"id": "fresh", "vector": nv})
    state1 = resident(c, "ivf")
    assert state1, "resident IVF state must be patched, not dropped"
    # codebook object unchanged (no re-train), assignment table patched
    for k, ivf in state1.items():
        assert ivf.centroids is cents0[k]
    got2 = c.ivf_search(nv, limit=2, n_cells=4, n_probe=4).collect()
    assert got2[0]["id"] == "fresh"

    # delete still tombstones incrementally on the patched table
    c.delete("fresh")
    got3 = c.ivf_search(nv, limit=5, n_cells=4, n_probe=4).collect()
    assert all(r["id"] != "fresh" for r in got3)


def test_ivf_insert_matches_rebuild(spark):
    """ivf_insert's driver-side assignment must replicate the build path:
    patched inverted file == rebuilt inverted file on the same corpus."""
    from vettore_spark.operators import ann as ANN

    rng = np.random.default_rng(17)
    mat = rng.normal(size=(30, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id: long, embedding: array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in rng.normal(size=8)]) for j in range(4)],
        "centroid_id: long, centroid: array<double>",
    )
    full = ANN.ivf_assign(df, centroids=cents, vector_col="embedding")
    partial = ANN.ivf_assign(
        df.filter(F.col("vec_id") != 7), centroids=cents, vector_col="embedding"
    )
    patched = ANN.ivf_insert(
        partial, 7, [float(x) for x in mat[7]], centroids=cents,
        id_col="vec_id", vector_col="embedding",
    )
    want = {(r["vec_id"], r["_cell"]) for r in full.collect()}
    got = {(r["vec_id"], r["_cell"]) for r in patched.collect()}
    assert got == want


def test_collection_pq_incremental_put_delete(spark):
    """PQ joins the incremental-maintenance family: put encodes the one
    new vector with the RESIDENT codebooks and appends a code row (no
    re-train); delete tombstones the code table. Results track the
    collection without an index rebuild."""
    from vettore_spark.collection import Collection

    rng = np.random.default_rng(23)
    rows = [
        {"id": f"v{i:02d}", "vector": [float(x) for x in rng.normal(size=8)]}
        for i in range(50)
    ]
    c = Collection.create(spark, "pq_r4", 8, metric="l2").put_many(rows)
    got = c.pq_search(rows[4]["vector"], limit=3, m=2, n_codes=8, candidates=50).collect()
    assert got[0]["id"] == "v04"
    idx0 = resident(c, "pq")
    assert idx0
    books0 = {k: idx._books for k, idx in idx0.items()}

    nv = [float(x) for x in rng.normal(size=8)]
    c.put({"id": "fresh", "vector": nv})
    idx1 = resident(c, "pq")
    assert idx1, "put must patch the resident PQ index, not drop it"
    for k, idx in idx1.items():
        assert idx._books is books0[k], "codebooks must not re-train on put"
    got2 = c.pq_search(nv, limit=2, m=2, n_codes=8, candidates=50).collect()
    assert got2[0]["id"] == "fresh"

    c.delete("fresh")
    assert resident(c, "pq"), "delete must tombstone, not drop"
    got3 = c.pq_search(nv, limit=5, m=2, n_codes=8, candidates=50).collect()
    assert all(r["id"] != "fresh" for r in got3)


def test_collection_sq_params_survive_put_delete(spark):
    """SQ min/max bounds stay resident across single-row put/delete (no
    re-train scan): superset bounds stay valid on delete; on insert an
    out-of-range value clips only in the candidate stage and the exact
    rerank keeps results correct."""
    from vettore_spark.collection import Collection

    rng = np.random.default_rng(29)
    rows = [
        {"id": f"v{i:02d}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(40)
    ]
    c = Collection.create(spark, "sq_r4", 6, metric="l2").put_many(rows)
    got = c.sq_search(rows[7]["vector"], limit=3, candidates=40).collect()
    assert got[0]["id"] == "v07"
    params0 = resident(c, "sq")
    assert params0

    nv = [float(x) for x in rng.normal(size=6)]
    c.put({"id": "fresh", "vector": nv})
    # entries compare by identity
    assert resident(c, "sq") == params0, "bounds must stay resident"
    got2 = c.sq_search(nv, limit=2, candidates=41).collect()
    assert got2[0]["id"] == "fresh"

    c.delete("fresh")
    assert resident(c, "sq") == params0
    got3 = c.sq_search(nv, limit=5, candidates=40).collect()
    assert all(r["id"] != "fresh" for r in got3)


def test_snapshot_persists_pq_index(spark, tmp_path):
    """include_indexes=True persists the resident PQ index (codebooks in
    the manifest, code table as parquet, content-fingerprinted); after
    load the codebooks are bit-identical and searches start warm."""
    from vettore_spark.collection import Collection

    rng = np.random.default_rng(31)
    rows = [
        {"id": f"v{i:02d}", "vector": [float(x) for x in rng.normal(size=8)]}
        for i in range(50)
    ]
    c = Collection.create(spark, "pq_snap", 8, metric="l2").put_many(rows)
    q = rows[9]["vector"]
    want = [r["id"] for r in c.pq_search(q, limit=3, m=2, n_codes=8, candidates=50).collect()]
    assert resident(c, "pq")
    path = str(tmp_path / "snap")
    c.snapshot(path, include_indexes=True)

    c2 = Collection.load_snapshot(spark, path)
    cache = resident(c2, "pq")
    assert cache, "PQ index not restored"
    for k, idx in cache.items():
        assert np.array_equal(idx._books, resident(c, "pq")[k]._books)
    got = [r["id"] for r in c2.pq_search(q, limit=3, m=2, n_codes=8, candidates=50).collect()]
    assert got == want
