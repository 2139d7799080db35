"""ANN operator tests: the GEMM paths must agree with the expression paths
(same engine, two physical strategies), and IVF recall is validated against
the exact oracle — the reference's overlap@k pattern."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.operators import ann as ANN
from vettore_spark.operators import search as S
from vettore_spark.functions import kernels as K
from tests.conftest import resident


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(5)
    # 8 well-separated cluster centers + noise
    centers = rng.standard_normal((8, 16)) * 4.0
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.standard_normal(16) * 0.3
        rows.append((i, v.astype(float).tolist(), c))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>, label: int")


def _queries(spark, emb, n=4):
    return (
        emb.filter(F.col("vec_id") < n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector"))
    )


def test_brute_force_matches_expression_path(spark, emb):
    qs = _queries(spark, emb)
    gemm = ANN.brute_force_topk(emb, qs, k=5, metric="cosine")
    expr = S.multi_query_topk(
        qs, emb, metric="cosine", k=5, id_col="vec_id", vector_col="embedding",
        pre_normalized=False,
    )
    g = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["score"], 9)) for r in gemm.collect()}
    e = {(r["query_id"], r["rank"]): (r["id"] if "id" in r else r["vec_id"], round(r["score"], 9)) for r in expr.collect()}
    assert g == e


def test_cosine_neardup_gemm_exact(spark, emb):
    """GEMM near-dup pairs == the expression-path all-pairs operator."""
    from vettore_spark.operators.dedup import embedding_neardup_pairs

    got = {
        (r["id_a"], r["id_b"]): round(r["sim"], 8)
        for r in ANN.cosine_neardup_gemm(emb, threshold=0.97).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): round(r["sim"], 8)
        for r in embedding_neardup_pairs(emb, threshold=0.97).collect()
    }
    assert got == want
    assert len(got) > 0


def test_ivf_recall_and_determinism(spark, emb):
    """With cluster-shaped data and n_probe=2, IVF top-k must overlap the
    exact top-k heavily; two runs must be identical (deterministic
    assignment + tie-breaks)."""
    cents = emb.groupBy("label").agg(
        F.collect_list("embedding").alias("_vs")
    ).select(
        F.col("label").cast("long").alias("centroid_id"),
        K.mean_vector("_vs", 16).alias("centroid"),
    )
    qs = _queries(spark, emb)
    out1 = ANN.ivf_topk(
        emb, qs, centroids=cents, n_probe=2, k=5,
        id_col="vec_id", vector_col="embedding",
    ).collect()
    out2 = ANN.ivf_topk(
        emb, qs, centroids=cents, n_probe=2, k=5,
        id_col="vec_id", vector_col="embedding",
    ).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    exact = ANN.brute_force_topk(emb, qs, k=5, metric="cosine")
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in out1:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    overlaps = [len(ex[q] & got[q]) / 5 for q in ex]
    assert sum(overlaps) / len(overlaps) >= 0.9


def test_self_knn_matches_broadcast_path(spark, emb):
    """Block-grid self-kNN (no collect) must equal brute_force_topk with
    queries == collection, bit for bit."""
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    for metric in ("cosine", "l2"):
        want = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 6))
            for r in ANN.brute_force_topk(
                emb, queries, k=3, metric=metric
            ).collect()
        }
        got = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 6))
            for r in ANN.self_knn_topk(
                emb, k=3, metric=metric, query_blocks=3, data_blocks=4
            ).collect()
        }
        assert got == want


def test_cosine_neardup_blocked_matches_gemm(spark, emb):
    want = {
        (r["id_a"], r["id_b"]): round(r["sim"], 6)
        for r in ANN.cosine_neardup_gemm(emb, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["sim"], 6)
        for r in ANN.cosine_neardup_blocked(
            emb, threshold=0.9, query_blocks=3, data_blocks=5
        ).collect()
    }
    assert want  # non-degenerate: the clustered fixture has near-dups
    assert got == want


def test_brute_force_query_cap_guards_driver(spark, emb):
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        ANN.brute_force_topk(emb, queries, k=2, max_broadcast_queries=10)


def test_ivf_delete_tombstones_without_retrain(spark):
    """ivf_delete drops exactly the deleted id from the inverted file; a
    subsequent search never returns it, other results are unchanged, and
    the codebook (cell structure) is untouched."""
    import numpy as np

    from pyspark.sql import functions as F

    from vettore_spark.operators import ann as ANN

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 6))
    coll = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in vecs[j * 20 : (j + 1) * 20].mean(axis=0)]) for j in range(3)],
        ["centroid_id", "centroid"],
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]])], ["query_id", "query_vector"]
    )
    assigned = ANN.ivf_assign(coll, centroids=cents, vector_col="embedding")
    before = ANN.ivf_topk(
        coll, queries, centroids=cents, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding", assigned=assigned,
    ).collect()
    assert before[0]["vec_id"] == 0  # self-match first pre-delete

    patched = ANN.ivf_delete(assigned, 0, id_col="vec_id")
    assert patched.filter(F.col("vec_id") == 0).count() == 0
    assert patched.count() == assigned.count() - 1
    # cell assignments of surviving rows are byte-identical (no re-assign)
    a = {r["vec_id"]: r["_cell"] for r in assigned.collect() if r["vec_id"] != 0}
    b = {r["vec_id"]: r["_cell"] for r in patched.collect()}
    assert a == b

    after = ANN.ivf_topk(
        coll, queries, centroids=cents, n_probe=3, k=5,
        id_col="vec_id", vector_col="embedding", assigned=patched,
    ).collect()
    assert all(r["vec_id"] != 0 for r in after)
    # the rest of the pre-delete ranking shifts up by exactly one
    assert [r["vec_id"] for r in after][:4] == [r["vec_id"] for r in before][1:5]


def test_collection_ivf_search_with_delete_patch(spark):
    """Facade: ivf_search trains + assigns once (resident), delete patches
    the inverted file without retraining; put appends incrementally (r4:
    the ivf_insert one-row patch — state survives, codebook untouched)."""
    import numpy as np

    from vettore_spark.collection import Collection

    rng = np.random.default_rng(17)
    rows = [
        {"id": f"v{i}", "vector": [float(x) for x in rng.normal(size=6)]}
        for i in range(60)
    ]
    c = Collection.create(spark, "ivff", 6, metric="cosine").put_many(rows)
    got = c.ivf_search(rows[5]["vector"], limit=3, n_cells=3, n_probe=3).collect()
    assert got[0]["id"] == "v5"  # n_probe covers all cells -> exact self-match
    assert resident(c, "ivf")

    c.delete("v5")
    assert resident(c, "ivf"), "delete must patch, not drop"
    got2 = c.ivf_search(rows[5]["vector"], limit=3, n_cells=3, n_probe=3).collect()
    assert all(r["id"] != "v5" for r in got2)

    nv = [float(x) for x in rng.normal(size=6)]
    c.put({"id": "fresh", "vector": nv})
    assert resident(c, "ivf"), "put must patch the IVF state, not drop it"
    got3 = c.ivf_search(nv, limit=2, n_cells=3, n_probe=3).collect()
    assert got3[0]["id"] == "fresh"


def test_snapshot_persists_ivf_index(spark, tmp_path):
    """include_indexes=True also persists the resident IVF state (trained
    centroids + cell assignment); after load the codebook is identical —
    no retrain on restart."""
    from vettore_spark import Collection

    # cosine: ivf_search now rejects non-cosine collections (its probe/
    # score path is a cosine kernel — the r11 metric guard); this test's
    # subject is snapshot persistence of the IVF state, metric-agnostic
    c = Collection.create(spark, "snapivf", 4, metric="cosine")
    c.put_many(
        [{"id": f"v{i}", "vector": [float(i % 5), float(i % 3), 1.0, 0.0]}
         for i in range(40)]
    )
    q = [1.0, 1.0, 1.0, 0.0]
    want = [(r["id"], r["score"]) for r in
            c.ivf_search(q, limit=5, n_cells=4).collect()]
    path = str(tmp_path / "snapivf")
    c.snapshot(path, include_indexes=True)
    c2 = Collection.load_snapshot(spark, path)
    assert resident(c2, "ivf"), "IVF state not restored"
    got = [(r["id"], r["score"]) for r in
           c2.ivf_search(q, limit=5, n_cells=4).collect()]
    assert got == want


def test_ivf_range_matches_filtered_probe_scores(spark, emb):
    """ivf_range == ivf_topk's probe stage threshold-filtered: every
    (query, id) the radius returns must appear in a large-k ivf_topk over
    the same probes with distance <= threshold, and vice versa; and the
    executed plan has no Window (threshold is a plain filter)."""
    cents = emb.groupBy("label").agg(
        F.collect_list("embedding").alias("_vs")
    ).select(
        F.col("label").cast("long").alias("centroid_id"),
        K.mean_vector("_vs", 16).alias("centroid"),
    )
    qs = _queries(spark, emb)
    thr = 0.4  # distance threshold well inside the cluster radius
    rng = ANN.ivf_range(
        emb, qs, centroids=cents, n_probe=2, max_distance=thr,
        id_col="vec_id", vector_col="embedding",
    )
    plan = rng._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = {(r["query_id"], r["vec_id"]) for r in rng.collect()}
    big = ANN.ivf_topk(
        emb, qs, centroids=cents, n_probe=2, k=400,
        id_col="vec_id", vector_col="embedding",
    )
    want = {
        (r["query_id"], r["vec_id"])
        for r in big.collect()
        if r["distance"] <= thr
    }
    assert got == want
    assert len(got) > 0
    # min_score form is the same set (score = 1 - distance for cosine)
    got2 = {
        (r["query_id"], r["vec_id"])
        for r in ANN.ivf_range(
            emb, qs, centroids=cents, n_probe=2, min_score=1.0 - thr,
            id_col="vec_id", vector_col="embedding",
        ).collect()
    }
    assert got2 == got
    with pytest.raises(ValueError, match="exactly one"):
        ANN.ivf_range(emb, qs, centroids=cents, n_probe=2,
                      id_col="vec_id", vector_col="embedding")


def test_ivf_health_report_invariants_and_drift_detection(spark, emb):
    """Health report: populations sum to the corpus, shares to 1.0,
    residuals >= 0; inserting a drifted vector into a cell raises that
    cell's max residual — the monitoring signal actually detects drift."""
    cents = emb.groupBy("label").agg(
        F.collect_list("embedding").alias("_vs")
    ).select(
        F.col("label").cast("long").alias("centroid_id"),
        K.mean_vector("_vs", 16).alias("centroid"),
    )
    base = ANN.ivf_health(
        emb, centroids=cents, id_col="vec_id", vector_col="embedding"
    ).collect()
    assert sum(r["n_rows"] for r in base) == emb.count()
    assert abs(sum(r["share"] for r in base) - 1.0) < 1e-9
    assert all(r["mean_dist"] >= 0.0 and r["max_dist"] >= r["mean_dist"] - 1e-12
               for r in base)

    # drift: a far-off vector still lands in SOME nearest cell; that
    # cell's max residual must exceed its baseline
    assigned = ANN.ivf_assign(
        emb, centroids=cents, id_col="vec_id", vector_col="embedding"
    )
    drifted = [100.0] * 16
    patched = ANN.ivf_insert(
        assigned, 99_999, drifted, centroids=cents,
        id_col="vec_id", vector_col="embedding",
    )
    after = {
        r["cell"]: r
        for r in ANN.ivf_health(
            emb, centroids=cents, id_col="vec_id", vector_col="embedding",
            assigned=patched,
        ).collect()
    }
    before = {r["cell"]: r for r in base}
    moved = [c for c in after
             if after[c]["n_rows"] != before.get(c, {"n_rows": 0})["n_rows"]]
    assert len(moved) == 1
    c = moved[0]
    assert after[c]["max_dist"] > before[c]["max_dist"]


def test_mutual_knn_kills_hub_keeps_true_pairs(spark):
    """Planted geometry (l2, k=1): h sits between a and b so it is BOTH
    their nearest neighbor (a hub), but h's own NN is b — so (a, h) must
    be filtered (one-directional) while (b, h) and the isolated tight
    pair (c, d) survive as mutual."""
    from vettore_spark.operators.ann import mutual_knn_pairs

    rows = [
        ("a", [0.0, 0.0]),
        ("b", [1.0, 0.0]),
        ("h", [0.6, 0.0]),
        ("c", [10.0, 0.0]),
        ("d", [10.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    pairs = {
        (r["src"], r["dst"])
        for r in mutual_knn_pairs(df, k=1, metric="l2").collect()
    }
    assert pairs == {("b", "h"), ("c", "d")}


def test_mutual_knn_accepts_precomputed_edges(spark):
    """The knn= path: a hand-built edge table short-circuits the exact
    graph build (the corpus-scale entry point for IVF/LSH-blocked
    graphs)."""
    from vettore_spark.operators.ann import mutual_knn_pairs

    edges = spark.createDataFrame(
        [
            ("x", "y", 0.9, 0.1, 1),
            ("y", "x", 0.9, 0.1, 1),
            ("x", "z", 0.5, 0.5, 2),
            ("z", "w", 0.4, 0.6, 1),
        ],
        "query_id string, vec_id string, score double, distance double, rank long",
    )
    pairs = {
        (r["src"], r["dst"])
        for r in mutual_knn_pairs(None, knn=edges).collect()
    }
    assert pairs == {("x", "y")}


def test_self_knn_exclude_self_k_edges_among_duplicates(spark):
    """With >= k+1 exact-duplicate vectors, the old k+1-then-drop-self
    shortcut lost an edge (self falls out of the top-(k+1) when duplicate
    ids tie-break ahead of it). exclude_self ranks over non-self edges,
    so EVERY node keeps exactly k out-edges."""
    from vettore_spark.operators.ann import self_knn_topk

    rows = [(i, [1.0, 0.0, 0.0]) for i in range(5)] + [
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = self_knn_topk(df, k=3, metric="cosine", exclude_self=True)
    counts = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {i: 3 for i in [0, 1, 2, 3, 4, 10, 11]}
    assert out.filter(F.col("query_id") == F.col("vec_id")).count() == 0
    # id 4 is the duplicate whose self-edge the shortcut lost: its 3
    # nearest non-self are duplicates 0,1,2 (id tie-break)
    n4 = sorted(
        r["vec_id"] for r in out.filter(F.col("query_id") == 4).collect()
    )
    assert n4 == [0, 1, 2]


def test_blocked_knn_matches_within_block_exact(spark, emb):
    """blocked_knn_topk == exact self-kNN computed independently per
    sign-prefix block (NumPy oracle), and every edge stays in-block."""
    from vettore_spark.operators.ann import blocked_knn_topk

    k, n_bits = 3, 4
    out = blocked_knn_topk(
        emb, k=k, metric="cosine", n_bits=n_bits,
        id_col="vec_id", vector_col="embedding",
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 9))
        for r in out.collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    blk = np.zeros(len(ids), dtype=int)
    for i in range(n_bits):
        blk += (m[:, i] >= 0).astype(int) << i
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    expected = {}
    for b in np.unique(blk):
        sel = np.where(blk == b)[0]
        sims = np.clip(mn[sel] @ mn[sel].T, -1.0, 1.0)
        for jj, j in enumerate(sel):
            d = 1.0 - sims[:, jj]
            order = np.lexsort((ids[sel], d))
            nonself = [x for x in order if ids[sel][x] != ids[j]][:k]
            for rnk, x in enumerate(nonself, start=1):
                expected[(ids[j], rnk)] = (
                    ids[sel][x], round(float(d[x]), 9)
                )
    assert got == expected


def test_blocked_knn_hot_block_fails_fast(spark):
    """A block past max_block_size must raise naming the knobs, not
    silently quadratically blow up."""
    from vettore_spark.operators.ann import blocked_knn_topk

    rows = [(i, [1.0, 1.0]) for i in range(20)]  # all in one block
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = blocked_knn_topk(df, k=2, n_bits=2, max_block_size=10)
    with pytest.raises(Exception, match="max_block_size"):
        out.collect()


def test_block_grid_pairs_groups_across_many_partitions(spark):
    """Regression: the grid's cogroup keys must be the SAME type on both
    sides. pmod(xxhash64) is bigint while explode(sequence) was int, and
    cogroup co-partitions each side with its own key types — murmur3 of
    int 1 != murmur3 of bigint 1 — so the two sides landed in different
    partitions and the cogroup silently produced ZERO rows whenever the
    input was big enough that AQE did not coalesce both sides into one
    partition. 4000 rows on 8 shuffle partitions reproduces the empty
    result pre-fix; the pin is exact edge count (k per node)."""
    from vettore_spark.operators.ann import self_knn_topk

    n, k = 4000, 3
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = self_knn_topk(df, k=k, metric="cosine", exclude_self=True)
    assert out.count() == n * k


def test_blocked_knn_multiband_matches_numpy_union(spark, emb):
    """n_bands > 1: per-band in-block top-k edges unioned, pairs deduped,
    re-ranked globally by (distance, id) — pinned against a NumPy oracle
    that replays the banded blocking exactly."""
    from vettore_spark.operators.ann import blocked_knn_topk

    k, n_bits, n_bands = 3, 3, 2
    out = blocked_knn_topk(
        emb, k=k, metric="cosine", n_bits=n_bits, n_bands=n_bands,
        id_col="vec_id", vector_col="embedding",
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 9))
        for r in out.collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.clip(mn @ mn.T, -1.0, 1.0)
    d = 1.0 - sims
    cand: dict[int, set[int]] = {int(i): set() for i in ids}
    for b in range(n_bands):
        blk = np.zeros(len(ids), dtype=int)
        for i in range(n_bits):
            blk += (m[:, b * n_bits + i] >= 0).astype(int) << i
        for bb in np.unique(blk):
            sel = np.where(blk == bb)[0]
            for jj, j in enumerate(sel):
                order = np.lexsort((ids[sel], d[sel, j]))
                nonself = [sel[x] for x in order if ids[sel[x]] != ids[j]][:k]
                cand[int(ids[j])].update(int(ids[x]) for x in nonself)
    expected = {}
    idx_of = {int(v): i for i, v in enumerate(ids)}
    for q, cs in cand.items():
        ordered = sorted(cs, key=lambda c: (d[idx_of[c], idx_of[q]], c))[:k]
        for rnk, c in enumerate(ordered, start=1):
            expected[(q, rnk)] = (c, round(float(d[idx_of[c], idx_of[q]]), 9))
    assert got == expected


def test_blocked_knn_block_col_matches_per_cell_exact(spark, emb):
    """block_col= path: in-block exact kNN per caller-provided cell —
    pinned against a NumPy per-label oracle, every edge in-cell."""
    from vettore_spark.operators.ann import blocked_knn_topk

    out = blocked_knn_topk(
        emb, k=2, metric="cosine", block_col="label",
        id_col="vec_id", vector_col="embedding",
    )
    got = {
        (r["query_id"], r["rank"]): r["vec_id"] for r in out.collect()
    }

    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labels = np.array([r["label"] for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    expected = {}
    for lab in np.unique(labels):
        sel = np.where(labels == lab)[0]
        sims = np.clip(mn[sel] @ mn[sel].T, -1.0, 1.0)
        for jj, j in enumerate(sel):
            d = 1.0 - sims[:, jj]
            order = np.lexsort((ids[sel], d))
            nonself = [x for x in order if ids[sel][x] != ids[j]][:2]
            for rnk, x in enumerate(nonself, start=1):
                expected[(ids[j], rnk)] = ids[sel][x]
    assert got == expected


def test_topk_per_query_exact_lexsort_parity_on_degenerate_ties():
    """_topk_per_query must reproduce np.lexsort((ids, rank[:, j]))[:kk]
    BIT-exactly on the inputs that stress its threshold selection: a
    constant matrix (every value ties — the memory-blowup case the hot-
    column trim bounds), tie-heavy small integers (the hamming regime),
    duplicated rows under exclusion, and the small-n argpartition branch."""
    import numpy as np

    from vettore_spark.operators.ann import _topk_per_query

    rng = np.random.default_rng(7)

    def oracle(rankmat, ids, kk, exclude=None):
        res = {}
        for j in range(rankmat.shape[1]):
            order = np.lexsort((ids, rankmat[:, j]))
            if exclude is not None:
                order = order[ids[order] != exclude[j]]
            res[j] = list(ids[order[:kk]])
        return res

    def check(rankmat, ids, kk, exclude=None):
        qc, rows, rk = _topk_per_query(rankmat, ids, kk, exclude_ids=exclude)
        got = {}
        for a, b in zip(qc, rows):
            got.setdefault(a, []).append(ids[b])
        want = oracle(rankmat, ids, kk, exclude)
        for j in want:
            assert got.get(j, []) == want[j], (j, got.get(j), want[j])

    n = 3000  # > 2048: exercises the sampled-threshold branch
    ids = np.array([f"x{i:04d}" for i in rng.permutation(n)], dtype=object)
    check(np.zeros((n, 64)), ids, 10)                       # constant
    check(np.zeros((n, 64)), ids, 10, exclude=ids[:64])     # + exclusion
    check(rng.integers(0, 3, size=(n, 64)).astype(np.int64), ids, 7)
    m = rng.standard_normal((n, 64))
    m[1000:1050] = m[0]  # duplicated rows -> exact float ties
    check(m, ids, 10, exclude=ids[:64])
    check(np.zeros((500, 40)), ids[:500], 5)                # small-n branch

    # NaN poisoning (unvalidated inputs): NaN candidates rank last — a
    # column with >= kk finite rows is unaffected, a mostly-NaN column
    # keeps its finite rows, an ALL-NaN column (incl. as the TRAILING
    # column of a chunk — the empty-group indexing edge) returns empty
    # instead of crashing. The lexsort oracle diverges only where NaN
    # rows would have PADDED a short result, so compare finite prefixes.
    mn = rng.standard_normal((n, 64))
    mn[rng.choice(n, 200, replace=False), 5] = np.nan   # scattered NaN rows
    mn[:, 63] = np.nan                                  # all-NaN last column
    mn[: n - 4, 40] = np.nan                            # 4 finite rows only
    qc, rows, rk = _topk_per_query(mn, ids, 10, exclude_ids=ids)
    got = {}
    for a, b in zip(qc, rows):
        got.setdefault(a, []).append(ids[b])
    assert 63 not in got  # all-NaN column: no candidates, no crash
    fin40 = np.nonzero(mn[:, 40] == mn[:, 40])[0]
    order40 = fin40[np.lexsort((ids[fin40], mn[fin40, 40]))]
    want40 = [i for i in ids[order40] if i != ids[40]][:10]
    assert got.get(40, []) == want40  # finite rows kept, NaNs dropped
    for j in (0, 17, 62):  # fully finite columns: exact lexsort parity
        order = np.lexsort((ids, mn[:, j]))
        order = order[ids[order] != ids[j]][:10]
        assert got.get(j, []) == list(ids[order]), j

    # entirely-NaN matrices (both branch sizes) return EMPTY, not a
    # concatenate crash; and the small-block (need >= n) path drops NaN
    # rows exactly like the threshold path — same row, same verdict,
    # regardless of block size
    for nn in (500, 3000):
        q0, r0, k0 = _topk_per_query(np.full((nn, 4), np.nan), ids[:nn], 10)
        assert len(q0) == 0
    small = np.array([[0.5], [np.nan], [0.2]])
    sids = np.array(["a", "b", "c"], dtype=object)
    qs_, rs_, ks_ = _topk_per_query(small, sids, 10)  # kk > n: small path
    assert list(sids[rs_]) == ["c", "a"]  # NaN row excluded, finite ranked
