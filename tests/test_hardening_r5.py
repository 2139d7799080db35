"""Round-5 hardening: resident-index survival across rejected batches,
CMS weight-type validation, KMV k-mismatch guard, banded ragged-dims
probe, and pagerank checkpoint release."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vettore_spark.collection import Collection
from vettore_spark.operators import sketch as S
from vettore_spark.operators.dedup import embedding_neardup_banded
from vettore_spark.operators.graph import pagerank
from tests.test_graph import STAR_EDGES, _py_pagerank
from tests.conftest import resident


def _vec(seed: int, dims: int = 8) -> list[float]:
    return [((seed * 31 + i * 7) % 13) - 6.0 or 1.0 for i in range(dims)]


@pytest.fixture()
def coll(spark):
    c = Collection.create(spark, "r5", 8, metric="cosine")
    c.put_many([{"id": str(i), "vector": _vec(i)} for i in range(40)])
    return c


def test_put_many_rejected_batch_keeps_resident_hnsw(coll):
    """A rejected batch leaves the collection unchanged, so the resident
    HNSW shard table must survive — not be dropped for a full rebuild on
    the next search."""
    coll.hnsw_search(_vec(1), limit=3).collect()  # build residency
    before = resident(coll, "hnsw")
    assert before
    # entries compare by identity
    with pytest.raises(ValueError, match="duplicate id"):
        coll.put_many([{"id": "5", "vector": _vec(99)}])  # clashes
    assert resident(coll, "hnsw") == before
    with pytest.raises(ValueError, match="invalid vector"):
        coll.put_many([{"id": "new", "vector": [1.0]}])  # wrong dims
    assert resident(coll, "hnsw") == before
    assert coll.count() == 40


def test_put_rejected_row_keeps_resident_indexes(coll):
    """A row put() rejects must leave every resident index as it was."""
    coll.hnsw_search(_vec(1), limit=3).collect()
    coll.ivf_search(_vec(1), limit=3, n_cells=4, n_probe=2).collect()
    before = {kind: resident(coll, kind) for kind in ("hnsw", "ivf")}
    assert all(before.values())
    with pytest.raises(ValueError, match="duplicate id"):
        coll.put({"id": "5", "vector": _vec(99)})
    for kind, entries in before.items():
        # entries compare by identity
        assert resident(coll, kind) == entries, kind
    assert coll.count() == 40


def test_cms_build_rejects_fractional_weight_column(spark):
    df = spark.createDataFrame(
        [("a", 1.5), ("b", 2.0)], ["k", "w"]
    )
    with pytest.raises(ValueError, match="integral"):
        S.cms_build(df, "k", weight_col="w", depth=2, width=16)


def test_cms_build_null_weight_counts_zero(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", None), ("b", 2)], "k string, w long"
    )
    cms = S.cms_build(df, "k", weight_col="w", depth=2, width=16)
    total = cms.filter(F.col("d") == 0).agg(F.sum("cnt")).first()[0]
    assert total == 5  # NULL row contributes 0, not dropped-and-undefined


def test_kmv_estimate_rejects_smaller_k_than_build(spark):
    df = spark.createDataFrame([(str(i),) for i in range(100)], ["k"])
    sk = S.kmv_sketch(df, "k", k=16)
    est = S.kmv_estimate(sk, k=16).first()[0]
    assert est > 0
    with pytest.raises(Exception, match="kmv_estimate"):
        S.kmv_estimate(sk, k=8).collect()


def test_banded_neardup_ragged_vectors_fail_fast(spark):
    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 8)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="shortest vector"):
        embedding_neardup_banded(df, n_bits=8, n_bands=4)


def test_pagerank_multi_cut_matches_reference_and_releases(spark):
    """cut_every=1 forces a durable cut (and a release of the previous
    one) every iteration: results must still match the exact fixed-point
    reference, and the released cuts must not break later reads."""
    df = spark.createDataFrame(STAR_EDGES, ["src", "dst", "w"])
    out = pagerank(df, weight_col="w", iters=5, cut_every=1)
    got = {r["node"]: r["rank_scaled"] for r in out.collect()}
    assert got == _py_pagerank(STAR_EDGES, iters=5)
    # re-collect: the surviving final cut must still be readable
    assert {r["node"]: r["rank_scaled"] for r in out.collect()} == got


def test_parquet_canonical_store_lifecycle(spark, tmp_path):
    """attach_store: 12 put_many batches keep the plan a single parquet
    scan (bounded size), deletes cannot be resurrected by a re-read,
    compact_store folds the overlay into storage, and a snapshot/load
    round-trip preserves the rows. (r14 suite-cost trim: 50 -> 12
    batches — the plan-growth bound is measured batch 4 vs batch 12,
    still an order of magnitude past any constant-overlay slack, and
    every lifecycle assertion is unchanged; was 68 s.)"""
    c = Collection.create(spark, "stored", 8, metric="l2")
    c.attach_store(str(tmp_path / "canon"))

    def plan_len(cc):
        return len(cc._df._jdf.queryExecution().analyzed().toString())

    for b in range(12):
        c.put_many(
            [
                {"id": f"r{b:02d}_{i}", "vector": _vec(b * 10 + i)}
                for i in range(4)
            ]
        )
        if b == 4:
            early = plan_len(c)
    late = plan_len(c)
    assert c.count() == 48
    # one parquet scan regardless of batch count: the plan may carry the
    # (constant-size) overlay filter but must not grow with batches
    assert late <= early + 200, (early, late)

    # delete + re-ingest: the overlay must survive the store re-read
    c.delete("r00_0")
    assert c.get("r00_0") is None
    c.put_many([{"id": "fresh", "vector": _vec(999)}])
    assert c.get("r00_0") is None, "delete resurrected by store re-read"
    assert c.count() == 48  # 48 - 1 + 1

    c.compact_store()
    assert c._store_deleted == []
    assert c.count() == 48
    assert c.get("r00_0") is None

    # snapshot / load round-trip unchanged
    snap = str(tmp_path / "snap")
    c.snapshot(snap)
    c2 = Collection.load_snapshot(spark, snap)
    assert c2.count() == 48
    assert c2.get("fresh") is not None

    # a second collection adopting the same store sees the same rows
    c3 = Collection.create(spark, "stored2", 8, metric="l2")
    c3.attach_store(str(tmp_path / "canon"))
    assert c3.count() == 48


def test_table_profile_sketch_relative_error(spark):
    """The KMV profile estimate must sit within the bottom-k estimator's
    error band of the exact distinct count: exact when the sketch is
    unsaturated (n < k), and within ~4 sigma (4/sqrt(k-2) ~ 25% at
    k=256) when saturated."""
    from vettore_spark.queries import queries

    rows = queries()["table_profile_sketch"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 7
    for r in rows:
        exact, est = r["n_distinct"], r["est_distinct"]
        if exact < 256:
            assert est == float(exact), r["column"]
        else:
            assert abs(est - exact) / exact < 0.25, (r["column"], exact, est)


def test_jl_prefilter_graded_neighborhood_recall(spark):
    """Round-5 closure of the jl_prefilter overlap question: planted
    GRADED neighborhoods (cosine 0.95 / 0.9 / 0.8 around the query, not
    just ~1 duplicates) must be fully recovered by the two-stage JL
    search at the production config (d_out=16, candidates=10x k) over a
    5000-vector background — evidence that the 0.6 overlap on the
    synthetic corpus is its near-tie floor (no structure to recover),
    not a candidate-stage defect. Runs the REAL Spark pipeline
    (jl_project + exact rerank), not just NumPy."""
    import numpy as np
    from pyspark.sql import functions as F

    from vettore_spark.encodings.projections import jl_project

    rng = np.random.default_rng(7)
    d = 64
    bg = rng.normal(size=(2000, d))
    bg /= np.linalg.norm(bg, axis=1, keepdims=True)
    q = rng.normal(size=d)
    q /= np.linalg.norm(q)
    planted, labels = [], []
    for g in (0.95, 0.9, 0.8):
        for _ in range(5):
            r = rng.normal(size=d)
            r -= (r @ q) * q
            r /= np.linalg.norm(r)
            planted.append(g * q + np.sqrt(1 - g * g) * r)
            labels.append(g)
    mat = np.vstack([bg, np.array(planted)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(mat)],
        "vec_id: long, embedding: array<double>",
    )
    proj = jl_project(df, d_in=d, d_out=16)
    qp_mat = jl_project(
        spark.createDataFrame([(0, [float(x) for x in q])],
                              "vec_id: long, embedding: array<double>"),
        d_in=d, d_out=16,
    ).first()["projected"]
    qp = F.array(*[F.lit(float(x)) for x in qp_mat])
    cdist = F.aggregate(
        F.zip_with(F.col("projected"), qp, lambda p, c: (p - c) * (p - c)),
        F.lit(0.0), lambda a, x: a + x,
    )
    cand = {
        r["vec_id"]
        for r in proj.select("vec_id", cdist.alias("_cd"))
        .orderBy("_cd", "vec_id").limit(150).collect()
    }
    n_bg = len(bg)
    for g in (0.95, 0.9, 0.8):
        want = {n_bg + i for i, lbl in enumerate(labels) if lbl == g}
        got = want & cand
        assert len(got) == len(want), (g, want - cand)


def test_bloom_filter_superset_and_exact_membership(spark):
    """Bloom contract: NO false negatives ever (every inserted key
    passes), false positives bounded; Spark word array matches a pure
    Python reconstruction of the same md5 arithmetic."""
    import hashlib

    from vettore_spark.plans import bloom as B

    keys = [f"key-{i}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    m_bits, k_hashes = 1 << 12, 3
    words = B.bloom_words(
        B.bloom_build(df, "k", m_bits=m_bits, k_hashes=k_hashes),
        m_bits=m_bits,
    )
    assert len(words) == m_bits // 64

    def py_pos(key, i):
        # Kirsch-Mitzenmacher double hashing from one md5 draw — the
        # same rule as plans.bloom._positions
        h = int(hashlib.md5(f"bloom:{key}".encode()).hexdigest()[:15], 16)
        h1, h2 = h % (1 << 30), (h >> 30) | 1
        return (h1 + i * h2) % m_bits

    want = [0] * (m_bits // 64)
    for k in keys:
        for i in range(k_hashes):
            p = py_pos(k, i)
            want[p // 64] |= 1 << (p % 64)
    # two's complement view: Spark longs are signed
    want = [w - (1 << 64) if w >= (1 << 63) else w for w in want]
    assert words == want

    probe = spark.createDataFrame(
        [(k,) for k in keys] + [(f"other-{i}",) for i in range(2000)], ["k"]
    )
    got = {
        r["k"]
        for r in probe.filter(
            B.bloom_might_contain("k", words, k_hashes=k_hashes)
        ).collect()
    }
    assert set(keys) <= got, "false negative: inserted key rejected"
    fp = len(got) - len(keys)
    # (1 - e^(-3*500/4096))^3 ~ 2.9%; allow 3x slack on 2000 probes
    assert fp / 2000 < 0.09, fp
