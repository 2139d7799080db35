"""Second-moment / PCA tests: covariance entries against the NumPy oracle,
deterministic components, map-only projection plan, and the two-stage PCA
prefilter beating (or matching) the oblivious JL prefilter at equal width
on structured data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vettore_spark.encodings import moments as M


DIM = 16


@pytest.fixture(scope="module")
def structured(spark):
    """Low-rank corpus: variance lives in 4 latent directions + small
    isotropic noise — the case where a data-dependent basis must win."""
    rng = np.random.default_rng(11)
    basis = np.linalg.qr(rng.standard_normal((DIM, 4)))[0]  # 16x4 orthonormal
    z = rng.standard_normal((500, 4)) * np.array([6.0, 4.0, 2.5, 1.5])
    x = z @ basis.T + rng.standard_normal((500, DIM)) * 0.05
    rows = [(i, x[i].tolist()) for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    return df, x


def test_covariance_entries_match_numpy(spark, structured):
    df, x = structured
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in M.covariance_entries(df, dim=DIM).collect()
    }
    want = np.cov(x, rowvar=False, bias=True)  # population covariance
    assert len(got) == DIM * (DIM + 1) // 2
    for (i, j), v in got.items():
        assert i <= j
        assert v == pytest.approx(want[i, j], abs=1e-9)


def test_pca_components_deterministic_and_orthonormal(spark, structured):
    df, x = structured
    cov = M.covariance_entries(df, dim=DIM)
    c1, ev1 = M.pca_components(cov, dim=DIM, k=4)
    c2, ev2 = M.pca_components(
        M.covariance_entries(df, dim=DIM), dim=DIM, k=4
    )
    assert c1 == c2 and ev1 == ev2  # bit-identical across builds
    m = np.array(c1)
    assert np.allclose(m @ m.T, np.eye(4), atol=1e-9)
    assert ev1 == sorted(ev1, reverse=True)
    # sign convention: every component's largest-|coord| is positive
    for row in m:
        assert row[int(np.argmax(np.abs(row)))] > 0
    # the 4 latent directions carry ~all variance
    assert sum(ev1) / np.trace(np.cov(x, rowvar=False, bias=True)) > 0.99


def test_pca_project_is_map_only_and_matches_numpy(spark, structured):
    df, x = structured
    comps, _ = M.pca_components(
        M.covariance_entries(df, dim=DIM), dim=DIM, k=4
    )
    proj = M.pca_project(df, comps)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure codegen expressions, no UDF
    got = {r["vec_id"]: np.array(r["projected"]) for r in proj.collect()}
    w = np.array(comps)
    for i in (0, 17, 499):
        assert np.allclose(got[i], w @ x[i], atol=1e-9)


def _recall_at10(x, y, n_queries=20):
    """Mean overlap@10 of nearest-by-|y|-space vs nearest-by-|x|-space
    (euclidean), excluding self."""
    overlaps = []
    for q in range(n_queries):
        dx = np.linalg.norm(x - x[q], axis=1)
        dy = np.linalg.norm(y - y[q], axis=1)
        ex = set(np.argsort(dx)[1:11])
        ap = set(np.argsort(dy)[1:11])
        overlaps.append(len(ex & ap) / 10)
    return sum(overlaps) / len(overlaps)


def test_fit_components_local_matches_distributed(spark, structured, tmp_path):
    """The driver-side literal-parity fit (fit_components_local — what the
    gated pca_prefilter_topk embeds in both engines) computes the SAME
    model as the distributed moments path, up to float reduction-order
    noise far below the 6dp literal rounding."""
    df, x = structured
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    local = np.array(
        M.fit_components_local(p, dim=DIM, k=4, round_digits=12)
    )
    dist, _ = M.pca_components(
        M.covariance_entries(spark.read.parquet(p), dim=DIM), dim=DIM, k=4
    )
    assert np.allclose(local, np.array(dist), atol=1e-6)


def test_pca_prefilter_recall_at_least_jl(spark, structured):
    """At equal output width 4, ranking in PCA space must recover exact
    neighbors at least as well as the oblivious JL projection — the reason
    to fit the basis on structured corpora."""
    from vettore_spark.encodings.projections import jl_project

    df, x = structured
    comps, _ = M.pca_components(
        M.covariance_entries(df, dim=DIM), dim=DIM, k=4
    )
    pca = {
        r["vec_id"]: r["projected"]
        for r in M.pca_project(df, comps).collect()
    }
    jl = {
        r["vec_id"]: r["projected"]
        for r in jl_project(df, d_in=DIM, d_out=4).collect()
    }
    y_pca = np.array([pca[i] for i in range(500)])
    y_jl = np.array([jl[i] for i in range(500)])
    r_pca = _recall_at10(x, y_pca)
    r_jl = _recall_at10(x, y_jl)
    assert r_pca >= r_jl
    assert r_pca >= 0.9  # near-exact: noise floor is tiny vs latent variance


def test_streaming_moment_stats_matches_batch_fixed(spark, tmp_path):
    """Streaming moments (fixed-point integer sums in state) consumed with
    availableNow equals the BATCH moment_stats_fixed over the same rows —
    same quantization, same integer sums, same left-fold emission formula,
    bit-for-bit on the output doubles. Two input files force multi-batch
    state carry-over."""
    from vettore_spark.streaming.stateful import streaming_moment_stats

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "label", "embedding"
    )
    src = tmp_path / "mom_src"
    h1, h2 = emb.randomSplit([0.5, 0.5], seed=3)
    h1.coalesce(1).write.parquet(str(src / "b1"))
    h2.coalesce(1).write.parquet(str(src / "b2"))
    stream = spark.readStream.schema(
        "label int, embedding array<float>"
    ).parquet(str(src) + "/*")
    q = (
        streaming_moment_stats(stream, dim=64, group_col="label",
                               vector_col="embedding")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mom_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.sql("select * from mom_stream").collect():
        final[r["label"]] = (r["n"], r["mean_norm"], r["var_trace"])

    batch = M.moment_stats_fixed(
        emb, group_col="label", vector_col="embedding", dim=64
    ).collect()
    want = {r["label"]: (r["n"], r["mean_norm"], r["var_trace"]) for r in batch}
    assert final == want


def test_zca_whitens_planted_correlations(spark, tmp_path):
    """ZCA property test on a planted correlated Gaussian: whitened
    covariance must be ~identity (off-diagonals crushed, variances ~1 up
    to the eps shrinkage lam/(lam+eps)), and the transform must be
    sign-stable (W = U f(L) U^T is invariant to eigenvector signs)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vettore_spark.encodings.moments import zca_matrix_local

    rng = np.random.default_rng(11)
    d, n = 6, 4000
    a = rng.normal(size=(d, d))
    cov = a @ a.T / d + np.eye(d) * 0.1
    x = rng.multivariate_normal(np.ones(d) * 3.0, cov, size=n)
    path = str(tmp_path / "emb.parquet")
    pq.write_table(
        pa.table({"embedding": [row.tolist() for row in x]}), path
    )

    w, off = zca_matrix_local(path, dim=d, eps=1e-3)
    wm = np.array(w)
    y = x @ wm.T - np.array(off)
    cy = np.cov(y, rowvar=False, bias=True)
    assert np.abs(np.diag(cy) - 1.0).max() < 0.05
    off_diag = cy - np.diag(np.diag(cy))
    assert np.abs(off_diag).max() < 0.05
    assert np.abs(y.mean(axis=0)).max() < 1e-4


def test_streaming_moment_stats_drops_non_finite_rows_like_batch(spark, tmp_path):
    """NaN stance shared by both moment twins: a row whose vector is NULL,
    or holds a NaN or NULL element, is not counted. A two-file stream
    with such rows ends on the batch twin's row, which equals a NumPy
    fixed-point reference over the finite rows only."""
    import math

    from vettore_spark.streaming.stateful import streaming_moment_stats

    schema = "label int, embedding array<double>"
    f1 = [(1, [0.5, 0.25]), (1, [float("nan"), 1.0])]
    f2 = [(1, [0.75, -0.5]), (1, None), (1, [0.125, None])]
    src = tmp_path / "mom_nan"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        streaming_moment_stats(stream, dim=2)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mom_nan_stream")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from mom_nan_stream").collect()
    assert len(rows) == 2  # one running row per micro-batch
    final = max(rows, key=lambda r: r["n"])
    got = (final["n"], final["mean_norm"], final["var_trace"])

    (b,) = M.moment_stats_fixed(
        spark.createDataFrame(f1 + f2, schema), dim=2
    ).collect()
    assert got == (b["n"], b["mean_norm"], b["var_trace"])

    x = np.array([[0.5, 0.25], [0.75, -0.5]])
    s = float(1 << 24)
    sfx = np.floor(x * s + 0.5).astype(np.int64).sum(axis=0)
    qfx = np.floor(x * x * s + 0.5).astype(np.int64).sum(axis=0)
    acc_m = acc_v = 0.0
    for i in range(2):
        m_i = float(sfx[i]) / 2.0 / s
        acc_m = acc_m + m_i * m_i
        acc_v = acc_v + (float(qfx[i]) / 2.0 / s - m_i * m_i)
    assert got == (2, math.sqrt(acc_m), acc_v)
