"""Second-moment statistics and PCA projection for embedding columns.

The data-dependent complement to the JL projection (projections.py): JL
preserves distances obliviously; PCA spends the same d_out dimensions on
the directions THIS corpus actually varies in, so a PCA prefilter at equal
width ranks candidates strictly better whenever the corpus has structure
(and collapses to JL-grade behavior when it does not).

Scale design — the n×d corpus never feeds a shuffle wider than d²:

- `gram_partials` runs ONE Arrow pass (mapInPandas): each partition folds
  its batches into (count, Σx, XᵀX) — d + d² doubles per partition, the
  classic map-side-combined moment sketch. Partials are exact sums, so
  they merge by addition in any order/grouping (the property every
  sketch here relies on — KMV, CMS, histogram, and now moments).
- `covariance_entries` reduces the ≤ num_partitions partial rows to the
  d(d+1)/2 upper-triangle covariance entries fully IN-PLAN (posexplode of
  the d²-wide arrays → groupBy index — thousands of rows, never corpus
  rows; no driver collect on the data path).
- `pca_components` collects only the d² covariance entries (bounded by
  construction, like the IVF codebook), runs `numpy.linalg.eigh`
  driver-side, and fixes the eigenvector sign deterministically (the
  coordinate of largest |value| — first index on ties — is made
  positive), so repeated builds and every executor see the same basis.
- `pca_project` embeds the k×d component matrix as plan literals — the
  same codegen-fused fused-multiply-add shape as projections.project
  (map-only, no shuffle, no Python on the projection path).

The two-stage search pattern (`pca_prefilter_topk` shape) is pinned in
tests/test_moments.py: projected-space top-C via TakeOrderedAndProject →
exact rerank, and at equal d_out its planted-neighborhood recall must be
at least the JL prefilter's.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gram_partials(
    df: DataFrame,
    *,
    vector_col: str = "embedding",
    dim: int,
) -> DataFrame:
    """One row per input partition: (n long, s array<double> — Σx,
    g array<double> — row-major XᵀX). Exact partial sums; additive."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
            )
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
            )

    return df.select(vector_col).mapInPandas(
        fold, "n long, s array<double>, g array<double>"
    )


def covariance_entries(
    df: DataFrame,
    *,
    vector_col: str = "embedding",
    dim: int,
) -> DataFrame:
    """(i, j, cov) population-covariance entries for the upper triangle
    (i <= j, 0-based): cov_ij = G_ij/n − (S_i/n)(S_j/n). The reduce side
    only ever sees d²-wide rows (partials), then d² (index, value) rows
    through one small shuffle — corpus size never appears after the map
    stage."""
    parts = gram_partials(df, vector_col=vector_col, dim=dim)
    totals = parts.groupBy().agg(
        F.sum("n").alias("n"),
        *[
            F.sum(F.col("s")[i]).alias(f"_s{i}")
            for i in range(dim)
        ],
    )
    gsum = (
        parts.select(F.posexplode("g").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("gv"))
        .filter((F.col("idx") % dim) >= (F.col("idx") / dim).cast("int"))
    )
    means = totals.select(
        "n",
        F.array(*[F.col(f"_s{i}") / F.col("n") for i in range(dim)]).alias(
            "_m"
        ),
    )
    return (
        gsum.crossJoin(F.broadcast(means))
        .select(
            (F.col("idx") / dim).cast("int").cast("long").alias("i"),
            (F.col("idx") % dim).cast("long").alias("j"),
            (
                F.col("gv") / F.col("n")
                - F.element_at("_m", (F.col("idx") / dim).cast("int") + 1)
                * F.element_at("_m", (F.col("idx") % dim).cast("int") + 1)
            ).alias("cov"),
        )
    )


def _eigh_topk(
    c: np.ndarray, k: int
) -> tuple[list[list[float]], list[float]]:
    """Shared eigendecomposition tail of every fit path: top-k eigenpairs
    of the symmetric matrix `c`, eigenvalue-descending, sign-fixed so the
    largest-|coordinate| (first index on ties) of each component is
    positive — repeated builds and every engine see the same basis."""
    w, v = np.linalg.eigh(c)  # ascending eigenvalues, orthonormal columns
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        e = v[:, idx]
        pivot = int(np.argmax(np.abs(e)))
        if e[pivot] < 0:
            e = -e
        comps.append([float(x) for x in e])
    return comps, [float(w[i]) for i in order]


def pca_components(
    cov_entries: DataFrame, *, dim: int, k: int
) -> tuple[list[list[float]], list[float]]:
    """Top-k principal axes from the covariance-entry table (collects only
    the bounded d² entries — the codebook-residency pattern). Returns
    (components k×d, explained_variance k), eigenvalue-descending, with
    the deterministic sign convention: the largest-|coordinate| (first
    index on ties) of every component is positive."""
    c = np.zeros((dim, dim), dtype=np.float64)
    for r in cov_entries.collect():
        c[int(r["i"]), int(r["j"])] = float(r["cov"])
        c[int(r["j"]), int(r["i"])] = float(r["cov"])
    return _eigh_topk(c, k)


def fit_components_local(
    parquet_path: str,
    *,
    vector_col: str = "embedding",
    dim: int,
    k: int,
    round_digits: int = 6,
) -> list[list[float]]:
    """Deterministic driver-side PCA fit straight from a parquet file —
    the literal-parity twin of the distributed fit. A two-engine gate
    (Spark plan vs SQL oracle) needs BOTH sides to embed bit-identical
    component literals; eigenvectors of two covariance matrices that
    differ by float reduction order can disagree in late digits, so the
    gated prefilter query fits ONCE here (one defined summation order)
    and embeds the rounded k×d matrix in both plans. The distributed
    moments path (gram_partials → covariance_entries → pca_components)
    computes the same model up to reduction-order noise — pinned in
    tests/test_moments.py — and is what a 100 TB fit would run; the
    projection/search plan downstream is identical either way (a k×d
    literal matrix, however fitted)."""
    import pyarrow.parquet as pq

    tab = pq.read_table(parquet_path, columns=[vector_col])
    x = np.array(
        [np.asarray(v, dtype=np.float64) for v in tab[vector_col].to_pylist()]
    )
    if x.shape[1] != dim:
        raise ValueError(f"expected dim {dim}, parquet has {x.shape[1]}")
    n = x.shape[0]
    m = x.sum(axis=0) / n
    c = x.T @ x / n - np.outer(m, m)
    comps, _ = _eigh_topk(c, k)
    return [[round(v, round_digits) for v in row] for row in comps]


def moment_stats_fixed(
    df: DataFrame,
    *,
    group_col: str = "label",
    vector_col: str = "embedding",
    dim: int,
    scale_bits: int = 24,
) -> DataFrame:
    """Per-group (n, mean_norm, var_trace) from FIXED-POINT moment sums —
    the batch twin of streaming.stateful.streaming_moment_stats, and the
    trick that makes their parity exact: every element is quantized once
    (floor(x·2^b + 0.5), identical IEEE ops on both sides) and the sums
    are then INTEGER sums — order-free, so a distributed shuffle, a
    micro-batch fold, and a single-thread loop all produce the same longs
    bit-for-bit (the fixed-point PageRank convention, graph.py). The
    final float formula is one defined left-fold over ascending dims,
    mirrored verbatim in the streaming emitter. Quantization error is
    2^-b per element — noise for a drift monitor. Shuffle carries only
    n_groups×d partial longs, never vectors.

    NaN stance (NANPOLICY.md), shared with the streaming twin: a row whose
    vector is NULL or holds a non-finite (or NULL) element is not counted
    (floor(NaN) would otherwise add 0 to the sums and 1 to n)."""
    s = float(1 << scale_bits)
    v = F.col(vector_col).cast("array<double>")
    finite = F.forall(
        v, lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != float("inf"))
    )
    u = df.where(v.isNotNull() & finite).select(
        F.col(group_col),
        F.posexplode(v).alias("i", "x"),
    )
    fx = F.floor(F.col("x") * F.lit(s) + F.lit(0.5))
    per_dim = u.groupBy(group_col, "i").agg(
        F.count("x").alias("c"),
        F.sum(fx).alias("sfx"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * F.lit(s) + F.lit(0.5))
        ).alias("qfx"),
    )
    # one defined fold order: ascending dim index, left fold — the
    # streaming emitter loops the same way
    m_i = (
        lambda e: e["sfx"].cast("double") / F.col("n").cast("double") / F.lit(s)
    )
    q_i = (
        lambda e: e["qfx"].cast("double") / F.col("n").cast("double") / F.lit(s)
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.max("c").alias("n"),
            F.array_sort(
                F.collect_list(F.struct("i", "sfx", "qfx"))
            ).alias("_ps"),
        )
        .select(
            group_col,
            "n",
            F.sqrt(
                F.aggregate(
                    "_ps",
                    F.lit(0.0),
                    lambda acc, e: acc + m_i(e) * m_i(e),
                )
            ).alias("mean_norm"),
            F.aggregate(
                "_ps",
                F.lit(0.0),
                lambda acc, e: acc + (q_i(e) - m_i(e) * m_i(e)),
            ).alias("var_trace"),
        )
    )


def project_literal(vector_col: str | Column, mat: list[list[float]]) -> Column:
    """`array<double>` of len(mat) components: one zip_with/aggregate dot
    product per output dim against a literal row — identical plan shape to
    projections.project_column, without the JL 1/sqrt scaling (PCA rows
    are already unit-norm)."""
    v = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    comps = []
    for row in mat:
        lrow = F.array(*[F.lit(float(x)) for x in row])
        comps.append(
            F.aggregate(
                F.zip_with(v, lrow, lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*comps)


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """(id, projected array<double>) — map-only literal-matrix projection
    onto the fitted principal axes."""
    return df.select(
        F.col(id_col), project_literal(vector_col, components).alias("projected")
    )


def zca_matrix_local(
    parquet_path: str,
    *,
    vector_col: str = "embedding",
    dim: int,
    rows: int | None = None,
    eps: float = 1e-3,
    round_digits: int = 6,
) -> tuple[list[list[float]], list[float]]:
    """Deterministic driver-side ZCA whitening fit: W = U (Λ+eps)^(-1/2) Uᵀ
    over the covariance of the parquet corpus (same defined summation
    order as fit_components_local), returned as (rounded W rows, rounded
    offsets W·m) so the whitening transform y = W·x − W·m is a literal
    map-only expression both engines evaluate identically. Unlike the PCA
    components, W is SIGN-INVARIANT (U's column signs cancel in U f(Λ) Uᵀ),
    so no eigenvector sign convention is needed. `rows` truncates to the
    first rows of W (a whitening PROJECTION) to keep gate oracles bounded;
    the distributed twin at 100 TB fits from gram_partials exactly like
    the PCA path."""
    import pyarrow.parquet as pq

    tab = pq.read_table(parquet_path, columns=[vector_col])
    x = np.array(
        [np.asarray(v, dtype=np.float64) for v in tab[vector_col].to_pylist()]
    )
    if x.shape[1] != dim:
        raise ValueError(f"expected dim {dim}, parquet has {x.shape[1]}")
    n = x.shape[0]
    m = x.sum(axis=0) / n
    c = x.T @ x / n - np.outer(m, m)
    lam, u = np.linalg.eigh(c)
    w = (u * (1.0 / np.sqrt(lam + eps))) @ u.T
    if rows is not None:
        w = w[:rows]
    wr = [[round(float(v), round_digits) for v in row] for row in w]
    mr = [round(float(v), round_digits) for v in m]
    # offsets from the ROUNDED literals (exact Python arithmetic), so both
    # engines subtract the identical constant
    off = [
        round(sum(wv * mv for wv, mv in zip(row, mr)), round_digits)
        for row in wr
    ]
    return wr, off
