"""Product quantization (PQ) — compressed-domain approximate search.

The scale complement to the reference's sign-bit binary quantization
(`compress_sign_bits`, distances.rs:413-423): where binary quantization
keeps 1 bit/dimension, PQ splits the vector into `m` subspaces and stores
one learned code (byte) per subspace — 64x smaller than f32 at m=8 over
64 dims — and searches the compressed domain with asymmetric distance
computation (ADC, Jégou et al., TPAMI'11).

Spark shape (100 TB):
- Codebooks are tiny (m * n_codes * dsub floats) — driver-trained on a
  deterministic sample, broadcast everywhere; never a shuffle.
- Encoding is one Arrow-batched pass over the collection (a GEMM per
  subspace against the broadcast codebook); the code table is the
  persisted index (plans/cache.py residency model) at ~m bytes/row.
- ADC scoring never touches full vectors: per query a [m x n_codes] LUT
  of squared sub-distances, and each row's distance is m table lookups.
  A query batch builds its LUTs inside each Arrow task, and a local
  per-partition top-k bounds the shuffle at O(queries x k x partitions);
  a single query ships its LUT as a literal and runs as one JVM top-k.
- Exact rerank of the top candidates: `pq_search` re-joins the full
  vectors by id (broadcast hash join on the small candidate set), the
  same two-stage shape as `quantized_search` (reference
  collection.ex:263-295). A Collection's resident code table carries each
  row's columns beside its codes instead, so one query's candidates bring
  their vectors into the rerank within one scan (`adc_key_sql`,
  search.two_stage_sql).

Training is deterministic: fixed seed, ties to the lowest code index, so
rebuilds on any cluster produce byte-identical code tables (the
reference's reproducible-index principle, SURVEY P9).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions import kernels as K
from vettore_spark.operators import search as S
from vettore_spark.operators.ann import _matrix


def _collect_queries(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    max_broadcast_queries: int,
) -> list:
    """Capped query-side collect (the brute_force_topk fail-fast pattern,
    ann.py — limit applied BEFORE the collect bounds driver memory): a
    collection-sized query DataFrame must fail fast pointing at the
    blocked no-collect path, never silently OOM the driver."""
    qrows = (
        queries.select(query_id_col, query_vec_col)
        .limit(max_broadcast_queries + 1)
        .collect()
    )
    if len(qrows) > max_broadcast_queries:
        raise ValueError(
            f"query set exceeds max_broadcast_queries={max_broadcast_queries} "
            "for the broadcast ADC LUT; a driver collect at this size is the "
            "scale failure mode — batch the query set, or use self_knn_topk /"
            " cosine_neardup_blocked (block-grid, no collect) for "
            "collection-vs-collection workloads"
        )
    return qrows


def _sq_dists(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """All-pairs squared L2 between rows of x and rows of cent via the
    expansion ||x||^2 - 2x·c + ||c||^2 (one GEMM, no materialized diffs)."""
    return (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * (x @ cent.T)
        + (cent * cent).sum(axis=1)
    )


def _margin_prune(d: np.ndarray, kk: int, margin: float) -> np.ndarray:
    """Indices of every row whose raw distance is within `margin` of the
    kk-th smallest — a SUPERSET of any top-kk ranking that rounds the key
    to the digit `margin` covers, regardless of the engine's rounding
    rule (NumPy half-to-even vs Spark decimal HALF_UP can only reorder
    keys closer than one rounded unit). O(n) via partition instead of a
    full sort; the global `search.rank_per_query` merge applies the
    authoritative rounded order + id tie-break to the union of these
    supersets."""
    if len(d) <= kk:
        return np.arange(len(d))
    kth = np.partition(d, kk - 1)[kk - 1]
    return np.flatnonzero(d <= kth + margin)


def _adc_key(round_digits: int | None, distance: str = "distance") -> str:
    """ADC rank key (SQL text): the `distance`, rounded to `round_digits`
    when given."""
    return distance if round_digits is None else f"round({distance}, {round_digits})"


def pq_train_kmeans(
    sample: np.ndarray,
    *,
    m: int,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 20260813,
) -> np.ndarray:
    """Train PQ codebooks with deterministic Lloyd k-means per subspace.

    `sample` is an (n, dims) f64 matrix (a driver-collected deterministic
    sample of the collection — codebooks need thousands of rows, not the
    corpus). Returns codebooks of shape (m, n_codes, dims//m).

    Determinism: seeded init (distinct row picks), argmin ties to the
    lowest code, empty clusters re-seeded from the farthest points in a
    fixed order — identical output for identical input on any host.
    """
    n, dims = sample.shape
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    if n < n_codes:
        raise ValueError(f"sample of {n} rows < n_codes {n_codes}")
    dsub = dims // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for s in range(m):
        x = np.ascontiguousarray(sample[:, s * dsub : (s + 1) * dsub])
        cent = x[rng.choice(n, size=n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = _sq_dists(x, cent)
            assign = np.argmin(d2, axis=1)
            # deterministic empty-cluster re-seed: hand out DISTINCT points
            # in descending distance-to-their-centroid order (one per empty
            # cluster — reseeding them all from the single argmax would
            # leave permanently duplicated dead codes)
            far_order = np.argsort(-d2[np.arange(n), assign], kind="stable")
            next_far = 0
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    cent[c] = x[mask].mean(axis=0)
                else:
                    cent[c] = x[far_order[next_far]]
                    next_far += 1
        books[s] = cent
    return books


def _encode_batch(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(rows, dims) -> (rows, m) int32 code matrix; ties to lowest code."""
    m, n_codes, dsub = books.shape
    out = np.empty((mat.shape[0], m), dtype=np.int32)
    for s in range(m):
        x = mat[:, s * dsub : (s + 1) * dsub]
        cent = books[s]
        d2 = _sq_dists(x, cent)
        out[:, s] = np.argmin(d2, axis=1)
    return out


def pq_encode(
    coll: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cols: list[str] | None = None,
) -> DataFrame:
    """Encode every row to its (id, codes array<int>) PQ representation —
    the persisted compressed index. One Arrow pass, no shuffle. `cols`
    lists the columns of `coll` kept before `codes` (default: the id).

    The codebooks ride the task closure (m*n_codes*dsub floats, ~131 KB
    at the defaults) rather than an explicit SparkContext broadcast: a
    per-call broadcast is never destroyed — the returned DataFrame is
    lazy, so there is no safe point to destroy it — and accumulates dead
    blocks on driver and executors for the application lifetime (the
    hnsw.py:449 lesson)."""

    @F.pandas_udf("array<int>")
    def codes_of(vs: pd.Series) -> pd.Series:
        mat = _matrix(vs)
        codes = _encode_batch(mat, codebooks)
        return pd.Series(list(codes))

    return coll.select(*(cols or [id_col]), codes_of(F.col(vector_col)).alias("codes"))


def _adc_luts(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup tables, lut[j, s, c] = ||q_j_sub_s - books[s, c]||^2.

    Built per (query-chunk, subspace) so the transient diff tensor is
    chunk x n_codes x dsub (~67 MB at the 4096 chunk) instead of the
    nq x m x n_codes x dsub monolith (~8.6 GB at the broadcast cap — an
    executor OOM, not a scale path). Identical elementwise arithmetic and
    summation axis, so the LUT is bit-equal."""
    m, n_codes, dsub = codebooks.shape
    nq = len(qmat)
    lut = np.empty((nq, m, n_codes), dtype=np.float64)
    for q0 in range(0, nq, 4096):
        q1 = min(q0 + 4096, nq)
        for s in range(m):
            diff = (
                qmat[q0:q1, s * dsub : (s + 1) * dsub].reshape(-1, 1, dsub)
                - codebooks[s][None, :, :]
            )
            lut[q0:q1, s, :] = (diff * diff).sum(axis=2)
    return lut


def _adc_topk_one(
    codes_df: DataFrame,
    qid,
    lut: np.ndarray,
    qid_type: T.DataType,
    *,
    k: int,
    id_col: str,
    codes_col: str,
    query_id_col: str,
    round_digits: int | None,
) -> DataFrame:
    """One query's ADC top-k as a JVM expression: the m x n_codes LUT is a
    flat array literal, each row sums its m lookups, and (rounded
    distance, id) ORDER BY + LIMIT plans as TakeOrderedAndProject — no
    Python worker and no shuffle on the request path. The rank window
    (`search.rank_per_query`) over the k survivors reads one partition."""
    dist = F.expr(_adc_distance_sql(lut, codes_col))
    scored = codes_df.select(
        F.lit(qid).cast(qid_type).alias(query_id_col),
        F.col(id_col),
        dist.alias("distance"),
    )
    top = scored.orderBy(*S.rank_order(F.expr(_adc_key(round_digits)), id_col)).limit(k)
    return S.rank_per_query(
        top, k, query_id_col=query_id_col, id_col=id_col,
        key=_adc_key(round_digits),
    )


def _adc_distance_sql(lut: np.ndarray, codes_col: str) -> str:
    """Approximate L2 of a code row: its m lookups in the flat m x n_codes
    LUT literal, summed, then sqrt."""
    flat = K.array_lit_sql(lut.ravel())
    return (
        f"aggregate(transform({codes_col}, (_c, _i) -> element_at({flat}, "
        f"_i * {lut.shape[1]} + _c + 1)), 0.0D, (_acc, _x) -> _acc + _x, "
        "_acc -> sqrt(_acc))"
    )


def adc_key_sql(
    lut: np.ndarray, *, round_digits: int | None = 5, codes_col: str = "codes"
) -> str:
    """One query's ADC rank key of a code row as SQL text: its
    approximate L2, rounded as `_adc_topk_one` ranks it."""
    return _adc_key(round_digits, _adc_distance_sql(lut, codes_col))


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    round_digits: int | None = 5,
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """Asymmetric-distance top-k over the compressed code table: per query
    a [m x n_codes] LUT of squared subspace distances, each row costs m
    lookups. Returns (query_id, id, distance, rank) ascending (distance,
    id); `distance` is the approximate L2 (sqrt of summed subspace d2).

    With `round_digits`, the rank order uses the ROUNDED distance (ties
    then broken by id) so orderings are reproducible across engines
    regardless of float summation order. The local per-partition prune
    keeps a margin-widened SUPERSET of the top-k (every row within
    10^-round_digits of the kth raw distance): NumPy's round is
    half-to-even on binary doubles while Spark's is decimal HALF_UP, so
    pruning on the locally-rounded key could cut a row the global
    rounded ranking would keep — the margin makes the local stage
    rounding-agnostic and the global merge the single authority
    on order.

    A query set of exactly one query is scored by a JVM expression
    instead (`_adc_topk_one`: same LUT, same rounded (distance, id)
    order); larger sets run the vectorized Arrow loop, one LUT per query
    per task."""
    spark = codes_df.sparkSession
    qrows = _collect_queries(
        queries, query_id_col, query_vec_col, max_broadcast_queries
    )
    qids = [r[query_id_col] for r in qrows]
    qmat = np.array([np.asarray(r[query_vec_col], dtype=np.float64) for r in qrows])

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, codes_df.schema[id_col].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    if not qids:  # empty query set -> empty result, not a concat crash
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(1).cast("int")
        )
    if len(qids) == 1:
        return _adc_topk_one(
            codes_df, qids[0], _adc_luts(qmat, codebooks)[0],
            out_schema[query_id_col].dataType, k=k, id_col=id_col,
            codes_col=codes_col, query_id_col=query_id_col,
            round_digits=round_digits,
        )
    # margin for the local prune: one unit in the rounded digit covers the
    # worst half-to-even vs HALF_UP disagreement on any pair of keys
    margin = 10.0 ** -round_digits if round_digits is not None else 0.0

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nq = len(qids)
        lut = _adc_luts(qmat, codebooks)
        subs = np.arange(codebooks.shape[0])
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            codes = np.array([np.asarray(c, dtype=np.int64) for c in pdf[codes_col]])
            out = []
            kk = min(k, len(ids))
            for j in range(nq):
                d2 = lut[j][subs[None, :], codes].sum(axis=1)
                d = np.sqrt(np.maximum(d2, 0.0))
                sel = _margin_prune(d, kk, margin)
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: [qids[j]] * len(sel),
                            id_col: ids[sel],
                            "distance": d[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    local = codes_df.select(id_col, codes_col).mapInPandas(compute, out_schema)
    return S.rank_per_query(
        local, k, query_id_col=query_id_col, id_col=id_col,
        key=_adc_key(round_digits),
    )


def ivfpq_train(
    sample: np.ndarray,
    *,
    n_cells: int,
    m: int,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 20260813,
) -> tuple[np.ndarray, np.ndarray]:
    """Train an IVF-PQ index (coarse k-means quantizer + PQ codebooks on
    the RESIDUALS x - coarse[cell]) from a driver-collected sample.
    Returns (coarse: n_cells x dims, books: m x n_codes x dims//m)."""
    coarse = pq_train_kmeans(
        sample, m=1, n_codes=n_cells, iters=iters, seed=seed
    )[0]
    d2 = _sq_dists(sample, coarse)
    residuals = sample - coarse[np.argmin(d2, axis=1)]
    books = pq_train_kmeans(
        residuals, m=m, n_codes=n_codes, iters=iters, seed=seed + 1
    )
    return coarse, books


def ivfpq_encode(
    coll: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes) — the IVF-PQ index table: cell = nearest coarse
    centroid (L2, ties to lowest cell), codes = PQ codes of the residual.
    One Arrow pass, no shuffle; at scale this table is written partitioned
    by cell so probes become partition-pruned scans (the
    CellPartitionedStore layout in sources/store.py). Coarse centroids +
    codebooks ride the task closure (small, and a per-call broadcast is
    never destroyable under a lazy return — see pq_encode)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, coll.schema[id_col].dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = _matrix(pdf[vector_col])
            d2 = _sq_dists(mat, coarse)
            cells = np.argmin(d2, axis=1)
            codes = _encode_batch(mat - coarse[cells], codebooks)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cells.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return coll.select(id_col, vector_col).mapInPandas(encode, out_schema)


def ivfpq_topk(
    index_df: DataFrame,
    queries: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    *,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    round_digits: int | None = 5,
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """IVF-PQ ADC search: probe each query's `n_probe` nearest cells and
    rank rows there by the residual-PQ approximate L2. Per (query, probed
    cell) the LUT is built from (q - coarse[cell]); rows outside probed
    cells are skipped inside the Arrow batch, so compute scales with
    n_probe/n_cells of the data — and with a cell-partitioned index table
    the skipped rows are never even read (partition pruning).

    Rank order uses the ROUNDED distance + id tie-break (engine-stable)."""
    spark = index_df.sparkSession
    qrows = _collect_queries(
        queries, query_id_col, query_vec_col, max_broadcast_queries
    )
    qids = [r[query_id_col] for r in qrows]
    if not qids:  # empty query set -> empty result
        empty_schema = T.StructType(
            [
                T.StructField(query_id_col, queries.schema[query_id_col].dataType),
                T.StructField(id_col, index_df.schema[id_col].dataType),
                T.StructField("distance", T.DoubleType()),
            ]
        )
        return spark.createDataFrame([], empty_schema).withColumn(
            "rank", F.lit(1).cast("int")
        )
    qmat = np.array([np.asarray(r[query_vec_col], dtype=np.float64) for r in qrows])
    # deterministic probe selection: (d2, cell) ascending
    qd2 = _sq_dists(qmat, coarse)
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :n_probe]

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, index_df.schema[id_col].dataType),
            T.StructField("distance", T.DoubleType()),
        ]
    )
    margin = 10.0 ** -round_digits if round_digits is not None else 0.0

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, n_codes, dsub = codebooks.shape
        subs = np.arange(m)
        # per-(query, probed-cell) LUT memo: the LUT depends only on
        # (query, cell), so rebuilding it inside the Arrow-batch loop paid
        # the m x n_codes x dsub construction once per BATCH instead of
        # once per task. Bounded so a cap-sized query set cannot hold
        # nq x n_probe tables (~16 KB each) in memory forever.
        lut_memo: dict = {}

        def get_lut(j: int, cell: int) -> np.ndarray:
            got = lut_memo.get((j, cell))
            if got is None:
                resid_q = qmat[j] - coarse[cell]
                diff = resid_q.reshape(m, 1, dsub) - codebooks
                got = (diff * diff).sum(axis=2)  # m x n_codes
                if len(lut_memo) < 8192:
                    lut_memo[(j, cell)] = got
            return got

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.array([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            out = []
            for j, qid in enumerate(qids):
                for cell in probes[j]:
                    mask = cells == cell
                    if not mask.any():
                        continue
                    lut = get_lut(j, int(cell))
                    d2 = lut[subs[None, :], codes[mask]].sum(axis=1)
                    d = np.sqrt(np.maximum(d2, 0.0))
                    sel_ids = ids[mask]
                    sel = _margin_prune(d, min(k, int(mask.sum())), margin)
                    out.append(
                        pd.DataFrame(
                            {
                                query_id_col: [qid] * len(sel),
                                id_col: sel_ids[sel],
                                "distance": d[sel],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    local = index_df.select(id_col, "cell", "codes").mapInPandas(
        compute, out_schema
    )
    return S.rank_per_query(
        local, k, query_id_col=query_id_col, id_col=id_col,
        key=_adc_key(round_digits),
    )


def pq_search(
    coll: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    *,
    candidates: int = 100,
    k: int = 10,
    metric: str = "l2",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Two-stage PQ search: ADC top-`candidates` over the code table, then
    exact rerank of each query's OWN candidate set on full vectors — the
    quantized_search shape (reference collection.ex:263-295) with PQ codes
    instead of sign bits, and the same rerank stage as
    `search.multi_query_quantized` (`search.rerank_pairs`). The candidate
    pair list is O(queries x candidates) — broadcast against the
    collection, so hydration streams the big side with no shuffle.

    Metrics: `l2` natively; `cosine` by L2-normalizing both sides before
    encode/ADC (on unit vectors L2^2 = 2 - 2cos, so L2-ADC candidate order
    is cosine order) — train the codebooks on a NORMALIZED sample for best
    distortion. Inner product has no L2-ADC equivalent and is rejected
    (use brute_force_topk or an IP-specific quantizer)."""
    from vettore_spark.plans.cache import cached_persist

    metric = K.canonical_metric(metric)
    if metric not in ("l2", "cosine"):
        raise ValueError(
            f"pq_search supports l2/cosine, not {metric!r}: the ADC stage is "
            "an L2 quantizer and would generate candidates misaligned with "
            "the rerank metric"
        )
    if metric == "cosine":
        base = coll.select(F.col(id_col), K.normalize_l2(vector_col).alias(vector_col))
        adc_queries = queries.select(
            F.col(query_id_col), K.normalize_l2(query_vec_col).alias(query_vec_col)
        )
    else:
        base, adc_queries = coll, queries
    key_hash = hash(codebooks.tobytes())
    codes_df = cached_persist(
        base,
        ("pq_codes", id_col, vector_col, metric, key_hash),
        lambda s: pq_encode(s, codebooks, id_col=id_col, vector_col=vector_col),
    )
    cand = pq_adc_topk(
        codes_df,
        adc_queries,
        codebooks,
        k=candidates,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    return S.rerank_pairs(
        cand, coll, queries, metric=metric, k=k,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col, vector_col=vector_col, pre_normalized=False,
    )
