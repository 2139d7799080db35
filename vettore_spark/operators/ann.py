"""Approximate/brute-force nearest-neighbor operators over embedding columns.

Two physical strategies, chosen by the caller:

1. **Expression path** (operators/search.py): pure Column expressions —
   best when k and the query set are small and everything must stay inside
   whole-stage codegen (no Python at all).

2. **Arrow GEMM path** (this module): `mapInPandas` with a broadcast
   query-matrix; each partition computes a NumPy matrix product over its
   Arrow batch. 10-100x faster per pair than interpreted higher-order
   functions once the pair count is large (SURVEY §4 P4: the reference's
   batched-NIF rationale maps to Arrow-batched UDFs).

Scale notes (100 TB):
- The broadcast side must fit in executor memory (queries, or a centroid
  table). For all-pairs near-dup at cluster scale use the block-partitioned
  join in operators/dedup.py (block_col) or LSH prefiltering; the GEMM
  all-pairs here is for a collection that fits a broadcast (<= ~1M rows).
- Per-partition local top-k then a single global merge keeps the shuffle at
  O(num_queries * k), never O(rows).
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions import kernels as K
from vettore_spark.operators import search as S
from vettore_spark.plans.spread import pin_sql, row_like


def _matrix(pdf_col: pd.Series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf_col])


def _l2norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _score_block(
    m: np.ndarray, qmat: np.ndarray, metric: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(score, distance, rank) matrices of shape rows x n_queries for one
    GEMM block — shared by the broadcast and block-grid paths so the two
    are bit-identical."""
    if metric == "cosine":
        sims = _l2norm_rows(m) @ _l2norm_rows(qmat).T
        np.clip(sims, -1.0, 1.0, out=sims)
        return sims, 1.0 - sims, 1.0 - sims
    if metric == "inner_product":
        sims = m @ qmat.T
        return sims, -sims, -sims
    d2 = (
        (m * m).sum(axis=1, keepdims=True)
        - 2.0 * (m @ qmat.T)
        + (qmat * qmat).sum(axis=1)
    )
    d = np.sqrt(np.maximum(d2, 0.0))
    return -d, d, d


def _topk_per_query(
    rankmat: np.ndarray,
    ids: np.ndarray,
    kk: int,
    *,
    exclude_ids: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-column top-kk by ascending (rank value, id) — exact
    `np.lexsort((ids, rankmat[:, j]))[:kk]` parity without the per-column
    Python loop (O(n) lexsorts + per-row DataFrame/concat was the top cost
    of every in-block GEMM at max_block_size; r8 verdict #2).

    Selection is threshold-based: a per-column boundary VALUE v such that
    at least `need` rows satisfy rank <= v (exact T-th order statistic for
    small blocks via argpartition; a deterministic row-subsample estimate,
    verified and repaired per column, for large ones — the subsample makes
    the O(n * nq) selection pass a single vectorized compare instead of an
    introselect per column). All candidates <= v (boundary TIES included,
    so the candidate set is never cut mid-tie) then go through ONE global
    ragged lexsort keyed (column, value, id, row) — bit-exact parity with
    the old per-column lexsort, including duplicate-id tie-breaks.

    `exclude_ids[j]`, when given, drops every candidate row whose id equals
    it (ALL rows sharing the query's id, duplicate-id safe) before the kk
    cut. Returns (qcol, row, rank): query COLUMN index, candidate ROW index
    into the caller's arrays, and the 1-based rank — grouped by column
    ascending, rank ascending, ready for one vectorized frame assembly.
    Columns are processed in bounded chunks so scratch stays ~tens of MB
    however large the block is."""
    n, nq = rankmat.shape
    empty = np.empty(0, dtype=np.int64)
    if kk <= 0 or n == 0 or nq == 0:
        return empty, empty, empty
    if exclude_ids is not None:
        # a query collides with at most max-duplicate-count rows, so
        # need + dup_max candidates always contain kk non-self survivors
        _, id_counts = np.unique(ids, return_counts=True)
        need = min(n, kk + int(id_counts.max()))
    else:
        need = min(n, kk)
    # deterministic row subsample for the threshold estimate (large n only):
    # the q-th smallest of a stride-s subsample lands near full rank q*n/s,
    # so q = ceil(s*need/n)+2 overshoots `need` with high probability and a
    # per-column exact repair covers the rest — no RNG, replayable anywhere
    sample_rows = (
        np.arange(0, n, max(1, n // 1024)) if n > 2048 else None
    )
    chunk = max(1, min(nq, 8_000_000 // max(n, 1)))
    out_q: list[np.ndarray] = []
    out_r: list[np.ndarray] = []
    out_k: list[np.ndarray] = []
    for c0 in range(0, nq, chunk):
        c1 = min(nq, c0 + chunk)
        sub = rankmat[:, c0:c1]  # view — no copy of the block
        if need >= n:
            # every FINITE row is a candidate (x == x is False for NaN):
            # the small-block path must drop NaN rows exactly like the
            # threshold path below, or the same row would surface in
            # small blocks and vanish in large ones
            le = sub == sub
        else:
            if sample_rows is None:
                part = np.argpartition(sub, need - 1, axis=0)[:need]
                v = np.take_along_axis(sub, part, axis=0).max(axis=0)
            else:
                samp = sub[sample_rows]
                q = min(
                    len(sample_rows) - 1,
                    -(-len(sample_rows) * need // n) + 2,
                )
                v = np.partition(samp, q, axis=0)[q]
            le = sub <= v[None, :]
            # exact per-column repair for every threshold failure mode:
            # SHORT (sampled v undershot `need`), HOT (boundary ties or a
            # sampled overshoot select far more than `need` — tie-heavy
            # integer ranks, duplicate vectors, or a constant column would
            # otherwise balloon the candidate set toward O(n) per column,
            # the memory blowup the old per-column loop never had), and
            # NaN-poisoned columns (NaN compares false to everything, so
            # an unlucky threshold would drop the finite candidates too).
            # The repair always recomputes the EXACT need-th order
            # statistic — never trusts the sampled v — so count(col < vc)
            # < need holds and the tie trim always applies: the selection
            # is exactly the global (value, id, row) prefix of length
            # `need`, and downstream sort/exclusion semantics are
            # unchanged. (NaN rows sort last, same as np.lexsort; a
            # column with fewer than `need` finite rows keeps all of its
            # finite rows and returns a short result.)
            cap = max(4 * need, 64)
            counts = le.sum(axis=0)
            for c in np.nonzero((counts < need) | (counts > cap))[0]:
                col = sub[:, c]
                vc = np.partition(col, need - 1)[need - 1]
                if isinstance(vc.item(), float) and vc != vc:
                    # fewer than `need` finite values: every finite row
                    # is a candidate (NaNs rank last, never in top-k)
                    le[:, c] = col == col
                    continue
                lt_idx = np.nonzero(col < vc)[0]
                eq_idx = np.nonzero(col == vc)[0]
                take = need - len(lt_idx)
                if 0 < take < len(eq_idx):
                    ord_eq = np.argsort(ids[eq_idx], kind="stable")
                    eq_idx = eq_idx[ord_eq[:take]]
                mask = np.zeros(n, dtype=bool)
                mask[lt_idx] = True
                mask[eq_idx] = True
                le[:, c] = mask
        cc, rr = np.nonzero(le.T)  # per column: ascending original row idx
        vals = sub[rr, cc]
        # ONE ragged sort for the whole chunk: (column, value, id, row) —
        # np.lexsort is stable, so this is exactly the old per-column
        # lexsort((ids, rank[:, j])) including its positional tie-break
        order = np.lexsort((rr, ids[rr], vals, cc))
        cc_s, rr_s = cc[order], rr[order]
        if len(cc_s) == 0:  # every column in the chunk was all-NaN
            continue
        counts = np.bincount(cc_s, minlength=c1 - c0)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        # a column with ZERO candidates (all-NaN ranks) makes its start
        # index == len(cc_s); clip before indexing — the clipped value is
        # never used (np.repeat skips count-0 groups)
        starts_ix = np.minimum(starts, max(len(cc_s) - 1, 0))
        if exclude_ids is not None:
            keep = ids[rr_s] != exclude_ids[c0:c1][cc_s]
            ck = np.cumsum(keep)
            grp_base = np.repeat(ck[starts_ix] - keep[starts_ix], counts)
            rank_in_grp = ck - grp_base  # 1-based among kept
            selm = keep & (rank_in_grp <= kk)
            out_k.append(rank_in_grp[selm].astype(np.int64))
        else:
            pos = np.arange(len(cc_s)) - np.repeat(starts, counts)
            selm = pos < kk
            out_k.append((pos[selm] + 1).astype(np.int64))
        out_q.append((cc_s[selm] + c0).astype(np.int64))
        out_r.append(rr_s[selm].astype(np.int64))
    if not out_q:  # every chunk was all-NaN: empty result, not a crash
        return empty, empty, empty
    return np.concatenate(out_q), np.concatenate(out_r), np.concatenate(out_k)


def brute_force_topk(
    coll: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    max_broadcast_queries: int = 65536,
) -> DataFrame:
    """Batched exact top-k via broadcast queries + per-partition NumPy GEMM.

    Semantics identical to operators.search.multi_query_topk with
    pre_normalized=False (true cosine) / l2 / inner_product: ascending
    (rank, id) order, rank column 1..k per query.

    The query side is collected and broadcast — valid ONLY for bounded query
    batches. `max_broadcast_queries` guards the driver: above it the collect
    would be the 100 TB failure mode (query set ~ collection), and the call
    fails fast pointing at `self_knn_topk`, the no-collect block-grid path.
    """
    if metric not in ("cosine", "l2", "inner_product"):
        raise ValueError(f"unsupported metric for GEMM path: {metric!r}")
    spark = coll.sparkSession
    # limit(cap+1) bounds driver memory BEFORE the collect, not after
    qrows = (
        queries.select(query_id_col, query_vec_col)
        .limit(max_broadcast_queries + 1)
        .collect()
    )
    if len(qrows) > max_broadcast_queries:
        raise ValueError(
            f"query set exceeds max_broadcast_queries={max_broadcast_queries}; "
            "a driver collect at this size is the scale failure mode — use "
            "self_knn_topk (block-grid, no collect) or raise the cap explicitly"
        )
    qids = [r[query_id_col] for r in qrows]
    qmat = np.array([np.asarray(r[query_vec_col], dtype=np.float64) for r in qrows])

    id_field = coll.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, id_field.dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("distance", T.DoubleType()),
            T.StructField("_rank", T.DoubleType()),
        ]
    )
    if not qids:  # empty query set -> empty result, not a concat crash
        return (
            spark.createDataFrame([], out_schema)
            .withColumn("rank", F.lit(1).cast("int"))
            .drop("_rank")
        )
    bc = spark.sparkContext.broadcast((qids, qmat))

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_l, qmat_l = bc.value
        nq = len(qids_l)
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = _matrix(pdf[vector_col])
            ids = pdf[id_col].to_numpy()
            score, dist, rank = _score_block(m, qmat_l, metric)
            # local top-k per query to bound the shuffle
            kk = min(k, len(ids))
            qc, rows, _ = _topk_per_query(rank, ids, kk)
            qarr = np.empty(nq, dtype=object)
            qarr[:] = qids_l
            yield pd.DataFrame(
                {
                    query_id_col: qarr[qc],
                    id_col: ids[rows],
                    "score": score[rows, qc],
                    "distance": dist[rows, qc],
                    "_rank": rank[rows, qc],
                }
            )

    local = coll.select(id_col, vector_col).mapInPandas(compute, out_schema)
    return S.rank_per_query(local, k, query_id_col=query_id_col, id_col=id_col)


def hamming_brute_topk(
    coll: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Batched sign-bit Hamming top-k (stage 1 of quantized search, K18/K19
    semantics): bit i is `vector[i] >= 0`, distance is the mismatch count.
    Instead of packing to u64 words and folding per pair (the expression
    path in operators/search.py — reference kernel distances.rs:413-481),
    each Arrow batch computes all pairwise mismatch counts in one float
    GEMM: mismatches = s@(1-q)^T + (1-s)@q^T over the {0,1} sign matrices.
    Local per-partition top-k bounds the shuffle at O(queries x k x
    partitions); ties break by ascending id, matching packed Hamming
    ordering exactly.

    Returns (query_id, id, hamming, rank) with rank 1..k per query.
    """
    spark = coll.sparkSession
    qrows = (
        queries.select(query_id_col, query_vec_col)
        .limit(65536 + 1)
        .collect()
    )
    if len(qrows) > 65536:
        raise ValueError(
            "query batch exceeds 65536; a driver collect at this size is the "
            "scale failure mode — split the batch or use the packed-Hamming "
            "expression path (operators/search.py)"
        )
    qids = [r[query_id_col] for r in qrows]
    qsigns = np.array(
        [np.asarray(r[query_vec_col], dtype=np.float64) >= 0.0 for r in qrows],
        dtype=np.float64,
    )

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, coll.schema[id_col].dataType),
            T.StructField("hamming", T.LongType()),
        ]
    )
    if not qids:  # empty query set -> empty result, not a concat crash
        return spark.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(1).cast("int")
        )
    bc = spark.sparkContext.broadcast((qids, qsigns))

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_l, qs = bc.value
        nq = len(qids_l)
        for pdf in it:
            if len(pdf) == 0:
                continue
            s = (_matrix(pdf[vector_col]) >= 0.0).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            # {0,1} matrices: s@(1-q)^T counts bits set here but not in the
            # query, (1-s)@q^T the reverse — the sum is the XOR popcount
            ham = np.rint(s @ (1.0 - qs).T + (1.0 - s) @ qs.T).astype(np.int64)
            kk = min(k, len(ids))
            qc, rows, _ = _topk_per_query(ham, ids, kk)
            qarr = np.empty(nq, dtype=object)
            qarr[:] = qids_l
            yield pd.DataFrame(
                {
                    query_id_col: qarr[qc],
                    id_col: ids[rows],
                    "hamming": ham[rows, qc],
                }
            )

    local = coll.select(id_col, vector_col).mapInPandas(compute, out_schema)
    return S.rank_per_query(
        local, k, query_id_col=query_id_col, id_col=id_col, key="hamming"
    )


def cosine_neardup_gemm(
    coll: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold via broadcast matrix + per-partition
    GEMM. Exact (no approximation). Requires the full normalized matrix to
    fit in a broadcast — the single-node-equivalent regime; beyond that,
    use cosine_neardup_blocked (block-grid, no collect) or
    dedup.embedding_neardup_pairs with an LSH/cluster block_col. The
    collect is capped: exceeding max_broadcast_rows fails fast instead of
    OOMing the driver at corpus scale."""
    spark = coll.sparkSession
    max_broadcast_rows = 262144
    rows = (
        coll.select(id_col, vector_col).limit(max_broadcast_rows + 1).collect()
    )
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"collection exceeds max_broadcast_rows={max_broadcast_rows} for "
            "the broadcast GEMM; use cosine_neardup_blocked (no collect)"
        )
    ids = np.array([r[id_col] for r in rows])
    mat = _l2norm_rows(
        np.array([np.asarray(r[vector_col], dtype=np.float64) for r in rows])
    )
    bc = spark.sparkContext.broadcast((ids, mat))

    out_schema = T.StructType(
        [
            T.StructField("id_a", coll.schema[id_col].dataType),
            T.StructField("id_b", coll.schema[id_col].dataType),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def compute(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = _l2norm_rows(_matrix(pdf[vector_col]))
            my_ids = pdf[id_col].to_numpy()
            sims = m @ all_mat.T
            ii, jj = np.nonzero(sims >= threshold)
            keep = my_ids[ii] < all_ids[jj]
            ii, jj = ii[keep], jj[keep]
            yield pd.DataFrame(
                {"id_a": my_ids[ii], "id_b": all_ids[jj], "sim": sims[ii, jj]}
            )

    return coll.select(id_col, vector_col).mapInPandas(compute, out_schema)


def _grid_rows(src: DataFrame) -> int:
    """Row count for grid sizing — deliberately NOT memoized: appending
    files to a parquet path leaves the plan sameSemantics-equal, so a
    cached count would silently under-size the grid after the collection
    grows and re-introduce the unbounded-task-memory failure the sizing
    exists to prevent. One count job is noise next to the O(n^2) GEMM it
    is sizing; callers on a hot path pass query_blocks/data_blocks
    explicitly to skip it."""
    return src.count()


def _block_grid(
    coll: DataFrame,
    *,
    id_col: str,
    vector_col: str,
    query_blocks: int | None,
    data_blocks: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(left, right) sides of the exact all-pairs block grid over ONE
    collection. Every (query row, data row) pair meets in exactly one
    (_qblk, _rblk) cogroup: the query side replicates across data blocks and
    vice versa, so a group holds n/Bq query rows x n/Br data rows — bounded
    task memory, NO driver collect, no broadcast of either side. Shuffle is
    n*(Bq+Br) rows. This is the distributed exact-kNN / all-pairs plan; the
    approximate web-scale alternative is LSH/IVF blocking
    (dedup.embedding_neardup_pairs).

    Default block count is sized from the ACTUAL row count (one cheap
    count job — negligible next to the O(n^2) GEMM it is sizing):
    B = ceil(n / 3000), so a task's score matrix is at most ~3000x3000
    doubles (~72 MB) and its GEMM ~0.6 GFLOP at 64 dims — bounded task
    memory BY CONSTRUCTION at any n. (The old default — shuffle
    partitions / 4, independent of n — meant n=1M rows on the default 32
    partitions produced 125k x 125k blocks whose score matrix alone is
    ~125 GB per task: an OOM that only appears at cluster scale. A
    config-derived constant cannot bound a quantity that grows with the
    data.) Pass query_blocks/data_blocks explicitly to skip the count."""
    src = coll.select(F.col(id_col), F.col(vector_col))
    if query_blocks is None or data_blocks is None:
        n = _grid_rows(src)
        auto_b = max(2, -(-n // 3000))  # ceil, floor 2 so the grid exists
    bq = query_blocks or auto_b
    br = data_blocks or auto_b
    # both grid keys MUST be the same type on both sides: pmod(xxhash64)
    # is bigint while explode(sequence) is int, and Spark's cogroup
    # co-partitions each side with ITS OWN key types — murmur3(int 1) !=
    # murmur3(bigint 1), so mixed types send the same (qblk, rblk) value
    # to DIFFERENT partitions and the two sides never meet (empty result,
    # not an error; small inputs masked it whenever AQE coalesced both
    # sides into one partition)
    left = src.select(
        F.col(id_col).alias("_qid"),
        F.col(vector_col).alias("_qv"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bq)).alias("_qblk"),
        F.explode(
            F.sequence(F.lit(0), F.lit(br - 1)).cast("array<bigint>")
        ).alias("_rblk"),
    )
    right = src.select(
        F.col(id_col),
        F.col(vector_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(br)).alias("_rblk"),
        F.explode(
            F.sequence(F.lit(0), F.lit(bq - 1)).cast("array<bigint>")
        ).alias("_qblk"),
    )
    return left, right


def self_knn_topk(
    coll: DataFrame,
    *,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_blocks: int | None = None,
    data_blocks: int | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact self k-NN graph (every row's top-k neighbors, itself included
    unless `exclude_self`) with NO driver collect: block-grid cogroup +
    per-group NumPy GEMM + local top-k, merged by one per-query window
    (`search.rank_per_query`).
    Output matches brute_force_topk with queries == collection: (query_id,
    id, score, distance, rank 1..k).

    `exclude_self=True` drops the (x, x) edge BEFORE the rank cut, so every
    node gets exactly k non-self out-edges even when >= k+1 exact-duplicate
    vectors tie-break ahead of self (the k+1-then-drop-self shortcut loses
    an edge there).

    The graph-construction primitive under graph dedup and HNSW-style
    indexes. Exact is O(n^2) work no matter the plan — this shape spreads it
    over Bq x Br bounded tasks; at corpus scale prefer IVF-cell or
    LSH-bucket blocking for the approximate variant."""
    if metric not in ("cosine", "l2", "inner_product"):
        raise ValueError(f"unsupported metric for GEMM path: {metric!r}")
    left, right = _block_grid(
        coll, id_col=id_col, vector_col=vector_col,
        query_blocks=query_blocks, data_blocks=data_blocks,
    )
    id_type = coll.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField(id_col, id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("distance", T.DoubleType()),
            T.StructField("_rank", T.DoubleType()),
        ]
    )

    def gemm(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in out_schema.fields}
            )
        qids = lpdf["_qid"].to_numpy()
        qmat = _matrix(lpdf["_qv"])
        ids = rpdf[id_col].to_numpy()
        m = _matrix(rpdf[vector_col])
        score, dist, rank = _score_block(m, qmat, metric)
        # exclude_self drops same-id rows INSIDE the kernel cut
        # (exclude_ids provisions kk + max-duplicate-count candidates), not
        # via a k+1-then-filter shortcut: with duplicate ids the filter
        # removes EVERY same-id row, so a single spare slot under-provisions
        # the block and the true k-th neighbor can be cut before the merge
        kk = min(k, len(ids))
        qc, rows, _ = _topk_per_query(
            rank, ids, kk, exclude_ids=qids if exclude_self else None
        )
        return pd.DataFrame(
            {
                "query_id": qids[qc],
                id_col: ids[rows],
                "score": score[rows, qc],
                "distance": dist[rows, qc],
                "_rank": rank[rows, qc],
            }
        )

    local = (
        left.groupBy("_qblk", "_rblk")
        .cogroup(right.groupBy("_qblk", "_rblk"))
        .applyInPandas(gemm, out_schema)
    )
    if exclude_self:
        local = local.filter(F.col("query_id") != F.col(id_col))
    return S.rank_per_query(local, k, id_col=id_col)


def cosine_neardup_blocked(
    coll: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_blocks: int | None = None,
    data_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold with NO driver collect: the same
    block-grid as self_knn_topk, emitting (id_a, id_b, sim) with
    id_a < id_b (each unordered pair meets in exactly one cogroup, so no
    dedup pass is needed). Replaces cosine_neardup_gemm's
    collect-and-broadcast for collections that outgrow the driver; the
    approximate scale path is LSH/cluster blocking
    (dedup.embedding_neardup_pairs block_col)."""
    left, right = _block_grid(
        coll, id_col=id_col, vector_col=vector_col,
        query_blocks=query_blocks, data_blocks=data_blocks,
    )
    id_type = coll.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def gemm(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in out_schema.fields}
            )
        a_ids = lpdf["_qid"].to_numpy()
        a = _l2norm_rows(_matrix(lpdf["_qv"]))
        b_ids = rpdf[id_col].to_numpy()
        b = _l2norm_rows(_matrix(rpdf[vector_col]))
        sims = a @ b.T
        ii, jj = np.nonzero(sims >= threshold)
        keep = a_ids[ii] < b_ids[jj]
        ii, jj = ii[keep], jj[keep]
        return pd.DataFrame(
            {"id_a": a_ids[ii], "id_b": b_ids[jj], "sim": sims[ii, jj]}
        )

    return (
        left.groupBy("_qblk", "_rblk")
        .cogroup(right.groupBy("_qblk", "_rblk"))
        .applyInPandas(gemm, out_schema)
    )


# driver-resident IVF codebooks, keyed by (applicationId, centroid plan
# hash, backing files). Bounded: evicted entries release their broadcast.
_IVF_CENT_CACHE: OrderedDict = OrderedDict()
_IVF_CENT_CACHE_MAX = 64


def _ivf_centroids_cached(spark, centroids, centroid_id_col, centroid_vec_col):
    """Collected (cids, cmat, broadcast) codebook, memoized per (app, plan,
    files). The centroid matrix is tiny, but computing it runs a Spark job;
    repeated query batches over the same index skip it (reference residency
    model: the codebook is built once with the inverted file).

    The FILE LIST is part of the key: re-training centroids in place (the
    ivf_delete maintenance contract) overwrites the same path, which leaves
    semanticHash unchanged — the plans/cache append blind spot — but
    rewrites the part filenames, so the file-list component turns the
    overwrite into a cache miss instead of a forever-stale codebook.
    In-memory centroid frames list no files and key on the plan alone
    (they cannot be mutated under a stable plan)."""
    try:
        files = tuple(sorted(centroids.inputFiles()))
    except Exception:  # noqa: BLE001 — unanalyzable plan: no file component
        files = ()
    try:
        cent_key = (
            spark.sparkContext.applicationId, centroids.semanticHash(), files
        )
    except Exception:  # noqa: BLE001
        cent_key = (spark.sparkContext.applicationId, id(centroids), files)
    hit = _IVF_CENT_CACHE.get(cent_key)
    if hit is not None:
        _IVF_CENT_CACHE.move_to_end(cent_key)
    if hit is None:
        cent_rows = centroids.select(centroid_id_col, centroid_vec_col).collect()
        # columns pre-sorted by centroid id: stable argsort over columns then
        # resolves distance ties by ascending centroid id (deterministic)
        cent_rows.sort(key=lambda r: r[centroid_id_col])
        cids = np.array([int(r[centroid_id_col]) for r in cent_rows], dtype=np.int64)
        cmat = _l2norm_rows(
            np.array(
                [np.asarray(r[centroid_vec_col], dtype=np.float64) for r in cent_rows]
            )
        )
        hit = (cids, cmat, spark.sparkContext.broadcast((cids, cmat)))
        _IVF_CENT_CACHE[cent_key] = hit
        while len(_IVF_CENT_CACHE) > _IVF_CENT_CACHE_MAX:
            _, (_, _, old_bc) = _IVF_CENT_CACHE.popitem(last=False)
            try:
                # unpersist, not destroy: a memoized plan built against the
                # evicted broadcast re-fetches lazily from the driver value
                old_bc.unpersist(False)
            except Exception:  # noqa: BLE001 — session already gone
                pass
    return hit


def _ivf_assign_cached(
    coll, centroids, vector_col, centroid_id_col, centroid_vec_col
):
    """(assigned, cids, cmat): the persisted inverted file plus the resident
    codebook. Cell assignment is the map-heavy step at scale: one vectorized
    GEMM per Arrow batch against the broadcast centroid matrix, no join. The
    assignment is the IVF *index build* — persisted and reused across query
    batches over the same collection."""
    from vettore_spark.plans.cache import cached_persist

    spark = coll.sparkSession
    cids, cmat, bc = _ivf_centroids_cached(
        spark, centroids, centroid_id_col, centroid_vec_col
    )

    @F.pandas_udf("long")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        ids, mat = bc.value
        raw = _matrix(vs)
        # Finiteness rail (NANPOLICY.md): np.argmin PROPAGATES NaN —
        # the first NaN distance would win the row's cell, silently
        # corrupting the index for raw-table callers that bypass
        # Collection validation. A non-finite vector gets _cell = NULL
        # instead: quarantined (the probe's equi-join never matches
        # NULL, so the row can never be returned by a search) but
        # visible (ivf_health_report surfaces a NULL-cell row).
        finite = np.isfinite(raw).all(axis=1)
        m = _l2norm_rows(np.where(finite[:, None], raw, 0.0))
        d = 1.0 - m @ mat.T
        out = pd.Series(
            pd.array(ids[np.argmin(d, axis=1)], dtype="Int64")
        )
        out[~finite] = pd.NA
        return out

    try:
        cent_key = centroids.semanticHash()
    except Exception:  # noqa: BLE001
        cent_key = id(centroids)
    assigned = cached_persist(
        coll,
        ("ivf_assign", cent_key, vector_col),
        lambda s: s.withColumn("_cell", nearest_cell(F.col(vector_col))),
    )
    return assigned, cids, cmat


def ivf_insert(
    assigned: DataFrame,
    external_id,
    vector,
    *,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    extras: dict | None = None,
) -> DataFrame:
    """Incremental IVF index INSERT: assign the one new vector to its
    nearest centroid driver-side (the codebook is resident and
    broadcast-small by construction; the argmin replicates the build
    path's `nearest_cell` rule exactly — L2-normalize, cosine distance,
    first minimum over the codebook's id order) and append a single row
    to the persisted inverted file. No re-train, no re-assignment of any
    existing row — the `ivf_delete` mirror and the inverted-file analog
    of HNSW's insert patch (insert_many_into_graph_shards; reference
    insert-time maintenance, native/vettore/src/hnsw.rs:152-245).

    `extras` supplies driver-side values for additional columns of the
    inverted file (typed from the assigned table's schema). Callers whose
    probe path filters on payload columns (metadata, value — the
    filtered-probe mode) MUST pass them: an appended row with NULL
    payload is invisible to `where=` predicates. Columns neither probed
    nor supplied stay NULL. Callers patching a long-lived resident table
    should lineage-cut the result (plans/checkpoint.py::durable_cut)."""
    spark = assigned.sparkSession
    cids, cmat, _bc = _ivf_centroids_cached(
        spark, centroids, centroid_id_col, centroid_vec_col
    )
    v = np.asarray(list(vector), dtype=np.float64)
    # Single user-supplied vector: fail fast instead of quarantining
    # (NANPOLICY.md — argmin would otherwise pick an arbitrary cell).
    if not np.isfinite(v).all():
        raise ValueError("ivf_insert: vector contains non-finite values")
    n = _l2norm_rows(v.reshape(1, -1))[0]
    cell = int(cids[int(np.argmin(1.0 - n @ cmat.T))])
    row = row_like(assigned, {
        **(extras or {}), id_col: external_id,
        vector_col: [float(x) for x in v], "_cell": cell,
    })
    return assigned.unionByName(row)


def ivf_delete(
    assigned: DataFrame, external_id, *, id_col: str = "vec_id"
) -> DataFrame:
    """Incremental IVF index delete: drop the row from the persisted cell
    assignment WITHOUT re-training centroids or re-assigning any other row
    — the inverted-file analog of HNSW's delete-with-entry-replacement
    (hnsw.delete_from_graph_shards; reference semantics
    native/vettore/src/hnsw.rs:263-289). The codebook goes stale by one
    vector, which is the standard IVF maintenance contract (periodic
    re-train, immediate tombstone). Pass the result to ivf_topk(assigned=...)."""
    return assigned.filter(F.col(id_col) != F.lit(external_id))


def ivf_assign(
    coll: DataFrame,
    *,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Build (and persist) the IVF inverted file: every collection row tagged
    with its nearest-centroid `_cell`. Shared by ivf_topk (implicit build)
    and the incremental-maintenance path (ivf_delete patches this table)."""
    return _ivf_assign_cached(
        coll, centroids, vector_col, centroid_id_col, centroid_vec_col
    )[0]


def ivf_topk(
    coll: DataFrame,
    queries: DataFrame,
    *,
    centroids: DataFrame,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every row to its nearest
    centroid (cosine), probe the `n_probe` nearest centroids per query, and
    run exact cosine only within probed cells.

    The scale path for ANN: the centroid table is broadcast (small), the
    collection is hash-partitioned by cell, and each query touches
    n_probe/n_cells of the data. Recall vs exact is tunable via n_probe and
    should be validated against brute_force_topk (the reference's pattern:
    approximate modes report overlap@k vs exact — bench/search_modes_bench.exs:193-238).
    """
    scored = _ivf_probe_scored(
        coll,
        queries,
        centroids=centroids,
        n_probe=n_probe,
        id_col=id_col,
        vector_col=vector_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        assigned=assigned,
    )
    return S.rank_per_query(
        scored, k, query_id_col=query_id_col, id_col=id_col, key="distance"
    )


def _ivf_probe_scored(
    coll: DataFrame,
    queries: DataFrame,
    *,
    centroids: DataFrame,
    n_probe: int,
    id_col: str,
    vector_col: str,
    query_id_col: str,
    query_vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
    assigned: DataFrame | None,
) -> DataFrame:
    """Shared IVF probe stage: per-query n_probe nearest cells (JVM-side
    over the literal codebook), broadcast probe join against the persisted
    inverted file, exact cosine within probed cells by the JVM kernel.
    Returns (query_id, id, score, distance) unranked — ivf_topk ranks it
    by distance (`search.rank_per_query`), ivf_range threshold-filters it.
    A non-finite stored vector scores NULL (kernels.cosine), never a
    value."""
    spark = coll.sparkSession
    if assigned is None:
        assigned, cids, cmat = _ivf_assign_cached(
            coll, centroids, vector_col, centroid_id_col, centroid_vec_col
        )
    else:
        # pre-built (possibly incrementally patched) inverted file: reuse it
        # verbatim; only the driver-resident codebook is (re)fetched for
        # probe selection.
        cids, cmat, _ = _ivf_centroids_cached(
            spark, centroids, centroid_id_col, centroid_vec_col
        )

    # Probe selection stays JVM-side: query count is small relative to the
    # collection, so a literal-array cross of queries x codebook + windowed
    # top-n_probe avoids spinning a Python worker on the query path.
    probes = queries.selectExpr(
        query_id_col,
        query_vec_col,
        f"explode({_ivf_probe_sql(query_vec_col, cids, cmat, n_probe)}) AS _cell",
    )
    joined = assigned.join(F.broadcast(probes), on="_cell")

    # Within-cell scoring runs in the JVM, the same kernel flat search
    # scores every row with, staged once per row: score and distance read
    # the materialized value instead of re-inlining the fold. A Python
    # stage here would cost the request a worker round per task wave.
    return joined.selectExpr(
        query_id_col, id_col,
        f"{K.cosine.sql(vector_col, query_vec_col)} AS _raw",
        pin_sql(),
    ).selectExpr(query_id_col, id_col, "_raw AS score", "1.0D - _raw AS distance")


def _ivf_probe_sql(query_vec: str, cids: np.ndarray, cmat: np.ndarray, n_probe: int) -> str:
    """The n_probe nearest cells of `query_vec` as an array<bigint> SQL
    expression over the literal codebook (cell ids, row-major flat
    matrix; cell i's centroid is a slice of it). Structs sort by
    (distance, cid): ascending cid breaks ties, matching the stable
    argsort over id-sorted codebook columns. Fails fast past ~256k
    literal components (the max_broadcast_queries discipline): every
    component is a Catalyst expression node, and a 1024-cell x 768-dim
    codebook would hand the analyzer ~800k nodes — minutes of planning
    or a driver OOM dressed as a query."""
    n_lit = int(cmat.shape[0]) * int(cmat.shape[1]) if cmat.size else 0
    if n_lit > 262_144:
        raise ValueError(
            f"codebook too large for the literal probe plan: n_cells x dims "
            f"= {cmat.shape[0]} x {cmat.shape[1]} = {n_lit} > 262144 "
            "expression nodes; use fewer/narrower centroids, or probe via "
            "an Arrow-batched kernel (the pq.py pattern) for codebooks "
            "this size"
        )
    dims = int(cmat.shape[-1])
    cell = f"slice({K.array_lit_sql(cmat.ravel())}, _ci * {dims} + 1, {dims})"
    scored = (
        f"transform(CAST({K.array_lit_sql(cids)} AS ARRAY<BIGINT>), (_cid, _ci) -> "
        f"named_struct('d', 1.0D - {K.cosine.sql(query_vec, cell)}, 'cid', _cid))"
    )
    return f"transform(slice(array_sort({scored}), 1, {n_probe}), _pr -> _pr.cid)"


def ivf_probe_cells(
    query: list[float], cids: np.ndarray, cmat: np.ndarray, n_probe: int
) -> list[int]:
    """`_ivf_probe_sql` on the driver for one query, in the JVM kernel's
    exact f64 order: dot, |q|^2 and |c|^2 accumulated left to right
    (`np.add.accumulate` is a sequential fold), sqrt*sqrt, clamp to
    [-1, 1], zero norm -> 0.0, NaN -> NULL (sorts first, as a NULL
    struct field does); ties broken by ascending cell id."""
    q = np.asarray(query, dtype=np.float64)
    if not len(cids):
        return []
    d = np.add.accumulate(cmat * q, axis=1)[:, -1]
    nq = np.add.accumulate(q * q)[-1]
    nc = np.add.accumulate(cmat * cmat, axis=1)[:, -1]
    keys = []
    for cid, dot, na in zip(cids.tolist(), d.tolist(), nc.tolist()):
        denom = float(np.sqrt(nq)) * float(np.sqrt(na))
        r = dot / denom if denom != 0.0 else 0.0
        keys.append((0, 0.0, cid) if r != r else (1, 1.0 - min(1.0, max(-1.0, r)), cid))
    return [cid for *_, cid in sorted(keys)[:n_probe]]


def ivf_topk_sql(
    rel: str, query: list[float], cells: list[int], k: int, *,
    id_col: str = "id", vector_col: str = "vector",
) -> str:
    """One query's `ivf_topk` as one SQL text over the inverted file
    `rel`, its probed cells chosen on the driver (`ivf_probe_cells`): a
    `_cell IN (...)` filter on the resident table, the staged cosine, and
    `rank_order` + LIMIT k (TakeOrderedAndProject). The rank window reads
    the k survivors in their one partition. (id, score, distance, rank)."""
    cos = K.cosine.sql(vector_col, K.array_lit_sql(query))
    scored = (
        f"SELECT {id_col}, _raw AS score, 1.0D - _raw AS distance FROM "
        f"(SELECT {id_col}, {cos} AS _raw, {pin_sql()} "
        f"FROM {rel} WHERE _cell IN ({', '.join(map(str, cells)) or 'NULL'}))"
    )
    return S.rank_per_query_sql(
        f"({scored} ORDER BY {S.rank_order_sql('distance', id_col)} LIMIT {k})", k,
        cols=[id_col, "score", "distance"], query_id_col=None, id_col=id_col,
        key="distance",
    )


def ivf_range(
    coll: DataFrame,
    queries: DataFrame,
    *,
    centroids: DataFrame,
    n_probe: int = 2,
    max_distance: float | None = None,
    min_score: float | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-accelerated radius search: every probed-cell row within the
    cosine threshold, per query — the index-pruned scale path for radius
    queries (operators.search.flat_range / multi_query_range scan the whole
    collection; this touches n_probe/n_cells of it, the same approximation
    contract as ivf_topk: matches living outside the probed cells are
    missed, recall tunable via n_probe).

    No window at all — the threshold is a plain filter over the probe-join
    scores, so the only shuffle-ish move is the broadcast of (query, cell)
    probes; output scales with total matches. Rows come back unordered.
    Output: (query_id, id, score, distance)."""
    if (max_distance is None) == (min_score is None):
        raise ValueError("give exactly one of max_distance / min_score")
    scored = _ivf_probe_scored(
        coll,
        queries,
        centroids=centroids,
        n_probe=n_probe,
        id_col=id_col,
        vector_col=vector_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        assigned=assigned,
    )
    if max_distance is not None:
        return scored.filter(F.col("distance") <= F.lit(float(max_distance)))
    return scored.filter(F.col("score") >= F.lit(float(min_score)))


def ivf_health(
    coll: DataFrame,
    *,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF index health report: per-cell population and residual-distance
    stats over the persisted inverted file — the monitoring signal that
    tells an operator WHEN to re-train the codebook (rising residuals =
    drifted corpus; share skew = hot cells that serialize probe work).

    One aggregate over the SAME persisted assignment the query path uses
    (no second assignment pass), cosine residual via the Arrow kernel,
    `share` from a window over the n_cells-row aggregate (never the
    corpus). Returns (cell, n_rows, share, mean_dist, max_dist), one row
    per occupied cell. At 100 TB this is a single map-side-combined
    aggregate: n_cells partial rows per partition through the shuffle."""
    if assigned is None:
        assigned, _cids, _cmat = _ivf_assign_cached(
            coll, centroids, vector_col, centroid_id_col, centroid_vec_col
        )
    cent = centroids.select(
        F.col(centroid_id_col).cast("long").alias("_cell"),
        F.col(centroid_vec_col).cast("array<double>").alias("_cv"),
    )

    @F.pandas_udf("double")
    def cos_dist(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _matrix(a), _matrix(b)
        sims = np.einsum(
            "ij,ij->i", _l2norm_rows(ma), _l2norm_rows(mb)
        )
        return pd.Series(1.0 - np.clip(sims, -1.0, 1.0))

    # LEFT join: quarantined rows (_cell = NULL, the non-finite-vector
    # rail in _ivf_assign_cached) must stay VISIBLE in the health report
    # — they surface as a NULL-cell row with NULL distance stats, the
    # operator's signal that malformed vectors entered the corpus. The
    # pandas UDF is extracted and run over every row regardless of the
    # F.when mask, so feed it a never-NULL centroid (the row's own
    # vector as placeholder) and mask its OUTPUT to NULL instead.
    vec = F.col(vector_col).cast("array<double>")
    per_cell = (
        assigned.join(F.broadcast(cent), on="_cell", how="left")
        .select(
            F.col("_cell").alias("cell"),
            F.when(
                F.col("_cv").isNotNull(),
                cos_dist(vec, F.coalesce(F.col("_cv"), vec)),
            ).alias("_d"),
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_rows"),
            F.avg("_d").alias("_mean_d"),
            F.max("_d").alias("_max_d"),
        )
    )
    total = Window.partitionBy()
    return per_cell.select(
        "cell",
        "n_rows",
        (F.col("n_rows") / F.sum("n_rows").over(total)).alias("share"),
        F.col("_mean_d").alias("mean_dist"),
        F.col("_max_d").alias("max_dist"),
    )


def mutual_knn_pairs(
    coll: DataFrame,
    *,
    k: int = 3,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    knn: DataFrame | None = None,
) -> DataFrame:
    """High-precision pairing: (a, b) pairs where b is in a's k-NN AND a
    is in b's k-NN — the mutual-nearest-neighbor filter used for bitext
    mining and near-dup candidate hardening (a one-directional neighbor is
    often an asymmetric hub match; mutuality kills hubs). Emits each pair
    once, canonicalized src < dst, with the src->dst score/distance.

    Pass `knn` to reuse a precomputed edge table (any (query_id, id,
    score, distance, rank) table — the exact block-grid graph here, an
    IVF/LSH-blocked approximate graph at corpus scale); otherwise the
    exact self_knn_topk builds it with exclude_self=True (rank cut over
    non-self edges, so every node has exactly k out-edges even among
    duplicate vectors).

    Scale shape: edges are O(n*k) rows, built ONCE and persisted
    (cached_persist) — both sides of the mutuality join read the
    materialized table, so the O(n*k) GEMM build never executes twice.
    The mutuality check is ONE equi-join of the edge table with its own
    (dst, src) projection (a left-semi, so nothing widens), and
    canonicalization is a plain filter. No window, no corpus shuffle
    beyond the edge build itself."""
    from vettore_spark.plans.cache import cached_persist

    edges = (
        knn
        if knn is not None
        else self_knn_topk(
            coll, k=k, metric=metric, id_col=id_col, vector_col=vector_col,
            exclude_self=True,
        )
    )
    e = cached_persist(
        edges,
        ("mutual_knn_edges", id_col),
        lambda src: src.filter(F.col("query_id") != F.col(id_col)).select(
            F.col("query_id").alias("src"),
            F.col(id_col).alias("dst"),
            "score",
            "distance",
        ),
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        e.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "score", "distance")
    )


def blocked_knn_topk(
    coll: DataFrame,
    *,
    k: int = 10,
    metric: str = "cosine",
    n_bits: int = 4,
    n_bands: int = 1,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    max_block_size: int = 20_000,
    block_col: str | None = None,
) -> DataFrame:
    """Approximate self-kNN edge table via sign-prefix (SimHash-style)
    blocking: band b's block id = the sign bits of raw dimensions
    [b*n_bits, (b+1)*n_bits), neighbors searched only WITHIN each block.

    Pass `block_col` to block on a caller-provided partition column
    instead of sign bits (n_bits/n_bands are then ignored, single band):
    the trained-cell path — an IVF KMeans assignment
    (mllib_lsh.kmeans_centroids + ivf_assign), a domain/language column,
    any clustering the corpus already carries. Same output shape, same
    in-block exact semantics; recall is whatever fraction of true
    neighbor pairs the blocking keeps co-located.
    Output matches self_knn_topk's shape — (query_id, id, score, distance,
    rank 1..k), self excluded, rank over non-self in-block candidates —
    but cost is n_bands * sum(|block|^2) instead of n^2: with 2^n_bits
    roughly-even blocks, ~n_bands * n^2 / 2^n_bits GEMM work. With
    n_bands=1 there is NO cross-block shuffle at all (each query's rank
    is final inside its block — no merge window); n_bands > 1 unions the
    per-band top-k edges, dedupes pairs, and re-ranks with one
    (distance, id) window (`search.rank_per_query`, rank cast back to
    long) over O(n_bands * n * k) rows.

    This is the corpus-scale edge builder for mutual_knn_pairs(knn=...):
    a single band keeps a true neighbor with P ~ p_bit^n_bits where
    p_bit = 1 - theta/pi (the SimHash collision bound), so recall on an
    UNSTRUCTURED corpus is low by construction (measured ~0.13 at 4 bits
    on the isotropic testdata — the jl/pca data-floor effect); bands
    multiply recall toward 1-(1-p)^B at linear cost — the measured
    band sweep is in SCALE.md. Deterministic (raw-dim signs, no trained
    codebook, no RNG), so an external oracle can reproduce the blocking
    exactly. Blocks past `max_block_size` fail fast naming the knobs —
    a hot block means the sign prefix is skewed for this data; raise
    n_bits or pre-whiten. The 20k default bounds the in-block GEMM's
    three n x n float64 matrices at ~3 x 3.2 GB peak — raise it only
    with executor memory to match (the guard is there precisely so a
    skewed prefix fails LOUDLY instead of OOMing). Requires
    n_bands * n_bits <= dims — validated against the first row's vector
    (element_at past the vector's end would silently zero the missing
    bits, collapsing those bands into one full-corpus block).
    """
    if metric not in ("cosine", "l2", "inner_product"):
        raise ValueError(f"unsupported metric for GEMM path: {metric!r}")
    if block_col is not None:
        n_bands = 1
        src = coll.select(
            F.col(id_col),
            F.col(vector_col),
            F.lit(0).alias("_band"),
            F.col(block_col).cast("string").alias("_blk"),
        )
    else:
        if not 1 <= n_bits <= 20:
            raise ValueError(f"n_bits must be in [1, 20], got {n_bits}")
        if n_bands < 1:
            raise ValueError(f"n_bands must be >= 1, got {n_bands}")
        # min over the WHOLE table, not first() (the embedding_neardup_banded
        # rule): a ragged table whose first row is long enough would pass a
        # head probe and then either throw deep in the stage (ANSI
        # element_at) or silently hash missing dims to the 0 bit, collapsing
        # bands into mega-blocks. A NULL min (null/empty vectors) fails the
        # same check instead of raising TypeError on None comparison.
        probe = coll.agg(
            F.min(F.size(F.col(vector_col))).alias("d"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        min_d = probe["d"]
        if probe["n"] > 0 and (min_d is None or min_d < n_bands * n_bits):
            raise ValueError(
                f"n_bands * n_bits = {n_bands * n_bits} exceeds the minimum "
                f"vector dimensionality {min_d}: bands past the end would "
                "silently collapse into one full-corpus block — lower "
                "n_bands or n_bits (or drop null/short vectors first)"
            )
        parts = []
        for b in range(n_bands):
            blk = None
            for i in range(n_bits):
                bit = F.when(
                    F.element_at(F.col(vector_col), b * n_bits + i + 1) >= 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                blk = bit if blk is None else blk + bit
            parts.append(
                coll.select(
                    F.col(id_col),
                    F.col(vector_col),
                    F.lit(b).alias("_band"),
                    blk.cast("int").alias("_blk"),
                )
            )
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)
    id_type = coll.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField(id_col, id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("distance", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ]
    )

    def topk_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {f.name: pd.Series(dtype=object) for f in out_schema.fields}
        )
        if n <= 1:
            return empty
        if n > max_block_size:
            raise ValueError(
                f"sign-prefix block holds {n} rows > max_block_size="
                f"{max_block_size}: raise n_bits (currently {n_bits}) or "
                "max_block_size explicitly"
            )
        ids = pdf[id_col].to_numpy()
        m = _matrix(pdf[vector_col])
        score, dist, rank = _score_block(m, m, metric)
        kk = min(k, n - 1)
        qc, rows, rk = _topk_per_query(rank, ids, kk, exclude_ids=ids)
        return pd.DataFrame(
            {
                "query_id": ids[qc],
                id_col: ids[rows],
                "score": score[rows, qc],
                "distance": dist[rows, qc],
                "rank": rk,
            }
        )

    local = src.groupBy("_band", "_blk").applyInPandas(topk_block, out_schema)
    if n_bands == 1:
        return local
    # multi-band merge: a pair surfacing in several bands carries
    # bit-identical score/distance (the GEMM arithmetic depends only on
    # the two vectors), so dedupe then re-rank globally by the universal
    # rank value (distance == rank for all three metrics in _score_block)
    merged = S.rank_per_query(
        local.dropDuplicates(["query_id", id_col]), k,
        id_col=id_col, key="distance",
    )
    return merged.withColumn("rank", F.col("rank").cast("long"))
