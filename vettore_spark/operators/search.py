"""Top-k retrieval operators, re-expressed as Spark DataFrame pipelines.

Reference parity (file:line into /root/reference):
- exact flat top-k .......... lib/vettore/index/flat.ex:49-57, native/vettore/src/flat.rs:96-124
- prefix (Matryoshka) top-k . native/vettore/src/search.rs:38-73
- binary candidate top-k .... native/vettore/src/search.rs:76-92
- quantized_search .......... lib/vettore/collection.ex:263-295
- funnel_search ............. lib/vettore/collection.ex:233-260, 660-691
- hybrid_search ............. lib/vettore/collection.ex:326-348, 512-658
- exact rerank .............. lib/vettore/collection.ex:819-826

Physical strategy notes (100 TB design):
- Single-query top-k compiles to `TakeOrderedAndProject` (bounded per-partition
  heaps + driver merge — the distributed analog of the reference's bounded
  BinaryHeap, flat.rs:103-123). No full sort, no shuffle of the data.
- Multi-query top-k broadcasts the (small) query set against the (huge)
  collection and takes per-query partial top-k via window group-limit pushdown
  (rank <= k is pushed below the shuffle since Spark 3.x).
- Candidate joins (rerank stages) are broadcast hash joins of small candidate
  id-sets against the collection, so the second pass prunes with a semi-join
  instead of re-scanning scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vettore_spark.functions import kernels as K


def _query_lit(query: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query])


def single_query_frame(spark, query: list[float], query_id: str = "q0") -> DataFrame:
    """One-row (query_id string, query_vector array<double>) frame built in
    the JVM: a literal projection over a one-row inline table, which the
    optimizer folds into a local relation. A collect of it runs no job and
    a broadcast of it one task, where `createDataFrame([...])` ships a
    Python list and scans it in one task per default-parallelism slice."""
    return spark.sql("VALUES (0)").select(
        F.lit(query_id).alias("query_id"),
        _query_lit(query).alias("query_vector"),
    )


def _ordered_topk(scored: DataFrame, k: int, *, id_col: str) -> DataFrame:
    """Deterministic (rank, id) order + LIMIT k -> TakeOrderedAndProject.

    Ties broken by id ascending, matching the reference heap order
    (flat.rs:27-46). Rank keys sort NULLS LAST (here and in every merge
    window below): Collection validates vectors at ingest, but a direct
    operator caller with a malformed row would otherwise see its
    null-ranked garbage FIRST under Spark's default asc — crowding out
    every real result instead of none."""
    return scored.orderBy(
        F.col("_rank").asc_nulls_last(), F.col(id_col).asc()
    ).limit(k)


def score_columns(
    metric: str, raw: Column, score_mode: str = "raw"
) -> tuple[Column, Column, Column]:
    """(rank, score, distance) columns from a raw metric value."""
    rank = K.rank_value(metric, raw)
    score, dist = K.result_values(metric, raw, score_mode)
    return rank, score, dist


def _staged_raw(df: DataFrame, raw: Column, keep: list[Column]) -> DataFrame:
    """Materialize the raw metric value ONCE per row in a pinned projection.

    rank/score/distance are all CASE exprs over the raw value; after
    CollapseProject inlines the kernel into each consumer, cosine's
    struct-accumulator fold appears ~12x in the final Project — and
    higher-order functions are CodegenFallback (interpreted, no codegen
    subexpression elimination), so every copy runs. The non-deterministic
    `_pin` column keeps this projection from collapsing into the consumer:
    the fold runs once and consumers read the materialized double."""
    return df.select(
        *keep,
        raw.alias("_raw"),
        F.monotonically_increasing_id().alias("_pin"),
    )


def flat_topk(
    coll: DataFrame,
    query: list[float],
    *,
    metric: str = "cosine",
    k: int = 10,
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Exact flat top-k (Q1). Scores every row, keeps best k by (rank, id).

    ``pre_normalized=True`` reproduces the collection path where cosine is a
    plain dot over unit vectors (distances.rs:47-51); pass False to use the
    true-cosine kernel on raw vectors.
    """
    metric = K.canonical_metric(metric)
    raw = K.raw_metric(metric, F.col(vector_col), _query_lit(query), pre_normalized=pre_normalized)
    cols = [F.col(id_col)] + [F.col(c) for c in (extra_cols or [])]
    staged = _staged_raw(coll, raw, cols)
    rank, score, dist = score_columns(metric, F.col("_raw"), score_mode)
    scored = staged.select(
        *cols,
        rank.alias("_rank"),
        score.alias("score"),
        dist.alias("distance"),
    )
    return _ordered_topk(scored, k, id_col=id_col).drop("_rank")


def flat_range(
    coll: DataFrame,
    query: list[float],
    *,
    metric: str = "cosine",
    max_distance: float | None = None,
    min_score: float | None = None,
    limit: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Range search: ALL rows within a distance/score threshold, best
    first — the radius companion to `flat_topk` (every vector store pairs
    its top-k with a within-radius query; the reference's surface is
    top-k-only, so this is part of the Spark superset, like `where=`).

    Exactly one of `max_distance` / `min_score` must be given; the
    threshold is applied to the SAME score_columns the top-k path
    returns, so `range + limit k` == `flat_topk` restricted to the
    radius. The threshold filter sits directly above the scoring
    projection — a plain codegen predicate; with `limit` the plan is
    still TakeOrderedAndProject, without it the best-first order is a
    range exchange over just the MATCHING rows (the result is unbounded
    by construction — it scales with how many rows match, the point of a
    radius query — so pass a cap when feeding driver-side consumers)."""
    if (max_distance is None) == (min_score is None):
        raise ValueError("give exactly one of max_distance / min_score")
    metric = K.canonical_metric(metric)
    raw = K.raw_metric(
        metric, F.col(vector_col), _query_lit(query), pre_normalized=pre_normalized
    )
    cols = [F.col(id_col)] + [F.col(c) for c in (extra_cols or [])]
    staged = _staged_raw(coll, raw, cols)
    rank, score, dist = score_columns(metric, F.col("_raw"), score_mode)
    scored = staged.select(
        *cols,
        rank.alias("_rank"),
        score.alias("score"),
        dist.alias("distance"),
    )
    if max_distance is not None:
        scored = scored.filter(F.col("distance") <= F.lit(float(max_distance)))
    else:
        scored = scored.filter(F.col("score") >= F.lit(float(min_score)))
    out = scored.orderBy(F.col("_rank").asc_nulls_last(), F.col(id_col).asc())
    if limit is not None:
        out = out.limit(limit)
    return out.drop("_rank")


def prefix_topk(
    coll: DataFrame,
    query: list[float],
    *,
    dims: int,
    metric: str = "cosine",
    k: int = 10,
    id_col: str = "id",
    vector_col: str = "vector",
) -> DataFrame:
    """Prefix (Matryoshka) top-k (Q2, search.rs:38-73): score only the first
    `dims` coordinates; cosine uses the TRUE cosine kernel on the prefix
    (search.rs:56-58). Returns (id, _rank) candidates ordered by (rank, id)."""
    metric = K.canonical_metric(metric)
    pv = F.slice(F.col(vector_col), 1, dims)
    pq = F.slice(_query_lit(query), 1, dims)
    raw = K.raw_metric(metric, pv, pq, pre_normalized=False)
    scored = coll.select(F.col(id_col), K.rank_value(metric, raw).alias("_rank"))
    return _ordered_topk(scored, k, id_col=id_col)


def binary_topk(
    coll: DataFrame,
    query_bits: Column,
    *,
    dims: int,
    k: int,
    id_col: str = "id",
    binary_col: str = "binary_vector",
) -> DataFrame:
    """Packed-Hamming candidate top-k (Q3, search.rs:76-92)."""
    raw = K.packed_hamming(F.col(binary_col), query_bits, dims)
    scored = coll.select(F.col(id_col), raw.alias("_rank"))
    return _ordered_topk(scored, k, id_col=id_col)


def exact_rerank(
    coll: DataFrame,
    candidates: DataFrame,
    query: list[float],
    *,
    metric: str,
    k: int,
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Hydrate candidate ids against the collection (broadcast semi-join; the
    Spark analog of the reference's ETS hydration, index/flat.ex:72-91) and
    re-score with full vectors (collection.ex:819-826)."""
    cand_ids = candidates.select(id_col).distinct()
    pruned = coll.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
    return flat_topk(
        pruned,
        query,
        metric=metric,
        k=k,
        id_col=id_col,
        vector_col=vector_col,
        score_mode=score_mode,
        pre_normalized=pre_normalized,
        extra_cols=extra_cols,
    )


def quantized_search(
    coll: DataFrame,
    query: list[float],
    *,
    dims: int,
    metric: str = "cosine",
    k: int = 10,
    candidates: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    binary_col: str = "binary_vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Two-stage binary-quantized search (Q4, collection.ex:263-295):
    sign-compress the query, packed-Hamming top-`candidates`, then exact
    rerank to `k` with full vectors."""
    c = candidates if candidates is not None else max(k * 10, k)
    qb = _pack_query_bits(query)
    cand = binary_topk(
        coll, qb, dims=dims, k=c, id_col=id_col, binary_col=binary_col
    )
    return exact_rerank(
        coll,
        cand,
        query,
        metric=metric,
        k=k,
        id_col=id_col,
        vector_col=vector_col,
        score_mode=score_mode,
        pre_normalized=pre_normalized,
    )


def _pack_query_bits(query: list[float]) -> Column:
    """Driver-side sign-bit packing of the (small) query vector — literal
    array<long>, identical bit layout to kernels.compress_sign_bits."""
    words = [0] * ((len(query) + 63) // 64)
    for i, x in enumerate(query):
        if x >= 0.0:
            words[i // 64] |= 1 << (i % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return F.array(*[F.lit(w).cast("long") for w in words])


def funnel_search(
    coll: DataFrame,
    query: list[float],
    *,
    dims: int,
    stages: list[int] | None = None,
    metric: str = "cosine",
    k: int = 10,
    candidates: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Matryoshka funnel search (Q5, collection.ex:233-260, 660-691):
    iteratively shrink the candidate set scoring vector *prefixes*, then
    exact-rerank on full vectors. Default stage = [min(dims, 128)]; default
    candidates = max(k*10, k). Stages validated 0 < s <= dims ascending
    (collection.ex:904-913)."""
    c = candidates if candidates is not None else max(k * 10, k)
    stages = list(stages) if stages else [min(dims, 128)]
    for s in stages:
        if not (0 < s <= dims):
            raise ValueError(f"funnel stage {s} out of range (0, {dims}]")
    current = coll
    for s in stages:
        cand = prefix_topk(
            current, query, dims=s, metric=metric, k=c,
            id_col=id_col, vector_col=vector_col,
        )
        current = coll.join(
            F.broadcast(cand.select(id_col)), on=id_col, how="left_semi"
        )
    return exact_rerank(
        coll,
        current.select(id_col),
        query,
        metric=metric,
        k=k,
        id_col=id_col,
        vector_col=vector_col,
        score_mode=score_mode,
        pre_normalized=pre_normalized,
    )


def union_candidates(cands: list[DataFrame], *, id_col: str = "id") -> DataFrame:
    """Deduplicated union of candidate id sets from generators.

    The reference's union keeps the FIRST occurrence's row
    (collection.ex:617-629) because its generators carry scores; here
    every hybrid path exact-reranks the candidate SET afterwards
    (hybrid_search whitelists rerank in {exact, multi_vector}), so
    generator order never survives into results and the union is a plain
    distinct — no tag column, no min aggregate."""
    out = cands[0].select(id_col)
    for c in cands[1:]:
        out = out.unionByName(c.select(id_col))
    return out.distinct()


def hybrid_search(
    coll: DataFrame,
    query: list[float],
    *,
    dims: int,
    generators: list[str] | None = None,
    metric: str = "cosine",
    k: int = 10,
    candidates: int | None = None,
    rerank: str = "exact",
    rerank_query_vectors: list[list[float]] | None = None,
    rerank_metric: str | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    binary_col: str = "binary_vector",
    vectors_col: str = "vectors",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Hybrid retrieve-then-rerank (Q9, collection.ex:326-348, 512-658):
    run N candidate generators, union-dedup ids, rerank `exact` or
    `multi_vector`. Default generators = [funnel, quantized]; per-generator
    candidate budget = max(k*10, k) (collection.ex:509-510)."""
    from vettore_spark.operators import multivector as MV

    gens = generators or ["funnel", "quantized"]
    c = candidates if candidates is not None else max(k * 10, k)
    branches = []
    for g in gens:
        if g == "funnel":
            branches.append(
                prefix_topk(
                    coll, query, dims=min(dims, 128), metric=metric, k=c,
                    id_col=id_col, vector_col=vector_col,
                )
            )
        elif g == "quantized":
            qb = _pack_query_bits(query)
            branches.append(
                binary_topk(coll, qb, dims=dims, k=c, id_col=id_col, binary_col=binary_col)
            )
        elif g in ("search", "flat"):
            branches.append(
                flat_topk(
                    coll, query, metric=metric, k=c, id_col=id_col,
                    vector_col=vector_col, pre_normalized=pre_normalized,
                ).select(id_col)
            )
        else:
            raise ValueError(f"unknown generator: {g!r}")
    cand = union_candidates(branches, id_col=id_col)
    if rerank == "exact":
        return exact_rerank(
            coll, cand, query, metric=metric, k=k, id_col=id_col,
            vector_col=vector_col, score_mode=score_mode,
            pre_normalized=pre_normalized,
        )
    if rerank == "multi_vector":
        if not rerank_query_vectors:
            raise ValueError("multi_vector rerank requires rerank_query_vectors")
        pruned = coll.join(F.broadcast(cand.select(id_col)), on=id_col, how="left_semi")
        return MV.maxsim_topk(
            pruned,
            rerank_query_vectors,
            metric=rerank_metric or metric,
            k=k,
            id_col=id_col,
            vectors_col=vectors_col,
            vector_col=vector_col,
        )
    raise ValueError(f"unknown rerank mode: {rerank!r}")


def multi_query_quantized(
    queries: DataFrame,
    coll: DataFrame,
    *,
    dims: int,
    metric: str = "cosine",
    k: int = 10,
    candidates: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    id_col: str = "id",
    vector_col: str = "vector",
    binary_col: str = "binary_vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
    stage1: str = "expr",
) -> DataFrame:
    """Batched two-stage quantized search: the multi-query generalization of
    Q4 (the reference is one query per call; SURVEY §2.3 J3 is the batch
    idiom).

    Stage 1 takes per-query sign-bit Hamming top-C; stage 2 joins the small
    (query, id) candidate set back to full vectors for the exact rerank.
    Shuffled data is O(queries * candidates), never O(rows).

    Two stage-1 physical strategies with identical candidate sets:
    - `stage1="expr"`: broadcast the queries' packed sign bits and fold
      packed Hamming per pair (pure Column expressions over the stored
      `binary_col`; the scan reads ONLY (id, binary_vector)).
    - `stage1="arrow"`: Arrow-batched sign-mismatch GEMM straight off the
      float vectors (operators/ann.hamming_brute_topk) — no bit-packing
      pass over the collection at all, and 10-100x faster per pair than
      the interpreted fold once rows x queries is large (SURVEY §4 P4)."""
    metric = K.canonical_metric(metric)
    c = candidates if candidates is not None else max(k * 10, k)

    qbits = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        K.compress_sign_bits(F.col(query_vec_col).cast("array<double>"), dims).alias("_qb"),
    )
    if stage1 == "arrow":
        from vettore_spark.operators import ann as _ann

        cand = _ann.hamming_brute_topk(
            coll, queries, k=c,
            id_col=id_col, vector_col=vector_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        ).select(query_id_col, id_col)
    else:
        ham = coll.select(id_col, binary_col).crossJoin(
            F.broadcast(qbits.select(query_id_col, "_qb"))
        )
        raw1 = K.packed_hamming(F.col(binary_col), F.col("_qb"), dims)
        w1 = Window.partitionBy(query_id_col).orderBy(
            raw1.asc_nulls_last(), F.col(id_col).asc()
        )
        cand = (
            ham.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= c)
            .select(query_id_col, id_col)
        )

    rejoined = (
        coll.select(id_col, vector_col)
        .join(F.broadcast(cand), on=id_col)
        .join(F.broadcast(qbits.select(query_id_col, query_vec_col)), on=query_id_col)
    )
    raw2 = K.raw_metric(
        metric, F.col(vector_col), F.col(query_vec_col), pre_normalized=pre_normalized
    )
    # stage the raw fold like every other scoring path: rank/score/dist
    # are three CASE exprs over it, and an unstaged interpreted HOF fold
    # would run three times per candidate row
    staged2 = _staged_raw(
        rejoined, raw2, [F.col(query_id_col), F.col(id_col)]
    )
    rank, score, dist = score_columns(metric, F.col("_raw"), score_mode)
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("_rank").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        staged2.select(
            F.col(query_id_col),
            F.col(id_col),
            rank.alias("_rank"),
            score.alias("score"),
            dist.alias("distance"),
        )
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
        .drop("_rank")
    )


def multi_query_topk(
    queries: DataFrame,
    coll: DataFrame,
    *,
    metric: str = "cosine",
    k: int = 10,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Batched similarity join (J3): every query scored against the whole
    collection, per-query top-k. The Spark-native generalization of the
    reference's one-query-at-a-time API (SURVEY §2.3 J3).

    The small query set is broadcast against the (arbitrarily large)
    collection; per-query top-k is a window with rank<=k, which Catalyst
    pushes down as a per-partition group-limit before the shuffle."""
    metric = K.canonical_metric(metric)
    joined = coll.crossJoin(F.broadcast(queries))
    raw = K.raw_metric(
        metric, F.col(vector_col), F.col(query_vec_col), pre_normalized=pre_normalized
    )
    staged = _staged_raw(joined, raw, [F.col(query_id_col), F.col(id_col)])
    rank, score, dist = score_columns(metric, F.col("_raw"), score_mode)
    scored = staged.select(
        F.col(query_id_col),
        F.col(id_col),
        rank.alias("_rank"),
        score.alias("score"),
        dist.alias("distance"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_rank").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
        .drop("_rank")
    )


def multi_query_range(
    queries: DataFrame,
    coll: DataFrame,
    *,
    metric: str = "cosine",
    max_distance: float | None = None,
    min_score: float | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    id_col: str = "id",
    vector_col: str = "vector",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Batched radius search: every query's within-threshold matches in
    ONE pass over the collection — `multi_query_topk`'s radius twin, and
    the serving shape for thousands of simultaneous radius queries
    against 100 TB (one broadcast + one scan, instead of a Spark job per
    query).

    Unlike the top-k batch there is no per-query window at all: the
    threshold is a plain codegen filter over the scored broadcast join,
    so the plan is scan → filter — NO shuffle of the collection, and the
    output size scales with total matches. Rows come back unordered
    (global order would range-exchange the matches; order per query at
    the consumer if needed). Output: (query_id, id, score, distance)."""
    if (max_distance is None) == (min_score is None):
        raise ValueError("give exactly one of max_distance / min_score")
    metric = K.canonical_metric(metric)
    joined = coll.crossJoin(F.broadcast(queries))
    raw = K.raw_metric(
        metric, F.col(vector_col), F.col(query_vec_col), pre_normalized=pre_normalized
    )
    staged = _staged_raw(joined, raw, [F.col(query_id_col), F.col(id_col)])
    _, score, dist = score_columns(metric, F.col("_raw"), score_mode)
    scored = staged.select(
        F.col(query_id_col),
        F.col(id_col),
        score.alias("score"),
        dist.alias("distance"),
    )
    if max_distance is not None:
        return scored.filter(F.col("distance") <= F.lit(float(max_distance)))
    return scored.filter(F.col("score") >= F.lit(float(min_score)))
