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
- Candidate joins (rerank stages) are broadcast semi-joins of small
  candidate id-sets against the collection; a Collection's single-query
  two-stage request carries the candidates' vectors instead, one scan
  and one job (`two_stage_sql`).
- Every top-k operator ranks by ONE order, `rank_order` (rank key asc NULLS
  LAST, then id); partial top-k per partition merge through one per-query
  window, `rank_per_query` — the partition-local-then-global shape.
- A Collection serves one query from ONE SQL text (`*_sql` twins of the
  operators, spliced from `kernels` text): no per-Column py4j round trips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vettore_spark.functions import kernels as K
from vettore_spark.plans.spread import pin_sql


def single_query_frame(spark, query: list[float], query_id: str = "q0") -> DataFrame:
    """One-row (query_id string, query_vector array<double>) frame built in
    the JVM: a literal projection over a one-row inline table, which the
    optimizer folds into a local relation. A collect of it runs no job and
    a broadcast of it one task, where `createDataFrame([...])` ships a
    Python list and scans it in one task per default-parallelism slice."""
    return spark.sql("VALUES (0)").select(
        F.lit(query_id).alias("query_id"),
        K.double_array_lit(query).alias("query_vector"),
    )


def rank_order(key: Column | str, id_col: str) -> list[Column]:
    """The result order of every top-k operator: rank key ascending NULLS
    LAST, ties by id ascending — the reference's (rank, id) heap order
    (distances.rs:113-119, flat.rs:27-46). NULLS LAST because a
    non-finite metric value ranks NULL (K.rank_value), and Spark's
    default asc would put such garbage FIRST. `rank_order_sql` is its
    ORDER BY text."""
    key = F.col(key) if isinstance(key, str) else key
    return [key.asc_nulls_last(), F.col(id_col).asc()]


def rank_order_sql(key: str, id_col: str) -> str:
    """`rank_order` as ORDER BY text."""
    return f"{key} ASC NULLS LAST, {id_col} ASC"


def rank_per_query(
    df: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    id_col: str = "id",
    key: str = "_rank",
) -> DataFrame:
    """Per-query top-k under `rank_order`: an int `rank` column numbered
    1..k per query (row_number, so ties never share or skip a rank), rows
    past k dropped, and the private `_rank` key column, when present,
    dropped. A `rank` column already on `df` is replaced in place. `key`
    is SQL text (a column or an expression over `df`).
    `rank <= k` over a row_number window plans as WindowGroupLimit: each
    partition cuts its own top-k below the shuffle."""
    return (
        df.withColumn("rank", F.expr(_rank_sql(key, id_col, query_id_col)))
        .filter(f"rank <= {k}")
        .drop("_rank")
    )


def _rank_sql(key: str, id_col: str, query_id_col: str | None) -> str:
    """The `rank` window of `rank_per_query` as SQL text."""
    part = f"PARTITION BY {query_id_col} " if query_id_col else ""
    return f"row_number() OVER ({part}ORDER BY {rank_order_sql(key, id_col)})"


def rank_per_query_sql(
    rel: str, k: int, *, cols: list[str], query_id_col: str | None = "query_id",
    id_col: str = "id", key: str = "_rank",
) -> str:
    """`rank_per_query` as SQL text over the relation `rel`: (cols...,
    rank); `query_id_col=None` ranks the rows of one query."""
    return (
        f"SELECT {', '.join(cols)}, rank FROM (SELECT *, "
        f"{_rank_sql(key, id_col, query_id_col)} AS rank FROM {rel}) WHERE rank <= {k}"
    )


def _ordered_topk(scored: DataFrame, k: int, *, id_col: str) -> DataFrame:
    """`rank_order` + LIMIT k -> TakeOrderedAndProject (single query)."""
    return scored.orderBy(*rank_order("_rank", id_col)).limit(k)


def _score_exprs(
    raw: str, keep: list[str], *, metric: str, score_mode: str = "raw",
    streaming: bool = False,
) -> tuple[list[str], list[str]]:
    """The two projections of a scored row set, as SQL select items: the
    raw metric materialized ONCE per row, then (keep..., _rank, score,
    distance) reading it. rank/score/distance are CASE exprs over the raw
    value; inlined by CollapseProject, the interpreted (CodegenFallback)
    kernel fold would run ~12x per row. The non-deterministic `_pin`
    keeps the first projection from collapsing (`plans.spread.pin`)."""
    score, dist = K.result_values.sql(metric, "_raw", score_mode)
    return (
        [*keep, f"{raw} AS _raw", pin_sql(streaming)],
        [*keep, f"{K.rank_value.sql(metric, '_raw')} AS _rank",
         f"{score} AS score", f"{dist} AS distance"],
    )


def _scored_rows(
    df: DataFrame, raw: str, keep: list[str], *, metric: str, score_mode: str = "raw",
) -> DataFrame:
    """`_score_exprs` rows of `df`."""
    stage, scored = _score_exprs(
        raw, keep, metric=metric, score_mode=score_mode, streaming=df.isStreaming
    )
    return df.selectExpr(*stage).selectExpr(*scored)


def topk_sql(
    rel: str, query: list[float], *, metric: str, k: int, score_mode: str = "raw",
    pre_normalized: bool = True, extra_cols: tuple[str, ...] = (), pinned: bool = False,
) -> str:
    """`flat_topk` as one SQL text over the relation `rel` (id, vector,
    extra_cols...): (id, *extra_cols, score, distance), best k first.
    `pinned` carries the scoring projection's `_pin` into the ORDER BY,
    after the unique id (the order is unchanged), so the projection stays
    where it is when `rel` ends in a LIMIT (`two_stage_sql`)."""
    metric = K.canonical_metric(metric)
    raw = K.raw_metric.sql(
        metric, "vector", K.array_lit_sql(query), pre_normalized=pre_normalized
    )
    keep = ["id", *extra_cols]
    stage, scored = _score_exprs(raw, keep, metric=metric, score_mode=score_mode)
    pin = ", _pin" if pinned else ""
    return (
        f"SELECT {', '.join(keep)}, score, distance FROM (SELECT {', '.join(scored)}"
        f"{pin} FROM (SELECT {', '.join(stage)} FROM {rel}) "
        f"ORDER BY {rank_order_sql('_rank', 'id')}{pin} LIMIT {k})"
    )


def two_stage_sql(
    rel: str, proxy: str, query: list[float], *, candidates: int, k: int,
    survivors=None, **topk,
) -> str:
    """One query's two-stage search as one SQL text over the relation
    `rel` (id, vector, ...): the `candidates` rows first by the
    approximate key `proxy` (SQL text over rel's columns, `rank_order`),
    `survivors(relation)` of them when given (a filter over the
    candidates, which carry rel's columns and `_proxy`), then the exact
    top k of those by `topk_sql`: (id, score, distance).

    One scan and one Spark job: the candidate cut plans as a non-root
    TakeOrderedAndProject, whose single-partition exchange runs inside
    the job, and the exact kernel is a projection above it, so only the
    candidates are scored. That projection is `pinned`: Catalyst pushes a
    deterministic projection below a LIMIT (PushProjectionThroughLimit),
    which would score every row, and the pin survives ColumnPruning only
    while the final ORDER BY reads it."""
    cand = (
        f"(SELECT * FROM (SELECT *, {proxy} AS _proxy FROM {rel}) "
        f"ORDER BY {rank_order_sql('_proxy', 'id')} LIMIT {candidates})"
    )
    if survivors is not None:
        cand = survivors(cand)
    return topk_sql(cand, query, k=k, pinned=True, **topk)


def quantized_search_sql(
    rel: str, query: list[float], *, dims: int, k: int,
    candidates: int | None = None, **topk,
) -> str:
    """`quantized_search` as one SQL text over the relation `rel`: packed
    Hamming to the query's sign bits is the `two_stage_sql` proxy."""
    c = candidates if candidates is not None else max(k * 10, k)
    ham = K.packed_hamming.sql("binary_vector", _query_bits_sql(query), dims)
    return two_stage_sql(rel, ham, query, candidates=c, k=k, **topk)


def rerank_pairs(
    cand: DataFrame,
    coll: DataFrame,
    queries: DataFrame,
    *,
    metric: str,
    k: int,
    query_id_col: str,
    query_vec_col: str,
    id_col: str,
    vector_col: str,
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Exact rerank of per-query candidates: the small (query_id, id)
    candidate list and the query table are broadcast against the
    collection (hydration streams the big side, no shuffle of it), each
    pair is scored on full vectors and `rank_per_query` keeps the best k.
    Output: (query_id, id, score, distance, rank)."""
    hydrated = (
        coll.select(id_col, vector_col)
        .join(F.broadcast(cand), on=id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            on=query_id_col,
        )
    )
    raw = K.raw_metric.sql(
        metric, vector_col, query_vec_col, pre_normalized=pre_normalized
    )
    scored = _scored_rows(
        hydrated, raw, [query_id_col, id_col], metric=metric, score_mode=score_mode,
    )
    return rank_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


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
    raw = K.raw_metric.sql(
        metric, vector_col, K.array_lit_sql(query), pre_normalized=pre_normalized
    )
    cols = [id_col, *(extra_cols or [])]
    scored = _scored_rows(coll, raw, cols, metric=metric, score_mode=score_mode)
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
    first — the radius companion to `flat_topk` (a Spark superset of the
    reference's top-k-only surface, like `where=`).

    Exactly one of `max_distance` / `min_score`; the threshold filters
    the SAME scored columns the top-k path returns, so `range + limit k`
    == `flat_topk` restricted to the radius. With `limit` the plan is
    TakeOrderedAndProject; without it the best-first order is a range
    exchange over just the MATCHING rows (unbounded by construction, so
    pass a cap when feeding driver-side consumers)."""
    if (max_distance is None) == (min_score is None):
        raise ValueError("give exactly one of max_distance / min_score")
    metric = K.canonical_metric(metric)
    raw = K.raw_metric.sql(
        metric, vector_col, K.array_lit_sql(query), pre_normalized=pre_normalized
    )
    cols = [id_col, *(extra_cols or [])]
    scored = _scored_rows(coll, raw, cols, metric=metric, score_mode=score_mode)
    if max_distance is not None:
        scored = scored.filter(F.col("distance") <= F.lit(float(max_distance)))
    else:
        scored = scored.filter(F.col("score") >= F.lit(float(min_score)))
    out = scored.orderBy(*rank_order("_rank", id_col))
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
    raw = K.raw_metric.sql(
        metric, f"slice({vector_col}, 1, {dims})",
        f"slice({K.array_lit_sql(query)}, 1, {dims})", pre_normalized=False,
    )
    scored = coll.selectExpr(id_col, f"{K.rank_value.sql(metric, raw)} AS _rank")
    return _ordered_topk(scored, k, id_col=id_col)


def binary_topk(
    coll: DataFrame,
    query_bits: Column | str,
    *,
    dims: int,
    k: int,
    id_col: str = "id",
    binary_col: str = "binary_vector",
) -> DataFrame:
    """Packed-Hamming candidate top-k (Q3, search.rs:76-92)."""
    raw = K.packed_hamming.sql(binary_col, query_bits, dims)
    scored = coll.selectExpr(id_col, f"{raw} AS _rank")
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
    cand = binary_topk(
        coll, _query_bits_sql(query), dims=dims, k=c, id_col=id_col, binary_col=binary_col
    )
    return exact_rerank(
        coll, cand, query, metric=metric, k=k, id_col=id_col, vector_col=vector_col,
        score_mode=score_mode, pre_normalized=pre_normalized,
    )


def _query_bits_sql(query: list[float]) -> str:
    """Driver-side sign-bit packing of the (small) query vector — literal
    array<long>, identical bit layout to kernels.compress_sign_bits."""
    words = K.pack_sign_bits_py(query, len(query))
    return "array(" + ", ".join(f"CAST({w} AS BIGINT)" for w in words) + ")"


def _pack_query_bits(query: list[float]) -> Column:
    return F.expr(_query_bits_sql(query))


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
    """Deduplicated union of candidate id sets from generators. The
    reference keeps the FIRST occurrence's row (collection.ex:617-629)
    because its generators carry scores; every hybrid path here reranks
    the candidate SET afterwards, so the union is a plain distinct."""
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
            qb = _query_bits_sql(query)
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
    """Batched two-stage quantized search, the multi-query generalization
    of Q4 (SURVEY §2.3 J3): stage 1 takes per-query sign-bit Hamming
    top-C, stage 2 (`rerank_pairs`) reranks the small (query, id)
    candidate set on full vectors; both rank through `rank_per_query`.
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

    if stage1 == "arrow":
        from vettore_spark.operators import ann as _ann

        cand = _ann.hamming_brute_topk(
            coll, queries, k=c,
            id_col=id_col, vector_col=vector_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        ).select(query_id_col, id_col)
    else:
        qbits = queries.selectExpr(
            query_id_col,
            f"{K.compress_sign_bits.sql(f'CAST({query_vec_col} AS ARRAY<DOUBLE>)', dims)} AS _qb",
        )
        ham = coll.select(id_col, binary_col).crossJoin(F.broadcast(qbits))
        cand = rank_per_query(
            ham, c, query_id_col=query_id_col, id_col=id_col,
            key=K.packed_hamming.sql(binary_col, "_qb", dims),
        ).select(query_id_col, id_col)

    return rerank_pairs(
        cand, coll, queries, metric=metric, k=k,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        id_col=id_col, vector_col=vector_col,
        score_mode=score_mode, pre_normalized=pre_normalized,
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
    collection; per-query top-k is `rank_per_query`, whose rank<=k
    Catalyst pushes down as a per-partition group-limit before the
    shuffle."""
    metric = K.canonical_metric(metric)
    joined = coll.crossJoin(F.broadcast(queries))
    raw = K.raw_metric.sql(
        metric, vector_col, query_vec_col, pre_normalized=pre_normalized
    )
    scored = _scored_rows(
        joined, raw, [query_id_col, id_col], metric=metric, score_mode=score_mode,
    )
    return rank_per_query(scored, k, query_id_col=query_id_col, id_col=id_col)


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
    ONE pass over the collection — `multi_query_topk`'s radius twin (one
    broadcast + one scan, instead of a Spark job per query). No
    per-query window: the threshold is a plain codegen filter over the
    scored broadcast join, so the plan is scan → filter with NO shuffle
    of the collection. Rows come back unordered.
    Output: (query_id, id, score, distance)."""
    if (max_distance is None) == (min_score is None):
        raise ValueError("give exactly one of max_distance / min_score")
    metric = K.canonical_metric(metric)
    joined = coll.crossJoin(F.broadcast(queries))
    raw = K.raw_metric.sql(
        metric, vector_col, query_vec_col, pre_normalized=pre_normalized
    )
    scored = _scored_rows(
        joined, raw, [query_id_col, id_col], metric=metric, score_mode=score_mode,
    ).drop("_rank")
    if max_distance is not None:
        return scored.filter(F.col("distance") <= F.lit(float(max_distance)))
    return scored.filter(F.col("score") >= F.lit(float(min_score)))
