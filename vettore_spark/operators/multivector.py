"""Multi-vector (late-interaction / ColBERT MaxSim) operators.

Reference parity:
- chamfer / MaxSim score ....... lib/vettore/multi_vector.ex:26-68,
                                 native/vettore/src/multi_vector.rs:40-87
- multi_vector_top_k ........... native/vettore/src/multi_vector.rs:90-132
- multi_vector_search .......... lib/vettore/collection.ex:298-323, 742-817

Design: the query token set is small and literal, so MaxSim compiles to a
per-row JVM expression — sum over query tokens of array_max over the doc's
token vectors — with NO explode, NO shuffle, NO Python. Top-k is a global
TakeOrderedAndProject. This scales linearly in collection size and is
embarrassingly parallel across partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vettore_spark.functions import kernels as K


def _pair_raw(metric: str, a: str, b: str) -> str:
    """Raw value per MaxSim semantics: cosine uses the TRUE cosine kernel,
    every other metric the standard dispatch (multi_vector.rs:73-79)."""
    m = K.canonical_metric(metric)
    if m == "cosine":
        return K.cosine.sql(a, b)
    return K.raw_metric.sql(m, a, b, pre_normalized=True)


def maxsim_score(
    doc_vectors: Column | str,
    query_vectors: list[list[float]],
    *,
    metric: str = "cosine",
) -> Column:
    """MaxSim: for each query vector take the max similarity_value over the
    doc vectors, sum the maxima; empty doc side -> 0.0
    (multi_vector.rs:40-87). `doc_vectors` is SQL text or a Column."""
    m = K.canonical_metric(metric)
    dv = K._sql(doc_vectors)
    total = "0.0D"
    for q in query_vectors:
        # Stage the per-pair kernel fold in its OWN transform so the
        # K13 value mapper's multiple references to `raw`
        # (_finite_or_null reads it 3x, distance metrics a 4th time)
        # read a materialized array element instead of re-inlining the
        # whole CodegenFallback fold per reference — the same re-inline
        # class the r13 cosine finish-lambda rewrite fixed (~4x). Plan
        # shape pinned in tests/test_hardening_r14.py.
        raws = f"transform({dv}, _d -> {_pair_raw(m, '_d', K.array_lit_sql(q))})"
        best = f"array_max(transform({raws}, _r -> {K.similarity_value.sql(m, '_r')}))"
        total = f"({total} + {best})"
    return F.expr(
        f"CASE WHEN {dv} IS NULL OR size({dv}) = 0 THEN 0.0D ELSE {total} END"
    )


def maxsim_topk(
    coll: DataFrame,
    query_vectors: list[list[float]],
    *,
    metric: str = "cosine",
    k: int = 10,
    id_col: str = "id",
    vectors_col: str = "vectors",
    vector_col: str | None = "vector",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """multi_vector_search (Q8): doc token vectors = `vectors` with a
    `[vector]` fallback (collection.ex:760-771); order by score DESC, id ASC,
    LIMIT k (multi_vector.rs:122-131). Result `distance` is NULL
    (collection.ex:807-817)."""
    if vector_col is not None and vectors_col in coll.columns:
        dv = f"coalesce({vectors_col}, array({vector_col}))"
    elif vectors_col in coll.columns:
        dv = vectors_col
    else:
        dv = f"array({vector_col})"
    score = maxsim_score(
        f"CAST({dv} AS ARRAY<ARRAY<DOUBLE>>)", query_vectors, metric=metric
    )
    cols = [F.col(id_col)] + [F.col(c) for c in (extra_cols or [])]
    scored = coll.select(*cols, score.alias("score"))
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("distance", F.lit(None).cast("double"))
    )
