"""Scalar (int8) quantization search: per-dimension min/max training,
uint8 encoding, compressed-domain L2 candidate generation, exact rerank.

The third compression point on the reference's quantization spectrum —
between sign-bit binary (kernels.compress_sign_bits, vettore's
compress_sign_bits path) and product quantization (operators/pq.py): 256
levels per dimension, far less distortion than 1-bit codes, the standard
"SQ8" mode of vector stores. The codes here are not stored compressed:
they are `array<double>` (8 B per dimension, twice an f32 vector), since
the distance fold consumes doubles directly; a writer would cast them to
tinyint (1 B per dimension).

Scale design (100 TB):
- Training is one map-side-combinable aggregate: posexplode to (dim, x) and
  min/max per dim — 64 groups regardless of corpus size; the (dim, lo, hi)
  table is driver-resident by construction (dims rows).
- Encoding is a per-row array expression over broadcast literal params — a
  narrow map; the code table (the rows plus `_codes`) persists beside the
  collection like the sign-bit column (ingest-time derivation, SURVEY §2
  S2).
- Search computes the scaled integer L2 in fixed dim order, and
  TakeOrderedAndProject keeps the exchange at candidates×partitions rows.
  A Collection request reads the code table once: the candidates carry
  their vectors into the exact rerank (`sq_topk_sql`,
  search.two_stage_sql); the DataFrame operator `sq_topk` hydrates them
  from the rows by broadcast semi-join (search.exact_rerank).

Determinism contract (mirrors the DuckDB oracle bit-for-bit): code_i =
clamp(floor((x_i − lo_i)/scale_i + 0.5), 0, 255) computed in f64 with
scale_i = (hi_i − lo_i)/255; distances accumulate left-to-right in dim
order, so both engines see identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vettore_spark.functions import kernels as K
from vettore_spark.operators import search as S
from vettore_spark.operators.search import exact_rerank, rank_order
from vettore_spark.plans.cache import cached_persist
from vettore_spark.plans.spread import pin


def sq_train(
    df: DataFrame, *, vector_col: str = "vector"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the collection — one partial-aggregated
    shuffle of `dims` groups. Returns (mins, maxs) as Python floats (exact
    f32→f64 widening, so literal re-broadcast loses nothing)."""
    rows = (
        df.select(F.posexplode(F.col(vector_col)).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("i")
        .collect()
    )
    return [float(r["mn"]) for r in rows], [float(r["mx"]) for r in rows]


def sq_params(mins: list[float], maxs: list[float]) -> list[float]:
    """Per-dim scale (hi−lo)/255; 0.0 marks a constant dimension (encoded
    as code 0 and contributing nothing to distances)."""
    return [
        (hi - lo) / 255.0 if hi > lo else 0.0 for lo, hi in zip(mins, maxs)
    ]


def _clamp_code(v: Column) -> Column:
    return F.least(F.greatest(F.floor(v + F.lit(0.5)), F.lit(0.0)), F.lit(255.0))


def sq_encode(
    vec: Column, mins: list[float], maxs: list[float]
) -> Column:
    """Encode a vector column to array<double> of integral codes 0..255.
    (Kept as doubles: the distance kernel consumes them directly and the
    integral values are exact in f64; a writer would cast to tinyint.)

    A vector whose length differs from the trained dims encodes to NULL,
    never to a partial code array: zip_with pads the short side with
    nulls and least/greatest SKIP nulls, so without the size guard a
    truncated vector would silently encode its missing dimensions as
    code 0 — an accidentally competitive (often winning) candidate."""
    scales = sq_params(mins, maxs)
    mins_lit = K.double_array_lit(mins)
    scales_lit = K.double_array_lit(scales)
    encoded = F.zip_with(
        F.zip_with(vec.cast("array<double>"), mins_lit, lambda x, m: x - m),
        scales_lit,
        lambda d, s: F.when(s > 0, _clamp_code(d / s)).otherwise(F.lit(0.0)),
    )
    return F.when(F.size(vec) == F.lit(len(mins)), encoded).otherwise(
        F.lit(None).cast("array<double>")
    )


def sq_encode_query(
    query: list[float], mins: list[float], maxs: list[float]
) -> list[float]:
    """Driver-side query encoding with the identical f64 operation chain."""
    import math

    scales = sq_params(mins, maxs)
    out = []
    for x, m, s in zip(query, mins, scales):
        if s > 0:
            out.append(min(max(math.floor((float(x) - m) / s + 0.5), 0.0), 255.0))
        else:
            out.append(0.0)
    return out


def sq_topk(
    coll: DataFrame,
    query: list[float],
    mins: list[float],
    maxs: list[float],
    *,
    k: int = 10,
    candidates: int = 100,
    id_col: str = "id",
    vector_col: str = "vector",
    metric: str = "l2",
    score_mode: str = "raw",
    pre_normalized: bool = True,
) -> DataFrame:
    """Two-stage SQ8 search: scaled-integer L2 over codes → top `candidates`
    by (d2, id) → exact rerank of hydrated vectors with `metric` → top k.

    d2 = Σ_i ((code_i − qcode_i)·scale_i)², accumulated left-to-right in dim
    order (F.aggregate fold) — the de-quantized L2 approximation. The L2
    candidate proxy is exact-order for l2 collections and rank-preserving
    for unit-norm cosine collections (monotone d² = 2 − 2·cos).

    The code table is derived ONCE per (collection, mins, maxs) and kept
    resident via the plans/cache registry (the pq_search pattern): the
    per-dim zip_with encode chain is the expensive part of the scan, and
    re-evaluating it from full vectors on every search made each call
    cost MORE than an exact scan. Searches re-scan the persisted table and
    pay only the distance fold; the codes are array<double>, so that scan
    reads more bytes than the f32 vectors, not fewer. Mutation owners
    invalidate through plans.cache like every derived index."""
    scales = sq_params(mins, maxs)
    qc = sq_encode_query(query, mins, maxs)
    codes_df = cached_persist(
        coll,
        ("sq_codes", id_col, vector_col, tuple(mins), tuple(maxs)),
        lambda s: sq_codes(s, mins, maxs, id_col=id_col, vector_col=vector_col),
    )
    d2 = F.expr(_d2_sql(qc, scales))
    staged = codes_df.select(F.col(id_col), d2.alias("_d2"))
    cand = (
        # a null/length-mismatched vector propagates null through the
        # zip_with fold to _d2; filtered, so it never takes a candidate
        # slot even when fewer than `candidates` rows are real
        staged.filter(F.col("_d2").isNotNull())
        .orderBy(*rank_order("_d2", id_col))
        .limit(candidates)
        .select(id_col)
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


def sq_codes(
    coll: DataFrame, mins: list[float], maxs: list[float], *,
    id_col: str = "id", vector_col: str = "vector",
) -> DataFrame:
    """The code table of `coll`: its rows with their `_codes`. Not
    persisted: the caller owns its residency (`sq_topk` keeps it in the
    plans/cache registry, a Collection's SqBounds holds one per rows
    version)."""
    return coll.select(
        "*", sq_encode(F.col(vector_col), mins, maxs).alias("_codes"), pin(coll),
    )


def _d2_sql(qc: list[float], scales: list[float]) -> str:
    """Σ ((code − qcode)·scale)² over `_codes`, folded left to right."""
    diff = f"zip_with(_codes, {K.array_lit_sql(qc)}, (_a, _b) -> _a - _b)"
    terms = f"zip_with({diff}, {K.array_lit_sql(scales)}, (_d, _c) -> (_d * _c) * (_d * _c))"
    return f"aggregate({terms}, 0.0D, (_acc, _x) -> _acc + _x)"


def sq_topk_sql(
    codes: str, query: list[float], mins: list[float], maxs: list[float],
    *, k: int, candidates: int, **topk,
) -> str:
    """One query's `sq_topk` as one SQL text over the code table `codes`
    (rows with their `_codes`, `sq_codes`): `search.two_stage_sql` with
    the scaled-integer L2 as its proxy. A row whose codes are NULL never
    survives: it ranks last, so it only fills slots no coded row takes,
    and dropping it after the cut equals `sq_topk`'s drop before it."""
    d2 = _d2_sql(sq_encode_query(query, mins, maxs), sq_params(mins, maxs))
    return S.two_stage_sql(
        codes, d2, query, candidates=candidates, k=k,
        survivors=lambda cand: f"(SELECT * FROM {cand} WHERE _proxy IS NOT NULL)",
        **topk,
    )
