"""Deterministic mergeable sketches: KMV (k-minimum-values) distinct
counting with set operations, and a count-min sketch for heavy-hitter
frequency estimation.

At 100 TB exact count-distinct is a full shuffle of every distinct key and
exact frequency ranking shuffles every row; the sketch versions ship a
bounded summary instead (k longs per group for KMV, depth x width counters
for CMS), merge associatively across partitions/corpora, and answer with
bounded relative error. Both constructions here are DETERMINISTIC — the
hash is an md5-derived 60-bit integer, no RNG — so the same input yields
the same sketch on any engine, and the DuckDB oracle reproduces every
estimate bit-for-bit (the driver's correctness gate covers them like any
exact query).

Spark shapes (nothing leaves the cluster):
  - KMV bottom-k per group = distinct hash -> row_number window with a
    rank filter, which Spark 3.5+ plans as WindowGroupLimit: the top-k is
    taken per map partition BEFORE the shuffle, so a group with a billion
    distinct keys moves only k rows per input partition.
  - CMS = one groupBy over (depth, bucket) with map-side partial sums;
    the finished sketch is depth*width rows regardless of input size and
    broadcasts into lookups.

References: Bar-Yossef et al. 2002 (KMV / bottom-k estimator), Beyer et
al. SIGMOD'07 (unbiased (k-1)/r_k form and sketch set operations), Cormode
& Muthukrishnan 2005 (count-min). Reference parity: the reference engine
has no sketch family — this extends the training-data-pipeline surface
(cardinality & frequency profiling of corpora) the brief asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vettore_spark.functions import kernels as K

# 60-bit hash domain: 15 lowercase-hex chars of md5. Fits a signed 64-bit
# integer exactly in both engines (conv(...,16,10) on Spark,
# ('0x'||h)::BIGINT on DuckDB), and 2^60 draws are collision-safe far past
# any realistic k (P[collision in bottom-256 of 10^12 keys] ~ 1e-13).
_HEX_DIGITS = 15
_DOMAIN = float(16 ** _HEX_DIGITS)


def hash60(key: Column | str, *, salt: str = "") -> Column:
    """Uniform 60-bit draw for a key: first 15 hex chars of
    md5(salt || key) as a long. The SQL twin is
    ('0x' || substr(md5(salt || key), 1, 15))::BIGINT."""
    c = F.col(key) if isinstance(key, str) else key
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, _HEX_DIGITS),
        16,
        10,
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    *,
    k: int = 256,
    group_by: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """The k smallest distinct key hashes per group: rows of
    (group..., pos, h) with pos in [1, k]. This IS the mergeable summary —
    union two sketches by re-taking the bottom-k of their union
    (kmv_merge); estimate cardinality with kmv_estimate.

    Plan: distinct on (group, h) — the only full shuffle, on the hash so
    it cannot skew — then a row_number window that Spark executes with
    WindowGroupLimit (per-partition bottom-k before the exchange)."""
    if k < 2:
        raise ValueError("kmv needs k >= 2 (the estimator divides by k-1)")
    gb = list(group_by or [])
    hashed = df.select(*gb, hash60(key_col, salt=salt).alias("h")).distinct()
    w = Window.partitionBy(*[F.col(g) for g in gb]).orderBy(F.col("h").asc())
    return (
        hashed.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select(*gb, "pos", "h")
    )


def kmv_merge(a: DataFrame, b: DataFrame, *, k: int, group_by: list[str] | None = None) -> DataFrame:
    """Union of two KMV sketches over the same hash function: bottom-k of
    the combined hash sets (positions recomputed). The result is exactly
    the sketch of the unioned inputs — the associativity that makes KMV a
    distributed-aggregation-friendly summary."""
    gb = list(group_by or [])
    both = a.select(*gb, "h").unionByName(b.select(*gb, "h")).distinct()
    w = Window.partitionBy(*[F.col(g) for g in gb]).orderBy(F.col("h").asc())
    return (
        both.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select(*gb, "pos", "h")
    )


def kmv_estimate(
    sketch: DataFrame, *, k: int, group_by: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate per group from a KMV sketch: when the group
    saturated its sketch (n_kept == k), the unbiased bottom-k estimator
    (k-1) / r_k with r_k = h_k / 2^60; otherwise the sketch holds EVERY
    distinct hash and the answer is exact (n_kept). One tiny aggregate
    over <= k rows per group. Output: group..., est_distinct (double,
    3 dp — both engines divide identical doubles, so the round matches).

    `k` MUST equal the k the sketch was built with: the estimator applies
    (k-1)/r_k at rank k, so a mismatched k silently biases the estimate.
    The detectable direction (sketch rows beyond the claimed k) fails the
    job via raise_error; the other direction (claimed k larger than the
    build k) is indistinguishable from an unsaturated sketch — carry the
    build k with the sketch in calling code."""
    gb = list(group_by or [])
    agg = sketch.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("h").alias("_hk"),
        F.max("pos").alias("_maxpos"),
    )
    est = F.when(
        F.col("_maxpos") > k,
        F.raise_error(
            F.lit(f"kmv_estimate: sketch holds positions beyond k={k}; "
                  "pass the k the sketch was built with")
        ).cast("double"),
    ).when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(_DOMAIN)) / F.col("_hk").cast("double")
    )
    return agg.select(*gb, F.round(est, 3).alias("est_distinct"))


def kmv_overlap(
    a: DataFrame,
    b: DataFrame,
    *,
    k: int,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Set-operation estimates between two sketched key sets: Jaccard from
    the merged sketch (fraction of the union's bottom-k present in BOTH
    inputs — Beyer et al.'s resemblance estimator), the union cardinality
    from the merged sketch, and their product as the intersection
    estimate. All driver-free: two broadcast-sized semi-join flags and one
    aggregate. Output: group..., jaccard, est_union, est_intersection.

    `k` MUST be <= the k both input sketches were built with (bottom-k of
    a bottom-k' set is only the true bottom-k of the underlying set when
    k <= k'); passing a larger k reads hash ranks the inputs never
    retained and biases est_union low."""
    gb = list(group_by or [])
    merged = kmv_merge(a, b, k=k, group_by=group_by)
    # rename BOTH sides' columns before re-joining: the merged sketch is
    # derived from a and b, so bare-name (or ancestor-attribute) joins hit
    # Spark's ambiguous-self-join trap
    ah = a.select(
        *[F.col(g).alias(f"_ga_{g}") for g in gb], F.col("h").alias("_ha")
    ).distinct()
    bh = b.select(
        *[F.col(g).alias(f"_gb_{g}") for g in gb], F.col("h").alias("_hb")
    ).distinct()
    on_a = [F.col(g) == F.col(f"_ga_{g}") for g in gb] + [F.col("h") == F.col("_ha")]
    on_b = [F.col(g) == F.col(f"_gb_{g}") for g in gb] + [F.col("h") == F.col("_hb")]
    from functools import reduce

    flagged = (
        merged.join(ah, reduce(lambda x, y: x & y, on_a), "left")
        .join(bh, reduce(lambda x, y: x & y, on_b), "left")
        .select(
            *gb,
            "h",
            (F.col("_ha").isNotNull() & F.col("_hb").isNotNull()).alias("_both"),
        )
    )
    agg = flagged.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("h").alias("_hk"),
        F.sum(F.col("_both").cast("long")).alias("_nboth"),
    )
    est_union = F.when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(_DOMAIN)) / F.col("_hk").cast("double")
    )
    jac = F.col("_nboth").cast("double") / F.col("_n").cast("double")
    return agg.select(
        *gb,
        F.round(jac, 5).alias("jaccard"),
        F.round(est_union, 3).alias("est_union"),
        F.round(jac * est_union, 3).alias("est_intersection"),
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Count-min sketch of key frequencies: `depth` independent hash rows
    of `width` counters. One explode of a depth-literal array and one
    groupBy over (d, bucket) — map-side partial sums shrink every input
    partition to at most depth*width counter rows before the (tiny)
    shuffle. Output: (d, bucket, cnt)."""
    if depth < 1 or width < 2:
        raise ValueError("cms needs depth >= 1 and width >= 2")
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        # counters are integral longs: a fractional weight column would
        # silently truncate toward zero at the cast and break the
        # count-min est >= truth guarantee — reject it at plan-build time
        # (schema check, no scan). NULL weights count as zero (explicit
        # coalesce, not the silent sum-skips-NULL default).
        wt = dict(df.dtypes).get(weight_col)
        if wt is None or any(t in wt for t in ("float", "double", "decimal")):
            raise ValueError(
                f"cms weight_col must be an integral column, got {weight_col}:{wt}; "
                "quantize fractional weights before sketching"
            )
        w = F.coalesce(F.col(weight_col).cast("long"), F.lit(0).cast("long"))
    rows = df.select(
        F.col(key_col).cast("string").alias("_key"), w.alias("_w")
    ).withColumn("d", F.explode(F.array(*[F.lit(i) for i in range(depth)])))
    bucket = F.pmod(
        hash60(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("_key")), salt=salt),
        F.lit(width),
    ).cast("int")
    return (
        rows.withColumn("bucket", bucket)
        .groupBy("d", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_lookup(
    cms: DataFrame,
    items: DataFrame,
    key_col: str,
    *,
    depth: int,
    width: int,
    salt: str = "",
) -> DataFrame:
    """Frequency estimate for each item: min over the depth rows of the
    counter its key hashes to (the count-min guarantee: est >= truth,
    over by at most eps*N with probability 1-delta). The sketch is
    depth*width rows — it broadcasts; the items side never shuffles.
    Output: items' columns + est_cnt (long)."""
    probes = items.withColumn(
        "d", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    ).withColumn(
        "bucket",
        F.pmod(
            hash60(
                F.concat(
                    F.col("d").cast("string"),
                    F.lit(":"),
                    F.col(key_col).cast("string"),
                ),
                salt=salt,
            ),
            F.lit(width),
        ).cast("int"),
    )
    joined = probes.join(F.broadcast(cms), ["d", "bucket"], "left").withColumn(
        "_c", F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
    )
    item_cols = [c for c in items.columns]
    return (
        joined.groupBy(*item_cols)
        .agg(F.min("_c").cast("long").alias("est_cnt"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: list[float],
    *,
    bucket_width: float,
    group_by: list[str] | None = None,
    precision: int = 4,
) -> DataFrame:
    """Mergeable fixed-boundary histogram quantile ESTIMATE — the 100 TB
    replacement for exact per-group sort percentiles (`percentile()`
    sorts every group's values; this ships one counter per occupied
    bucket through the shuffle, so cost depends on the value RANGE, not
    the row count, and two histograms merge by adding counts — the same
    mergeability contract as KMV/CMS).

    One pass: bucket = floor(value / w) -> groupBy(group, bucket) count
    (map-side combined) -> per-group cumulative window over <= n_buckets
    rows -> linear interpolation inside the target bucket:
        est(q) = bucket_lo + w * (q*n - cum_below) / bucket_count
    Deterministic double arithmetic (no sampling), so a SQL engine
    reproduces the estimate bit-for-bit; max error is bucket_width
    (uniform-within-bucket assumption). Output: group..., q, est.
    """
    if not quantiles:
        raise ValueError("need at least one quantile")
    if not all(0.0 < q < 1.0 for q in quantiles):
        raise ValueError("quantiles must be in (0, 1)")
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    gb = list(group_by or [])
    w = float(bucket_width)
    # quantiles are over FINITE values only (r12): a NULL value floors to
    # a NULL bucket that sorts FIRST under the cumulative window (shifting
    # every estimate), and a NaN/inf double cast to long lands in bucket 0
    # / long-max — all three silently distort every quantile of the group.
    # The streaming twin drops the same rows (np.isfinite), keeping
    # batch/stream parity.
    v = F.col(value_col).cast("double")
    hist = (
        df.filter(v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf")))
        .select(
            *gb,
            F.floor(v / F.lit(w)).cast("long").alias("_b"),
        )
        .groupBy(*gb, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy(*[F.col(g) for g in gb])
        .orderBy(F.col("_b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy(*[F.col(g) for g in gb])
    cum = hist.withColumn("_cum", F.sum("_c").over(win)).withColumn(
        "_n", F.sum("_c").over(full)
    )
    qcol = F.explode(K.double_array_lit(sorted(quantiles))).alias("q")
    probed = cum.select(*gb, "_b", "_c", "_cum", "_n", qcol)
    t = F.col("q") * F.col("_n").cast("double")
    # the target bucket: first bucket whose cumulative reaches t
    # (cum_below < t <= cum); t == 0 cannot happen for q > 0
    hit = probed.filter(
        ((F.col("_cum") - F.col("_c")).cast("double") < t)
        & (t <= F.col("_cum").cast("double"))
    )
    est = F.col("_b").cast("double") * F.lit(w) + F.lit(w) * (
        (t - (F.col("_cum") - F.col("_c")).cast("double"))
        / F.col("_c").cast("double")
    )
    return hit.select(
        *gb, F.col("q"), F.round(est, precision).alias("est")
    )
