"""Data-selection operators for training-corpus curation.

Two published selection primitives, both expressed as pure DataFrame plans
(no UDFs, no driver collects) so they hold at corpus scale:

- DSIR-style importance weights (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): score every raw document by
  the log-likelihood ratio of its hashed unigram features under a target
  distribution vs the raw distribution. The feature distributions are two
  tiny (n_buckets-row) aggregates broadcast back over the corpus — the only
  shuffles are the explode-side groupBys, both with map-side partial
  aggregation.

- Target-mixture rebalancing (the "domain weights" step of corpus assembly,
  cf. The Pile / Dolma mixture tables): given target shares per domain,
  compute the largest total size achievable without upsampling, derive each
  domain's keep-fraction, and apply the deterministic md5-draw sample so the
  kept subset is engine-reproducible (same predicate as operators.sampling).

Both are cross-engine verifiable: the polynomial token hash and the md5
draw have exact DuckDB twins (see queries.SQL_DSIR_WEIGHTS /
SQL_DOMAIN_MIXTURE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vettore_spark.operators.dedup import tokens
from vettore_spark.operators.sampling import _bucket_hex


def _bucketed_tokens(
    df: DataFrame, *, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """One row per (doc, token instance) with the token's feature bucket:
    poly-31 hash of the lowercased token mod n_buckets. Empty tokens (from
    splitting all-whitespace text) are dropped, mirroring the oracle's
    `tok <> ''` filter. The raw text is spread across cores first — an
    unsplittable one-row-group parquet input would otherwise evaluate the
    whole explode+hash on one core (plans/spread.py)."""
    from vettore_spark.plans.spread import spread_narrow

    src = spread_narrow(df, [id_col, text_col])
    tok = F.explode(tokens(text_col)).alias("tok")
    exploded = src.select(F.col(id_col), tok).filter(F.col("tok") != "")
    hv = F.aggregate(
        F.split(F.lower(F.col("tok")), ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * 31 + F.ascii(c)) % 2147483647,
    )
    return exploded.select(
        F.col(id_col), (hv % n_buckets).cast("int").alias("bucket")
    )


def dsir_logratio_weights(
    df: DataFrame,
    target_pred: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance weight: sum over token instances of
    ln p_target(bucket) - ln p_raw(bucket), Laplace-smoothed with `alpha`.

    Physical plan: explode tokens ONCE into the persisted (doc, bucket,
    tf) frequency table (its run-length compression — the raw
    token-instance stream is never materialized); bucket counts, their
    totals, and the per-doc weight sum all derive from that table. The
    n_buckets-row log-ratio model broadcasts back. All groupBys are
    partial-agg friendly; nothing touches the driver. Documents whose
    every token is novel still appear (inner join on bucket always hits:
    every observed bucket has raw count > 0).

    Higher weight = more target-like. `target_pred` marks the target
    subset (e.g. lang = 'en', or a quality threshold) — the weight model
    is trained on corpus membership, not labels, exactly the DSIR recipe
    with hashed unigram features standing in for hashed n-grams.
    """
    from vettore_spark.plans.cache import cached_persist

    # ONE tokenize+explode, persisted as the (doc, bucket, tf) frequency
    # table — target-independent, so it is shared across target choices
    # and across the three consumers below (bucket counts, totals, the
    # per-doc sum). The raw token-instance stream is never materialized:
    # tf is its run-length compression (<= docs x n_buckets rows).
    tf = cached_persist(
        df,
        ("dsir_tf", id_col, text_col, n_buckets),
        lambda s: _bucketed_tokens(
            s, id_col=id_col, text_col=text_col, n_buckets=n_buckets
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf")),
    )
    flag = df.select(id_col, target_pred.alias("_is_target"))
    raw = (
        tf.join(flag, on=id_col)
        .groupBy("bucket")
        .agg(
            F.sum("tf").alias("nq"),
            F.sum(F.when(F.col("_is_target"), F.col("tf")).otherwise(0)).alias("nt"),
        )
    )
    totals = raw.agg(
        F.sum("nq").alias("sq"), F.sum("nt").alias("st")
    )
    B = float(n_buckets)
    lr_tbl = raw.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("nt") + alpha) / (F.col("st") + alpha * B))
            - F.log((F.col("nq") + alpha) / (F.col("sq") + alpha * B))
        ).alias("lr"),
    )
    weights = (
        tf.join(F.broadcast(lr_tbl), on="bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr")).alias("_w"),
        )
    )
    return weights.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.col("_w"), 5).alias("dsir_weight"),
        F.round(F.col("_w") / F.col("n_tokens"), 5).alias("dsir_per_token"),
    )


def mixture_keep_fractions(
    df: DataFrame,
    shares: dict[str, float],
    *,
    domain_col: str = "source",
) -> DataFrame:
    """Per-domain keep fractions hitting `shares` exactly without
    upsampling: scale = min_d(count_d / share_d); keep_d = scale * share_d
    / count_d. The binding domain keeps everything (fraction 1.0); every
    other domain is downsampled to match the target mixture. Domains
    absent from `shares` get share 0 (dropped). Returns (domain, n_docs,
    keep_fraction) — an aggregate of ~|domains| rows, broadcast back by
    the caller."""
    share_expr = F.create_map(
        *[F.lit(x) for kv in shares.items() for x in kv]
    )
    counts = (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("share", F.coalesce(share_expr[F.col("domain")], F.lit(0.0)))
    )
    # coalesce(0): shares matching NO observed domain would otherwise make
    # the min aggregate NULL and poison every keep_fraction — 0 cleanly
    # yields keep_fraction 0 everywhere (empty sample), no action needed
    scale = counts.filter(F.col("share") > 0).agg(
        F.coalesce(F.min(F.col("n_docs") / F.col("share")), F.lit(0.0)).alias(
            "scale"
        )
    )
    return counts.crossJoin(F.broadcast(scale)).select(
        "domain",
        "n_docs",
        F.when(F.col("share") <= 0, F.lit(0.0))
        .otherwise(
            F.least(
                F.lit(1.0),
                F.col("scale") * F.col("share") / F.col("n_docs"),
            )
        )
        .alias("keep_fraction"),
    )


def mixture_sample(
    df: DataFrame,
    shares: dict[str, float],
    *,
    id_col: str = "doc_id",
    domain_col: str = "source",
    salt: str = "mix",
    fractions: DataFrame | None = None,
) -> DataFrame:
    """Rows of `df` kept by the target-mixture rebalance: each row draws
    its uniform md5 hex in [0, 16^8) keyed on (salt, id) and survives iff
    draw < keep_fraction * 16^8 for its domain. The fraction-to-threshold
    conversion happens IN-PLAN (conv base-10→16 on the computed fraction),
    so the whole operator is one broadcast join + filter — no driver
    round-trip between the count aggregate and the sample predicate, and
    the DuckDB twin reproduces it with to_hex. The keep-all case is
    guarded on the integer threshold (see inline comment); pass a
    precomputed `fractions` table (from mixture_keep_fractions) to avoid
    re-running the count aggregate when the caller already has it."""
    fr = (
        fractions
        if fractions is not None
        else mixture_keep_fractions(df, shares, domain_col=domain_col)
    )
    thresh_v = F.round(F.col("keep_fraction") * F.lit(float(16**8))).cast("long")
    thresh_hex = F.lpad(F.lower(F.conv(thresh_v.cast("string"), 10, 16)), 8, "0")
    # keep-all guard compares the INTEGER threshold, not the fraction: a
    # keep_fraction one ulp below 1.0 still rounds to 16^8, whose 9-digit
    # hex would be lpad-TRUNCATED to '10000000' and silently keep only
    # 1/16 of the binding domain (the _threshold_hex 'g'-sentinel trap,
    # re-made in-plan)
    fr_cols = fr.select(
        F.col("domain").alias("_mix_domain"),
        F.col("keep_fraction").alias("_mix_kf"),
        thresh_v.alias("_mix_tv"),
        thresh_hex.alias("_mix_th"),
    )
    draw = _bucket_hex(F.col(id_col), salt)
    return (
        df.join(
            F.broadcast(fr_cols),
            on=df[domain_col] == fr_cols["_mix_domain"],
            how="inner",
        )
        .filter(
            (F.col("_mix_tv") >= F.lit(16**8)) | (draw < F.col("_mix_th"))
        )
        .drop("_mix_domain", "_mix_kf", "_mix_tv", "_mix_th")
    )


def semdedup_prune(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cluster_col: str = "label",
    centroid_col: str = "mean",
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023): within each
    cluster, rank members by similarity to the cluster centroid and prune
    any member whose cosine similarity to a better-ranked member exceeds
    `threshold` — keeping one representative per semantic near-dup group
    while never comparing vectors across clusters.

    `centroids` is (cluster_col, centroid_col) — label means here, KMeans
    cells at corpus scale; it broadcasts. The within-cluster pairwise pass
    is a self-join co-partitioned on the cluster key: O(m^2) per cluster,
    the SemDeDup cost model, bounded by capping cluster size at the
    clustering step (the paper uses ~11k/cluster at 5B scale). Ranking is
    by the ROUNDED centroid similarity (5 dp) with id tie-break, so the
    kept/pruned partition is reproducible across engines and runs.

    Returns every input row: (id, cluster, cos_centroid, kept)."""
    from vettore_spark.functions import kernels as K

    scored = emb.join(F.broadcast(centroids), cluster_col).select(
        F.col(id_col),
        F.col(cluster_col),
        F.col(vector_col).alias("_v"),
        F.round(
            K.cosine(f"CAST({vector_col} AS ARRAY<DOUBLE>)", centroid_col), 5
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc("cos_centroid"), F.col(id_col)
    )
    ranked = scored.withColumn("_rk", F.row_number().over(w))
    a = ranked.select(
        F.col(cluster_col).alias("_cl"),
        F.col("_rk").alias("_rka"),
        F.col("_v").alias("_va"),
    )
    b = ranked.select(
        F.col(id_col).alias("_idb"),
        F.col(cluster_col).alias("_cl"),
        F.col("_rk").alias("_rkb"),
        F.col("_v").alias("_vb"),
    )
    pruned = (
        a.join(b, on="_cl")
        .filter(F.col("_rka") < F.col("_rkb"))
        .filter(
            K.cosine("CAST(_va AS ARRAY<DOUBLE>)", "CAST(_vb AS ARRAY<DOUBLE>)")
            >= threshold
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    out = scored.join(pruned, on=id_col, how="left").select(
        id_col,
        cluster_col,
        "cos_centroid",
        F.coalesce(~F.col("_pruned"), F.lit(True)).alias("kept"),
    )
    # honor the "returns every input row" contract: rows whose cluster has
    # no centroid (sampled/partial clustering) pass through kept=true with
    # a NULL centroid similarity instead of silently vanishing from the
    # corpus via the inner centroid join
    orphans = emb.join(
        F.broadcast(centroids.select(cluster_col)), on=cluster_col, how="left_anti"
    ).select(
        F.col(id_col),
        F.col(cluster_col),
        F.lit(None).cast("double").alias("cos_centroid"),
        F.lit(True).alias("kept"),
    )
    return out.unionByName(orphans)


def select_token_budget(
    weights: DataFrame,
    budget: int,
    *,
    id_col: str = "doc_id",
    weight_col: str = "dsir_per_token",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Token-budget-constrained selection: walk documents in (weight desc,
    id asc) order and keep each while the running token total stays within
    `budget` — "assemble the best B tokens" (the selection step after DSIR
    scoring). With positive token counts the prefix sum is monotone, so
    selected == (prefix_sum <= budget): prefix-closed and deterministic.

    Scale shape — NO global per-document window (a single-partition sort of
    the corpus). Two-level cumulative sum instead:
    1. per-WEIGHT-GROUP token totals (one groupBy; the weight column is
       rounded upstream, so groups are few) with a cumulative sum over that
       small aggregate — the only ordered window runs on ~|distinct
       weights| rows;
    2. the group prefix ("tokens before my group") broadcasts back; inside
       each group a window PARTITIONED BY the weight value orders by id —
       bounded by group size, never by corpus size.
    selected = group_prefix + within_group_prefix <= budget.

    Returns every input row + `selected` boolean. Rows with a NULL or NaN
    weight cannot be ranked, so they come back selected=false (NULL never
    matches the left join; NaN is excluded from the group aggregate
    because Spark sorts NaN GREATER than every number — an unguarded NaN
    group would rank FIRST and absorb the budget; its join rows then
    coalesce to false like NULL's)."""
    wcol = F.col(weight_col)
    # token counts ride through a double sum into a long cast; a NaN/±inf
    # token count would make the group sum non-finite and, under ANSI
    # mode, ABORT the whole job at the cast (the eval_metrics rel-cast
    # class, NANPOLICY.md). Non-finite counts contribute 0 tokens — the
    # row still gets its selected flag from its group's budget position.
    tcol = F.col(tokens_col).cast("double")
    tok_ok = F.when(
        F.isnan(tcol) | (F.abs(tcol) == float("inf")), F.lit(0.0)
    ).otherwise(tcol)
    grp = weights.filter(wcol.isNotNull() & ~F.isnan(wcol)).groupBy(weight_col).agg(
        F.sum(tok_ok).cast("long").alias("_gt")
    )
    w_grp = (
        Window.orderBy(F.desc(weight_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp_cum = grp.select(
        weight_col,
        (F.sum("_gt").over(w_grp) - F.col("_gt")).alias("_prev_cum"),
    )
    w_in = (
        Window.partitionBy(weight_col)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weights.join(F.broadcast(grp_cum), on=weight_col, how="left")
        # same non-finite guard as the group aggregate: a NaN count in
        # the running within-group sum would NaN every later row's
        # cumulative total (`NaN <= budget` is false under Spark's total
        # order — silently deselecting the rest of the group)
        .withColumn("_wg_cum", F.sum(tok_ok).over(w_in))
        .withColumn(
            "selected",
            F.coalesce(
                (F.col("_prev_cum") + F.col("_wg_cum")) <= F.lit(int(budget)),
                F.lit(False),
            ),
        )
        .drop("_prev_cum", "_wg_cum")
    )


def temperature_fractions(
    df: DataFrame,
    *,
    domain_col: str = "lang",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled mixture shares (the mT5/multilingual sampling
    rule): target share_d ∝ count_d^(1/T). T=1 keeps the natural
    distribution; T→∞ flattens toward uniform — rare domains (languages)
    are upweighted relative to their raw frequency. Shares are computed
    IN-PLAN from the observed counts, then converted to per-domain keep
    fractions exactly like mixture_keep_fractions (largest total without
    upsampling; binding domain keeps 1.0). Returns (domain, n_docs,
    share, keep_fraction)."""
    if not float(temperature) > 0.0:
        raise ValueError("temperature must be > 0")
    inv_t = 1.0 / float(temperature)
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(
        F.sum(F.pow(F.col("n_docs").cast("double"), inv_t)).alias("z")
    )
    sh = counts.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.pow(F.col("n_docs").cast("double"), inv_t) / F.col("z")
    )
    scale = sh.agg(F.min(F.col("n_docs") / F.col("share")).alias("scale"))
    return sh.crossJoin(F.broadcast(scale)).select(
        "domain",
        "n_docs",
        F.round("share", 5).alias("share"),
        F.least(
            F.lit(1.0), F.col("scale") * F.col("share") / F.col("n_docs")
        ).alias("keep_fraction"),
    )
