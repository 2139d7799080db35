"""Corpus-preparation operators for large-scale training-data pipelines:
chunking, benchmark decontamination, PII redaction, repetition filtering,
and quality-aware canonical selection from near-dup clusters.

These extend the dedup/text family (operators/dedup.py, operators/text.py)
with the remaining stages a 100 TB pretraining pipeline runs between raw
corpus and shard writing. All are declarative DataFrame plans; per-row text
work is pure JVM expression (split/filter/slice/regexp) inside whole-stage
codegen, so every stage is a narrow map unless stated otherwise.

Scale notes per operator:
- chunk_documents: explode over a per-doc chunk-index sequence — output rows
  ≈ tokens/stride per doc, no shuffle; writers downstream repartition.
- decontaminate: corpus-side shingles are exploded (narrow), the benchmark
  side is DISTINCT shingle keys of a *test/eval set* — small by definition —
  broadcast to every executor. One broadcast hash join + one groupBy(doc).
  At web scale this is the standard "bloom-filter the benchmark n-grams"
  shape (the exact join here doubles as the reference implementation a
  bloom variant would be validated against).
- redact_pii: three regexp passes per row, counts extracted BEFORE
  replacement. Map-only.
- repetition_stats: duplicate n-gram fraction + most-frequent-token share
  per row, entirely array expressions (no explode, no shuffle): the
  distinct-token count loop is O(|vocab_doc| · tokens) per row, the right
  trade against an explode+groupBy shuffle of every token at corpus scale.
- keep_best_per_cluster: one window over cluster id (single shuffle on the
  cluster key) picking the highest-quality member — the canonicalization
  step after near-dup clustering (cluster sizes are near-dup families:
  small; no skew concern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vettore_spark.operators.dedup import shingle_hash_array, tokens
from vettore_spark.plans.cache import cached_persist
from vettore_spark.plans.spread import pin

# RE2-safe patterns (no lookaround/backrefs) so the Java regex engine and
# any RE2-based oracle (DuckDB) agree on every match.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
IPV4_PATTERN = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams WITHOUT de-duplication (dedup.shingle_array distincts);
    repetition analysis needs the raw multiset. Same arrays_zip shape —
    each slice evaluates `toks` exactly once (no per-element re-eval)."""
    cnt = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, cnt).alias(f"t{i}") for i in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(
            zipped, lambda x: F.concat_ws(" ", *[x[f"t{i}"] for i in range(n)])
        ),
    ).otherwise(F.array().cast("array<string>"))


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping token windows: chunk i covers
    tokens [i·stride, i·stride + chunk_tokens). Returns
    (id, chunk_id, n_chunk_tokens, chunk_text); empty docs produce no rows.

    The training-data chunker: context-window-sized pieces with overlap so
    no span is lost at a boundary. Row count ≈ tokens/stride per doc — a
    pure explode, no shuffle; at 100 TB the output feeds the shard writer
    which owns partitioning.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        toks.alias("_t"),
        pin(df),
    ).filter(F.size("_t") >= 1)
    n_chunks = (F.floor((F.size("_t") - 1) / stride) + 1).cast("long")
    exploded = base.select(
        F.col(id_col),
        F.col("_t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    sl = F.slice(F.col("_t"), (F.col("chunk_id") * stride + 1).cast("int"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(sl).cast("long").alias("n_chunk_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag corpus documents sharing ≥ min_hits distinct word n-grams with a
    benchmark/eval set (test-set leakage detection — the decontamination
    pass every pretraining corpus runs against its eval suites).

    Returns (id, n_shingles, n_contaminated, contaminated_frac) for flagged
    docs. Long n (default 8) targets near-verbatim inclusion, the standard
    decontamination criterion. Shingles are xxhash64 keys; the benchmark
    side (distinct keys of an eval set) is broadcast.
    """
    # The shingle projection is consumed twice (sizes + exploded hits) and
    # would otherwise also be re-inlined into pushed-down filters; persist
    # it once per (source, n) like dedup._shingle_base does.
    c_sh = cached_persist(
        corpus,
        ("decontaminate_shingles", id_col, text_col, n),
        lambda s: s.select(
            F.col(id_col),
            shingle_hash_array(tokens(text_col), n).alias("_sh"),
        ).filter(F.size("_sh") > 0),
    )
    sizes = c_sh.select(F.col(id_col), F.size("_sh").cast("long").alias("n_shingles"))
    c_flat = c_sh.select(F.col(id_col), F.explode("_sh").alias("_s"))
    b_flat = (
        benchmark.select(
            F.explode(shingle_hash_array(tokens(text_col), n)).alias("_s")
        )
        .distinct()
    )
    hits = (
        c_flat.join(F.broadcast(b_flat), "_s")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated"))
        .filter(F.col("n_contaminated") >= min_hits)
    )
    return (
        hits.join(sizes, id_col)
        .select(
            F.col(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"),
                5,
            ).alias("contaminated_frac"),
        )
    )


def redact_pii(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub emails, phone numbers, and IPv4 addresses; count each BEFORE
    replacement. Returns (id, n_emails, n_phones, n_ips, redacted).
    Replacement order (email → ip → phone) is fixed; the patterns are
    mutually non-overlapping on realistic text but order is part of the
    contract. Pure per-row regexp work — map-only at any scale."""
    t = F.col(text_col)
    redacted = F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>")
    redacted = F.regexp_replace(redacted, IPV4_PATTERN, "<IP>")
    redacted = F.regexp_replace(redacted, PHONE_PATTERN, "<PHONE>")
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), 0)).cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_PATTERN), 0)).cast("long").alias("n_ips"),
        redacted.alias("redacted"),
    )


def repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_dup_frac: float = 0.05,
    max_top_token_frac: float = 0.14,
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    duplicate word n-grams (1 − distinct/total) and the share of the most
    frequent token. `keep` applies both thresholds. All array expressions —
    no explode, no shuffle."""
    base = df.select(
        F.col(id_col),
        tokens(text_col).alias("_t"),
        pin(df),
    )
    grams = _word_ngrams(F.col("_t"), n)
    total = F.size(grams).cast("double")
    distinct = F.size(F.array_distinct(grams)).cast("double")
    dup_frac = F.when(total > 0, F.lit(1.0) - distinct / total).otherwise(F.lit(0.0))
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(F.col("_t")),
            lambda x: F.size(F.filter(F.col("_t"), lambda y: y == x)),
        )
    ).cast("double")
    top_frac = top_cnt / F.size(F.col("_t")).cast("double")
    out = base.select(
        F.col(id_col),
        F.round(dup_frac, 5).alias("dup_ngram_frac"),
        F.round(top_frac, 5).alias("top_token_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("dup_ngram_frac") <= max_dup_frac)
        & (F.col("top_token_frac") <= max_top_token_frac),
    )


def hard_negative_mining(
    coll: DataFrame,
    queries: DataFrame,
    neardup_pairs: DataFrame,
    *,
    k: int = 5,
    candidates: int = 20,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Contrastive-training hard negatives: per query, the nearest neighbors
    that are NOT the query itself and NOT near-duplicates of it — close
    enough to be hard, distinct enough to be true negatives.

    Composition: exact GEMM top-`candidates` (ann.brute_force_topk) →
    broadcast anti-join against the symmetric near-dup pair set →
    re-rank to `k` per query. The near-dup set is the dedup family's output
    (e.g. cosine_neardup_blocked / minhash pairs) — pair lists are tiny
    relative to the corpus, so the anti-join broadcasts.

    Returns (query_id, id, score, distance, neg_rank 1..k).
    """
    from vettore_spark.operators.ann import brute_force_topk

    cand = brute_force_topk(
        coll, queries, k=candidates, metric=metric,
        id_col=id_col, vector_col=vector_col,
    )
    p = neardup_pairs.select(F.col("id_a").alias("_qa"), F.col("id_b").alias("_qb"))
    sym = p.unionByName(
        p.select(F.col("_qb").alias("_qa"), F.col("_qa").alias("_qb"))
    )
    filtered = (
        cand.filter(F.col("query_id") != F.col(id_col))
        .join(
            F.broadcast(sym),
            (F.col("query_id") == F.col("_qa")) & (F.col(id_col) == F.col("_qb")),
            "left_anti",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        filtered.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= k)
        .drop("rank")
    )


def keep_best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    quality_col: str = "quality",
) -> DataFrame:
    """Canonical-member selection after near-dup clustering: per cluster,
    keep the member with the highest quality score (id ascending breaks
    ties). Returns (cluster_col, keep_doc_id, cluster_size, quality).

    One window over the cluster key — a single shuffle; near-dup families
    are small so no skew handling is needed. This is the quality-aware
    refinement of training_pipeline's keep-lowest-id canonicalization.

    `clusters` may be `neardup_clusters` output (which carries
    cluster_size) or bare `connected_components` output — in the latter
    case cluster_size is derived here as a count over the same window
    partition (members present after the quality join)."""
    j = clusters.join(quality.select(F.col(id_col), F.col(quality_col)), id_col)
    if "cluster_size" not in clusters.columns:
        j = j.withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy(cluster_col)).cast("long"),
        )
    # NaN -> NULL in the sort key: Spark orders NaN GREATER than every
    # number, so a NaN-quality member would WIN the canonical slot under
    # desc; NULLs sort last under desc, so both malformed shapes now lose
    # to any real score (the r12 NaN-weights-lose contract)
    qkey = F.when(F.isnan(F.col(quality_col)), F.lit(None)).otherwise(
        F.col(quality_col)
    )
    w = Window.partitionBy(cluster_col).orderBy(
        qkey.desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(cluster_col),
            F.col(id_col).alias("keep_doc_id"),
            F.col("cluster_size"),
            F.col(quality_col),
        )
    )
