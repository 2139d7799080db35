"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
exact n-gram Jaccard via an inverted-index join, MinHash+LSH banding,
SimHash, and embedding-cosine near-dup.

Scale design (100 TB):
- Exact dedup is a hash groupBy — one shuffle on a 128-bit digest, perfectly
  partitionable.
- Exact Jaccard pairs use the inverted-index (shared-shingle) join, never an
  all-pairs product; the shuffle key is the shingle. Ultra-frequent shingles
  are dropped via a document-frequency cap (`max_shingle_df`) — the standard
  guard against quadratic bucket blowup on boilerplate n-grams.
- MinHash/LSH reduces candidate generation to band-bucket equality joins:
  one narrow shuffle of (band, hash) keys; candidate verification re-joins
  shingle sets only for candidate pairs (broadcast of the pair list when
  small). Signature computation is per-row JVM expression work — no Python.
- All join keys are integral hashes -> AQE handles skew; buckets above
  `max_bucket_size` are dropped BEFORE their posting list materializes
  (count-first, _capped_posting_lists) rather than exploding one task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vettore_spark.plans.cache import cached_persist as _cached_persist
from vettore_spark.plans.checkpoint import durable_cut, release_cut
from vettore_spark.plans.spread import pin


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def shingle_array(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings; fewer than n tokens -> empty array.

    Built by zipping n shifted slices of the token array, NOT by indexing
    `toks` inside a transform lambda: an outer expression captured in a
    lambda is re-evaluated per element, which turns the upstream regex split
    into O(tokens^2) work per row once CollapseProject inlines it. With
    arrays_zip each slice evaluates `toks` exactly once."""
    cnt = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, cnt).alias(f"t{i}") for i in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                zipped,
                lambda x: F.concat_ws(" ", *[x[f"t{i}"] for i in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup_summary(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Exact duplicate statistics via content digest (one shuffle)."""
    return df.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5(F.col(text_col)))).alias("n_dup_docs"),
    )


def exact_dedup(df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per exact text digest."""
    w = F.min(F.col(id_col)).alias("keep_id")
    keep = df.groupBy(F.md5(F.col(text_col)).alias("_h")).agg(w)
    return df.join(
        keep.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )


def unit_chunks(
    text_col: str,
    *,
    delimiter: str | None = None,
    window: int = 20,
) -> Column:
    """Array of dedup units for a text column: natural paragraphs when
    `delimiter` (a regex) is given, else fixed non-overlapping windows of
    `window` whitespace tokens. Built with transform(sequence, slice) so
    the token split evaluates once per row, not once per unit (the
    CollapseProject lambda-capture trap). Shared by the batch
    `paragraph_dedup` and the streaming `streaming_unit_dedup`."""
    if delimiter is not None:
        return F.split(F.col(text_col), delimiter)
    if window <= 0:
        raise ValueError("window must be positive")
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size(toks) / F.lit(float(window))).cast("int")
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * window + 1, window)),
    )


def paragraph_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str | None = None,
    window: int = 20,
    joiner: str = " ",
    scope: str = "global",
) -> DataFrame:
    """Paragraph-level exact deduplication (the unit-level variant of
    corpus dedup in Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better": repeated passages are removed even when the
    containing documents differ). Every document is split into units; only
    the FIRST occurrence of each distinct unit survives (ordered by
    (id, position) — deterministic); documents are reassembled from their
    surviving units. `scope="global"` dedups across the corpus;
    `scope="doc"` removes only repeats WITHIN each document (the
    Gopher-style repeated-passage cleanup) and never looks across docs.

    Units are natural paragraphs when `delimiter` (a regex) is given
    (e.g. ``r"\\n\\n+"``); otherwise fixed non-overlapping windows of
    `window` whitespace tokens — the deterministic fallback for
    single-line corpora.

    Returns (id, text, n_units, n_dropped); `text` may be empty when every
    unit of a document was seen earlier in id order.

    Scale shape: one explode (~corpus/window unit rows), then AGGREGATES
    only — the first-occurrence keeper per digest is `min(struct(id, pos,
    unit))`, which partial-aggregates map-side, so a boilerplate unit
    duplicated 10^6 times shrinks to one row per input partition BEFORE
    the shuffle (a row_number window over the digest partition would
    instead sort the whole hot group in one task — the skew shape AQE
    cannot split). Reassembly is one groupBy(id) over keepers joined to
    the per-doc unit totals. No driver state, no all-pairs work; at 100 TB
    this is the cheap exact layer run BEFORE near-dup ops shrink their
    input."""
    if scope not in ("global", "doc"):
        raise ValueError("scope must be 'global' or 'doc'")
    # NULL text -> zero units, NOT a vanished document: unit_chunks is NULL
    # on NULL input and a plain posexplode would emit no row, silently
    # dropping the doc from the (id, text, n_units, n_dropped) contract.
    # Totals come from the chunk ARRAY (size), so zero-unit docs keep an
    # output row with n_units = 0 and empty text.
    # the guard must test the COLUMN, not the chunk expression: greatest()
    # and concat_ws() swallow NULLs inside unit_chunks, so a NULL text
    # produces [''] rather than NULL and coalesce would never fire
    src = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.array().cast("array<string>"))
        .otherwise(unit_chunks(text_col, delimiter=delimiter, window=window))
        .alias("_chunks"),
    )
    units = src.select(
        F.col(id_col),
        F.posexplode("_chunks").alias("_cid", "_chunk"),
    )
    group = [F.md5("_chunk").alias("_h")]
    if scope == "doc":
        group = [F.col(id_col).alias("_kid"), F.md5("_chunk").alias("_h")]
    keepers = (
        units.groupBy(*group)
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("_id"),
                    F.col("_cid"),
                    F.col("_chunk"),
                )
            ).alias("_k")
        )
        .select(
            F.col("_k._id").alias(id_col),
            F.col("_k._cid").alias("_cid"),
            F.col("_k._chunk").alias("_chunk"),
        )
    )
    kept = keepers.groupBy(id_col).agg(
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_cid", "_chunk"))),
                lambda x: x["_chunk"],
            ),
        ).alias("_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = src.groupBy(id_col).agg(
        F.sum(F.size("_chunks")).cast("long").alias("n_units")
    )
    return totals.join(kept, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
        F.col("n_units"),
        (F.col("n_units") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_dropped"
        ),
    )


def dedup_against(
    new: DataFrame,
    corpus: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop rows of `new` whose content digest
    already appears in `corpus` (the "dedupe this crawl against everything
    already ingested" step). One anti-join on md5 — the reference-corpus
    digest set is a derived table a real pipeline keeps materialized, so
    each new batch pays one keyed shuffle of the BATCH only (AQE
    broadcasts the smaller side). Intra-batch duplicates are kept — run
    `exact_dedup` after if both levels are wanted."""
    seen = corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    return new.join(seen, on=F.md5(new[text_col]) == seen["_h"], how="left_anti")


def shingle_hash_array(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles hashed to longs (xxhash64) — all
    downstream set operations (inverted index, MinHash, Jaccard) work on
    8-byte keys instead of strings."""
    return F.transform(shingle_array(toks, n), lambda s: F.xxhash64(s))


def _shingle_base(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, _sh) shingle-set table shared by the pair operators, engineered
    for parallel evaluation:

    - If the input has fewer partitions than the session's shuffle
      parallelism (typical for a small parquet file with one row group —
      parquet cannot split below row-group granularity), round-robin
      repartition the RAW text first. At real scale the input already has
      more partitions than this and the branch is a no-op.
    - The shingle projection carries a non-deterministic `_pin` column:
      without it, ColumnPruning pushes the (expensive) projection below the
      repartition exchange to shuffle fewer bytes, and the whole shingle
      evaluation lands back in the unsplittable scan task. Non-deterministic
      expressions cannot cross an exchange, so the projection stays above it
      and runs on all cores.
    - Persisted with reuse (_cached_persist) because every pair operator
      consumes it at least twice (signatures/postings + verification) and
      repeated invocations over the same source must share one copy."""
    from vettore_spark.plans.spread import spread_narrow

    src = spread_narrow(df, [id_col, text_col])

    def build(s: DataFrame) -> DataFrame:
        return s.select(
            F.col(id_col),
            shingle_hash_array(tokens(text_col), n).alias("_sh"),
            pin(s),
        ).filter(F.size("_sh") > 0)

    return _cached_persist(src, ("shingle", id_col, text_col, n), build)


def _capped_posting_lists(
    exploded: DataFrame,
    key_cols: list[str],
    id_col: str,
    *,
    max_size: int | None,
) -> DataFrame:
    """(key..., _ids sorted array) over (key, id) rows, with the bucket
    size cap enforced BEFORE any list materializes: a count aggregate
    (map-side combinable — a hot key costs one long per partition, never
    an array) selects the keys in (1, max_size], and only THEIR rows
    reach collect_list. The naive collect-then-filter shape builds the
    hot key's corpus-sized array inside one aggregation task first — the
    exact single-task blowup the cap exists to prevent (10M documents
    sharing one boilerplate shingle = a 10M-element array in one task)."""
    counts = exploded.groupBy(*key_cols).agg(F.count("*").alias("_n"))
    keep = counts.filter(F.col("_n") > 1)
    if max_size is not None:
        keep = keep.filter(F.col("_n") <= max_size)
    return (
        exploded.join(keep.select(*key_cols), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
    )


def _bucket_pairs(buckets: DataFrame, ids_col: str = "_ids") -> DataFrame:
    """Emit all ordered pairs (a < b) from each bucket's sorted id array —
    one shuffle fewer than a self-join on the bucket key."""
    pairs = F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return buckets.select(F.explode(pairs).alias("_p")).select("_p.doc_a", "_p.doc_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >= 1 shingle
    (inverted index). Returns (doc_a, doc_b, jac) with doc_a < doc_b and
    jac >= threshold.

    Physical shape: explode hashed shingles -> groupBy shingle collecting the
    (sorted) posting list -> emit in-bucket pairs -> count pair co-occurrences.
    Postings longer than `max_shingle_df` can be dropped (boilerplate
    shingles) — at web scale that cap is mandatory; it trades exactness on
    pairs whose ONLY shared shingles are ultra-frequent."""
    base = _shingle_base(df, id_col, text_col, n)
    sizes = base.select(F.col(id_col).alias("_id"), F.size("_sh").alias("_n"))
    # the inverted index (shingle -> sorted posting list) is ingest-time
    # state — persisted per source like the shingle base; single-member
    # postings can never produce a pair and are dropped before persisting
    # cap INSIDE the persisted build (keyed per cap): the count-first
    # shape must run before any posting list materializes, so the cap
    # cannot be a post-filter over an uncapped persisted table
    buckets = _cached_persist(
        base,
        ("ngram_postings", id_col, max_shingle_df),
        lambda s: _capped_posting_lists(
            s.select(F.col(id_col).alias("_id"), F.explode("_sh").alias("s")),
            ["s"],
            "_id",
            max_size=max_shingle_df,
        ),
    )
    inter = _bucket_pairs(buckets).groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("_i")
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("_n").alias("_nb"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jac",
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )
    return jac


def fuzzy_value_pairs(
    df: DataFrame,
    *,
    value_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """Fuzzy (edit-distance) matching over a column's DISTINCT value
    dictionary: pairs of distinct values within `max_distance` Levenshtein
    edits (excluding exact matches — those are exact_dedup's job), each
    carrying its row count. The data-cleaning primitive for near-identical
    categorical values (typos, spacing variants).

    Scale shape: the dictionary (distinct values + counts) is one
    map-side-combined groupBy and is orders of magnitude smaller than the
    table; candidate generation uses COMPLETE length-band blocking as an
    equi-join — one side keys on its own length, the other explodes the
    ±max_distance length window — which loses no recall (edit distance d
    implies a length difference ≤ d). The expensive `levenshtein` runs
    only on in-band candidates; each unordered pair meets exactly once
    (val_a < val_b).
    """
    vals = (
        df.groupBy(F.col(value_col).alias("_v"))
        .agg(F.count("*").cast("long").alias("_n"))
    )
    a = vals.select(
        F.col("_v").alias("val_a"),
        F.col("_n").alias("n_a"),
        F.length("_v").alias("_blk"),
    )
    b = vals.select(
        F.col("_v").alias("val_b"),
        F.col("_n").alias("n_b"),
        F.explode(
            F.sequence(
                F.length("_v") - max_distance, F.length("_v") + max_distance
            )
        ).alias("_blk"),
    )
    lev = F.levenshtein("val_a", "val_b")
    return (
        a.join(b, "_blk")
        .filter(F.col("val_a") < F.col("val_b"))
        .withColumn("dist", lev.cast("long"))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_distance))
        .select("val_a", "val_b", "dist", "n_a", "n_b")
    )


def minhash_signature(hashed_shingles: Column, *, num_perm: int = 64) -> Column:
    """MinHash signature over pre-hashed (long) shingles: per permutation p,
    min over shingles of xxhash64(h, p). Pure JVM expression — no Python, no
    shuffle. The expensive string hash runs once (shingle_hash_array); each
    permutation only mixes the long.

    The shingle array rides in via array_repeat, NOT as a free reference
    inside the permutation lambda: CollapseProject may inline the whole
    upstream shingle expression into this tree, and anything referenced
    inside the lambda would then be recomputed once PER PERMUTATION.
    array_repeat pins it to a single evaluation."""
    return F.zip_with(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        F.array_repeat(hashed_shingles, num_perm),
        lambda p, hs: F.array_min(F.transform(hs, lambda h: F.xxhash64(h, p))),
    )


def _perm_params(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) multiply-shift permutation parameters."""
    rng = np.random.default_rng(20260721)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature_arrow(num_perm: int = 64):
    """Arrow-batched MinHash signature UDF over pre-hashed shingles.

    The JVM expression version (minhash_signature) evaluates
    O(num_perm * shingles) interpreted hash calls per row; this pandas UDF
    does the same permutation mixing as one vectorized uint64
    multiply-add-min per row (~100x faster at num_perm=64) while the string
    hashing stays JVM-side. Returns a Column-producing callable."""
    a, b = _perm_params(num_perm)

    @F.pandas_udf("array<long>")
    def sig(bh: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for arr in bh:
                h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                ph = a[:, None] * h[None, :] + b[:, None]  # uint64 wraps
                out.append(ph.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return sig


def _sig_and_bands(
    base: DataFrame, id_col: str, num_perm: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """(signature table, exploded (id, band, bh) band table) over a shingle
    base. The signature table is derived index state (computed at ingest in
    the reference model) — persisted per (source, num_perm) like the base.
    Shared by same-corpus LSH pairing and cross-corpus dedup-against."""
    if bands < 1 or bands > num_perm:
        raise ValueError(
            f"bands must be in [1, num_perm={num_perm}], got {bands}: "
            "bands > num_perm makes every band an empty slice whose hash "
            "is identical for ALL documents (one global bucket — either "
            "dropped by the size cap, losing every pair, or an all-pairs "
            "blowup)"
        )
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm={num_perm} must be divisible by bands={bands}: the "
            f"trailing {num_perm % bands} permutations would be silently "
            "ignored, weakening the collision probability the (bands, "
            "rows-per-band) config claims"
        )
    rows_per_band = num_perm // bands
    sig = _cached_persist(
        base,
        ("minhash_sig", id_col, num_perm),
        lambda s: s.select(
            id_col, minhash_signature_arrow(num_perm)(F.col("_sh")).alias("_sig")
        ),
    )
    # zip against array_repeat(_sig): a bare _sig reference inside the lambda
    # could be inlined by CollapseProject and recomputed once per band
    bands_df = sig.select(
        id_col,
        F.explode(
            F.zip_with(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                F.array_repeat(F.col("_sig"), bands),
                lambda j, sg: F.struct(
                    j.alias("band"),
                    F.xxhash64(j, F.slice(sg, j * rows_per_band + 1, rows_per_band)).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    return sig, bands_df


def minhash_dedup_against(
    new: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket_df: int = 1000,
) -> DataFrame:
    """Incremental NEAR-dup detection of a new batch against the ingested
    corpus — the MinHash analog of `dedup_against` (which is exact-digest
    only): a new document is flagged when it shares at least one LSH band
    bucket with a corpus document AND the exact n-gram Jaccard of the pair
    is >= `threshold`. Returns (id, corpus_id, jac); anti-join `new` on
    `id_col` against the flagged ids to drop them.

    Scale shape: the corpus-side shingle/signature/band tables are
    persisted derived index state (built once at ingest, reused per batch),
    so each incoming batch pays its own shingle+signature pass plus ONE
    equi-join keyed on (band, bandhash) against the corpus band table —
    never a batch x corpus product. `max_bucket_df` drops corpus band
    buckets hotter than the cap (boilerplate families — exact dedup's job)
    before the join, bounding the candidate fan-out per new document."""
    base_n = _shingle_base(new, id_col, text_col, n)
    base_c = _shingle_base(corpus, id_col, text_col, n)
    _, bands_n = _sig_and_bands(base_n, id_col, num_perm, bands)
    _, bands_c = _sig_and_bands(base_c, id_col, num_perm, bands)
    hot = (
        bands_c.groupBy("band", "bh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_bucket_df)
        .select("band", "bh")
    )
    cand = (
        bands_n.select(F.col(id_col).alias("_nid"), "band", "bh")
        .join(hot, ["band", "bh"], "left_anti")
        .join(
            bands_c.select(F.col(id_col).alias("corpus_id"), "band", "bh"),
            ["band", "bh"],
        )
        .select("_nid", "corpus_id")
        .distinct()
    )
    shn = base_n.select(F.col(id_col).alias("_nid"), F.col("_sh").alias("_sha"))
    shc = base_c.select(
        F.col(id_col).alias("corpus_id"), F.col("_sh").alias("_shb")
    )
    return (
        cand.join(shn, "_nid")
        .join(shc, "corpus_id")
        .withColumn("_i", F.size(F.array_intersect("_sha", "_shb")).cast("double"))
        .withColumn(
            "jac",
            F.col("_i")
            / (F.size("_sha") + F.size("_shb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select(F.col("_nid").alias(id_col), "corpus_id", "jac")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """MinHash + LSH near-dup detection: shingle -> signature -> band buckets
    -> candidate pairs -> EXACT Jaccard verification of candidates only.

    Output (doc_a, doc_b, jac) matches `ngram_jaccard_pairs` whenever LSH
    recall at these parameters covers every pair >= threshold (16 bands x 4
    rows: P(miss | j=0.5) ~ (1-0.5^4)^16 ~ 0.35, P(miss | j=0.8) ~ 2e-3;
    tune bands/num_perm to the threshold).

    Buckets larger than `max_bucket_size` are dropped — at web scale those
    are boilerplate clusters that must be handled by exact-hash dedup first.
    """
    if bands < 1 or bands > num_perm:
        # same contract _sig_and_bands enforces, validated BEFORE the
        # rows-per-band division below — bands=0 used to surface as a bare
        # ZeroDivisionError instead of this argument error
        raise ValueError(
            f"bands must be in [1, num_perm={num_perm}], got {bands}"
        )
    rows_per_band = num_perm // bands
    # one shingle pass, persisted: consumed by banding AND by candidate
    # verification — without the persist the whole tokenize+shingle+hash
    # chain re-runs per consumer
    base = _shingle_base(df, id_col, text_col, n)
    sig, bands_df = _sig_and_bands(base, id_col, num_perm, bands)

    # one shuffle: bucket members collected per (band, bh), pairs emitted
    # from the sorted id array — bands_df is consumed exactly once (a
    # groupBy-count + semi-join + self-join shape would recompute the
    # signature UDF three times). The bucket table IS the LSH index —
    # persisted per (source, banding params) like the signature table.
    buckets = _cached_persist(
        sig,
        ("lsh_buckets", id_col, bands, rows_per_band, max_bucket_size),
        lambda _s: _capped_posting_lists(
            bands_df, ["band", "bh"], id_col, max_size=max_bucket_size
        ),
    )
    cand = _bucket_pairs(buckets).distinct()
    # exact verification of candidates only. No forced broadcast: on a
    # duplicate-heavy corpus (boilerplate-rich web data) the candidate pair
    # list is NOT guaranteed driver-small even with max_bucket_size-capped
    # buckets — AQE picks a broadcast join at runtime when the list is
    # actually small, and falls back to a shuffle join when it isn't
    # (same policy as dedup_keep_canonical below).
    sh_sets = base.select(F.col(id_col), F.col("_sh"))
    va = sh_sets.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sha"))
    vb = sh_sets.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_shb"))
    verified = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("_i", F.size(F.array_intersect("_sha", "_shb")).cast("double"))
        .withColumn(
            "jac",
            F.col("_i")
            / (F.size("_sha") + F.size("_shb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )
    return verified


def _bit_masks() -> Column:
    """Literal array of the 64 single-bit long masks (bit 63 = LONG_MIN).
    Column expressions are cheap to rebuild and not safely shareable
    across sessions, so this is deliberately NOT memoized."""
    from pyspark.sql.functions import array, lit

    vals = [1 << b for b in range(63)] + [-(2**63)]
    return array(*[lit(v).cast("long") for v in vals])


def simhash64(toks: Column, hash_fn=None) -> Column:
    """64-bit SimHash over token hash values, as a signed long. `hash_fn`
    defaults to xxhash64 (fast, JVM); pass text.poly_hash62 for a
    SQL-reproducible variant that a DuckDB oracle can recompute bit-for-bit.

    For each bit b: sum over tokens of +/-1 by the token-hash's bit b; the
    simhash bit is 1 when the sum is positive.

    Single pass: one aggregate accumulates the 64 votes (the token-hash
    array is the aggregate input, evaluated once), then one OR-fold turns
    votes into the word — no expression is re-evaluated per bit."""
    hf = hash_fn if hash_fn is not None else F.xxhash64
    th = F.transform(toks, lambda t: hf(t))
    masks = _bit_masks()
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    votes = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )


def simhash64_blocks(
    toks: Column, *, block_bits: int = 16, hash_fn=None
) -> Column:
    """SimHash signature plus its LSH block keys as ONE expression:
    ``array<struct<_blk int, _bval long, _sig long>>`` with
    64 // block_bits elements, ready to ``explode`` into one blocking
    row per slice.

    The signature word is bound ONCE in the final aggregate's finish
    lambda (the r13 cosine pattern: multi-use finish math lives in the
    finish lambda, where the fold result is a lambda variable evaluated
    a single time). A caller that projects the word and then derives
    the slices in a later select re-inlines the whole vote fold per
    reference under CollapseProject — the streaming path's previous
    4-branch union paid exactly that, recomputing simhash64 4x and
    re-scanning the source once per block (r14)."""
    if block_bits < 1 or 64 % block_bits != 0:
        raise ValueError(f"block_bits must divide 64, got {block_bits}")
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    hf = hash_fn if hash_fn is not None else F.xxhash64
    th = F.transform(toks, lambda t: hf(t))
    masks = _bit_masks()
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)
    votes = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
        lambda w: F.array(
            *[
                F.struct(
                    F.lit(b).cast("int").alias("_blk"),
                    F.shiftrightunsigned(w, b * block_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("_bval"),
                    w.alias("_sig"),
                )
                for b in range(n_blocks)
            ]
        ),
    )


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int = 16,
    hash_fn=None,
    max_block_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: block on `block_bits`-bit slices of the
    simhash, verify by full 64-bit Hamming distance.

    Coverage contract: with S = 64 // block_bits slices, every pair
    within Hamming <= S - 1 is GUARANTEED a shared slice (pigeonhole —
    the default 16-bit slices cover <= 3 exactly); a larger max_hamming
    is a deliberate approximate regime where a pair is found only when
    its differing bits leave some slice untouched (high probability for
    clustered bit flips, not certain). Both regimes are deterministic,
    so an external oracle reproduces the candidate set either way — the
    gated config (max_hamming=8 over 4 slices) runs the approximate
    regime on both engines identically.

    `max_block_size` drops (slice, key) buckets whose population exceeds
    the cap BEFORE the self-join — the hot-key escape hatch every sibling
    candidate generator carries (minhash_lsh_pairs, embedding_neardup_*):
    one over-populated bucket (a boilerplate cluster sharing a slice, or
    the all-NULL-text cluster — NULL/empty docs all hash to _sh = 0 and
    would pair with each other at hamming 0) emits O(pop^2) join rows
    with nothing downstream to stop it. Mandatory at corpus scale; the
    None default preserves the exact pair set for bounded inputs."""
    if block_bits < 1 or 64 % block_bits != 0:
        raise ValueError(
            f"block_bits must divide 64, got {block_bits}"
        )
    from vettore_spark.plans.spread import spread_narrow

    src = spread_narrow(df, [id_col, text_col])

    def build(s: DataFrame) -> DataFrame:
        # Two pinned projections instead of one simhash64 expression: stage 1
        # materializes the token-hash array (each token hashed exactly once),
        # stage 2 counts per-bit votes by re-scanning that materialized array
        # — O(64 x tokens) comparisons with NO per-token 64-array allocation
        # (simhash64's single-expression fold allocates one votes array per
        # token). The non-deterministic _pin blocks CollapseProject from
        # merging the stages, which would inline the hash transform into all
        # 64 per-bit filters.
        hf = hash_fn if hash_fn is not None else F.xxhash64
        th = F.transform(tokens(text_col), lambda t: hf(t))
        staged = s.select(
            F.col(id_col),
            th.alias("_th"),
            pin(s),
        )
        masks = _bit_masks()
        n = F.size(F.col("_th"))
        ones = F.transform(
            masks,
            lambda m: F.size(
                F.filter(F.col("_th"), lambda h: h.bitwiseAND(m) != 0)
            ),
        )
        # bit b set iff votes = ones - (n - ones) > 0  <=>  2*ones > n
        word = F.aggregate(
            F.zip_with(
                ones,
                masks,
                lambda o, m: F.when(o * 2 > n, m).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a.bitwiseOR(x),
        )
        return staged.select(F.col(id_col), word.alias("_sh"), F.col("_pin"))

    # key a CUSTOM hash_fn by the function OBJECT (hashes by identity and
    # the key tuple's strong ref prevents id-reuse aliasing), not by
    # __name__: two different functions named '<lambda>' must not silently
    # reuse each other's persisted simhash table — identity trades
    # cross-invocation reuse of fresh closures for correctness. Only the
    # default path (hash_fn None) gets the stable shared key.
    hash_key = "xxhash64" if hash_fn is None else hash_fn
    base = _cached_persist(src, ("simhash", id_col, text_col, hash_key), build)
    # block on 4 disjoint 16-bit slices: pairs within Hamming<=3 share at
    # least one identical slice (pigeonhole over 4 slices)
    blocks = base.select(
        id_col,
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slice"),
                        F.shiftrightunsigned(F.col("_sh"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(64 // block_bits)
                ]
            )
        ).alias("b"),
    ).select(id_col, "_sh", F.col("b.slice").alias("slice"), F.col("b.key").alias("key"))
    if max_block_size is not None:
        # count-first population filter (map-side partial counts over the
        # tiny (slice, key) key space), semi-joined back BEFORE the
        # quadratic self-join — AQE broadcasts the kept-bucket list
        keep = (
            blocks.groupBy("slice", "key")
            .agg(F.count(F.lit(1)).alias("_pop"))
            .filter(F.col("_pop") <= max_block_size)
            .select("slice", "key")
        )
        blocks = blocks.join(keep, ["slice", "key"], "left_semi")
    a, b = blocks.alias("a"), blocks.alias("b")
    # verify (map-side bit_count) BEFORE the dedup shuffle: a pair appears in
    # up to 64/block_bits slices, so distinct-ing raw candidates would
    # shuffle every duplicate with both 64-bit hashes attached; filtering
    # first shrinks the exchange to the verified pairs only
    return (
        a.join(b, on=["slice", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn(
            "hamming", F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            "hamming",
        )
        .distinct()
    )


# pair lists up to this many pairs take connected_components' driver tier
# (pagerank's driver_max_edges default); larger ones the distributed loop
_CC_DRIVER_MAX_EDGES = 100_000


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_out: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair graph: returns
    (`id_out`, component) where component is the minimum id reachable from
    the node. The clustering step of a near-dup pipeline (pairs from
    MinHash/SimHash/embedding candidates -> clusters -> keep one canonical
    doc per cluster).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) rounds, each round two shuffles keyed on node id (a groupBy for
    the neighborhood minimum + a join to re-point edges). No driver-side
    state: the driver loop only compares a (count, hash-sum) convergence
    signature per round, and a durability-ladder lineage cut (reliable
    checkpoint when a checkpoint dir is set, localCheckpoint on local
    masters — plans/checkpoint.py) keeps the plan from growing with
    iterations without making a mid-loop executor loss fatal on a real
    cluster. At 100 TB the edge set after exact-hash pre-dedup is sparse
    (bounded by LSH bucket caps), so every round is a narrow shuffle on
    integral ids that AQE can rebalance.

    Tiered execution (pagerank's split): one `limit(_CC_DRIVER_MAX_EDGES
    + 1)` probe collects the cut pair list; when it holds at most
    _CC_DRIVER_MAX_EDGES (100k) pairs, union-find runs on the driver and
    one `createDataFrame` returns the same rows the loop would — every
    node, a self-loop-only node as its own component, the NULL node with a
    NULL component. On a ~90-pair graph the loop runs 28 Spark jobs, the
    driver tier at most 3. The tier covers integral and string ids, whose
    Python ordering is Spark's; other id types take the loop. `max_iter`
    bounds the loop only. A pair list past the bound is generated once:
    the probe reads the cut list that the loop then reuses.
    """
    # cut the raw pair list once: the probe, the node set and every loop
    # round derive from it, and without the cut each downstream action
    # would re-run the (expensive) upstream pair-generation plan
    raw = durable_cut(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), eager=False
    )
    if _driver_ordered(raw.schema):
        # one task reads the cut's partitions in turn until it passes the
        # bound, and the cut keeps each one it read: a small list is
        # probed and cut in one job, with no partition left to compute
        rows = raw.coalesce(1).limit(_CC_DRIVER_MAX_EDGES + 1).collect()
        if len(rows) <= _CC_DRIVER_MAX_EDGES:
            return _cc_driver(pairs.sparkSession, rows, raw.schema, id_out)
    # node set BEFORE dropping self-loops: a node whose only pair is (x, x)
    # is still a (singleton) component and must appear in the output
    nodes = (
        raw.select(F.col("u").alias(id_out))
        .union(raw.select(F.col("v").alias(id_out)))
        .distinct()
    )
    edges = raw.filter(F.col("u") != F.col("v")).distinct()

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    e = edges
    prev_sig = None
    prev_cut = None
    for _ in range(max_iter):
        # large-star: connect every strictly-larger neighbor of u to the
        # minimum of u's full neighborhood (including u itself)
        sym = _sym(e)
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges to the smaller endpoint; connect each
        # smaller neighbor (and u itself) to the minimum of those
        smaller = _sym(e).filter(F.col("v") < F.col("u"))
        mins_s = smaller.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            smaller.join(mins_s, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins_s.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e = durable_cut(e, eager=True)
        # the new round's cut is materialized (eager): the previous
        # round's checkpoint files are now unreachable — delete them so
        # the loop does not leak O(rounds) edge-set copies on HDFS/S3
        # (plans/checkpoint.py); no-op on local masters
        release_cut(prev_cut)
        prev_cut = e
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    assign = e.groupBy("u").agg(F.min("v").alias("component"))
    return nodes.join(
        assign.withColumnRenamed("u", id_out), id_out, "left"
    ).select(
        F.col(id_out),
        F.coalesce(F.col("component"), F.col(id_out)).alias("component"),
    )


def _driver_ordered(schema) -> bool:
    """Both endpoint columns share one integral or (binary-collated) string
    type: Python's `<` on those values is Spark's ordering."""
    import pyspark.sql.types as T

    u, v = schema["u"].dataType, schema["v"].dataType
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    return u == v and (isinstance(u, integral) or u == T.StringType())


def _cc_driver(spark, rows, schema, id_out: str) -> DataFrame:
    """Driver-tier connected components over collected (u, v) pairs:
    union-find rooted at each component's minimum id. A pair with a NULL
    end joins nothing (the loop's `u != v` is NULL there), but its ends
    are nodes, so the NULL node is emitted with a NULL component."""
    import pyspark.sql.types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        if u is not None and v is not None:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    nullable = schema["u"].nullable or schema["v"].nullable
    out = [(x, None if x is None else find(x)) for x in parent]
    return spark.createDataFrame(
        out,
        T.StructType(
            [
                T.StructField(id_out, schema["u"].dataType, nullable),
                T.StructField("component", schema["u"].dataType, nullable),
            ]
        ),
    )


def neardup_clusters(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_out: str = "id",
) -> DataFrame:
    """Cluster near-dup pairs into components and annotate cluster size:
    (`id_out`, component, cluster_size). Canonical doc = the component id."""
    cc = connected_components(pairs, src=src, dst=dst, id_out=id_out)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # no forced broadcast: at corpus scale the clustered-doc set can be a
    # large fraction of the data — AQE picks broadcast when sizes is small
    return cc.join(sizes, "component").select(id_out, "component", "cluster_size")


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Drop every non-canonical member of each near-dup cluster (keep the
    minimum id). The drop list is left to AQE join selection: on a heavily
    duplicated corpus it can be a large fraction of the rows (a forced
    broadcast would OOM the driver at 100 TB); when it is small AQE
    broadcasts it and the corpus side streams."""
    cc = connected_components(pairs, src=src, dst=dst, id_out=id_col)
    drop = cc.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(drop, id_col, "left_anti")


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.9,
    max_block_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With `block_col`, pairs are only
    formed within a block (e.g. an LSH bucket or cluster assignment) — the
    scale path; without it this is an all-pairs product (small inputs only).

    `max_block_size` drops blocks whose population exceeds the cap BEFORE
    the within-block self-join — the same hot-key escape hatch as
    `minhash_lsh_pairs(max_bucket_size=...)`: one over-populated block
    (a degenerate cluster, an all-zeros LSH bucket) otherwise emits
    O(pop²) pairs and dominates the stage. Mandatory at corpus scale;
    default None preserves exact within-block semantics for small inputs.
    """
    from vettore_spark.functions import kernels as K

    norm = df.select(
        F.col(id_col), F.col(block_col) if block_col else F.lit(0).alias("_blk"),
        K.normalize_l2(vector_col).alias("_v"),
    )
    bcol = block_col if block_col else "_blk"
    if max_block_size is not None and block_col is not None:
        # population pre-filter: aggregate block sizes (map-side partial
        # combine — one long per block), keep blocks under the cap, and
        # semi-join the membership back. AQE broadcasts the kept-block
        # list when it is small; the filter runs BEFORE the self-join so
        # the quadratic stage never sees a hot block.
        keep = (
            norm.groupBy(bcol)
            .agg(F.count("*").alias("_pop"))
            .filter(F.col("_pop") <= max_block_size)
            .select(bcol)
        )
        norm = norm.join(keep, bcol, "left_semi")
    cols = norm.columns
    a = norm.select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = norm.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    joined = a.join(b, on=F.col(f"a_{bcol}") == F.col(f"b_{bcol}")).filter(
        F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    )
    sim = F.aggregate(
        F.zip_with(F.col("a__v"), F.col("b__v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return (
        joined.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select(
            F.col(f"a_{id_col}").alias("id_a"),
            F.col(f"b_{id_col}").alias("id_b"),
            "sim",
        )
    )


def embedding_neardup_banded(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    n_bits: int = 8,
    n_bands: int = 2,
    threshold: float = 0.9,
    max_block_size: int | None = 10_000,
) -> DataFrame:
    """Multi-band sign-prefix blocked embedding near-dup — the corpus-scale
    approximate path (reference analogy: sign-bit candidate generation,
    `native/vettore/src/search.rs:76-92` + `distances.rs:413-423`; banding
    per the MinHash-LSH recall mechanism, Broder et al.).

    Band j blocks on the signs of dims [j*n_bits, (j+1)*n_bits) — each of
    the `n_bands` rotated prefixes is an independent 2^n_bits-way blocking,
    and a pair is a candidate if it collides in ANY band, so miss
    probability multiplies across bands: P(miss) = prod_j P(some sign in
    band j differs). Scale n_bits with log2(corpus): 2^n_bits blocks keeps
    expected block population n / 2^n_bits bounded; add bands to buy back
    the recall each extra bit costs. Deterministic (no random projections)
    so a SQL oracle reproduces the exact blocking.

    Plan shape: one explode (n_bands rows per doc) -> capped within-block
    self-join on (band, key) -> exact-cosine verify inline -> pair dedup by
    max(sim) (identical across bands; the groupBy collapses multi-band
    collisions). No cartesian anywhere; the `max_block_size` population
    filter runs before the quadratic stage (see embedding_neardup_pairs).
    """
    # fail fast when the bands would index past the embedding: element_at
    # beyond the array end THROWS under ANSI mode (Spark 4 default) deep
    # inside the stage, and with ANSI off every missing dim silently hashes
    # to the 0 bit — collapsing a whole band into a few mega-blocks (lost
    # recall the block-size cap then masks). One single-row job at call
    # time buys a clear argument error instead.
    needed = n_bits * n_bands
    # min over the WHOLE table, not first(): a ragged table whose first
    # row is long enough would pass a head probe and then either throw
    # deep in the stage (ANSI element_at) or silently hash missing dims
    # to the 0 bit, collapsing a band into mega-blocks. One aggregate job
    # costs the same single scan as the head probe.
    head = df.agg(F.min(F.size(F.col(vector_col))).alias("_d")).first()
    if head is not None and head["_d"] is not None and head["_d"] < needed:
        raise ValueError(
            f"embedding_neardup_banded needs n_bits*n_bands={needed} dims "
            f"but the shortest vector has {head['_d']}; lower n_bits or "
            f"n_bands so every band reads real components"
        )
    bands_arr = F.array(*[
        F.struct(
            F.lit(j).alias("_band"),
            sum(
                (
                    F.when(
                        F.element_at(vector_col, j * n_bits + i + 1) > 0, 1 << i
                    ).otherwise(0)
                    for i in range(n_bits)
                ),
                start=F.lit(0),
            ).alias("_key"),
        )
        for j in range(n_bands)
    ])
    src = df.select(
        F.col(id_col), F.col(vector_col), F.explode(bands_arr).alias("_bk")
    ).select(
        id_col,
        vector_col,
        F.concat_ws(":", F.col("_bk._band"), F.col("_bk._key")).alias("_blk"),
    )
    pairs = embedding_neardup_pairs(
        src,
        id_col=id_col,
        vector_col=vector_col,
        block_col="_blk",
        threshold=threshold,
        max_block_size=max_block_size,
    )
    # collapse multi-band collisions: sim is the same expression over the
    # same normalized vectors in every band, so max == the value
    return pairs.groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))


def substring_gram_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    keep_below_hex: str = "2",
    max_gram_df: int = 50,
) -> DataFrame:
    """Exact-substring duplication candidates (the suffix-array dedup of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", re-expressed as a distributed inverted index): two documents
    that share a long k-character run land in the same posting list via
    CONTENT-DEFINED gram sampling and become a candidate pair. Returns
    (doc_a, doc_b, n_shared_grams) with doc_a < doc_b.

    A full suffix array is a single-machine structure; the Spark shape is
    winnowing-style sampling: hash EVERY k-gram position, but keep only
    grams whose md5 starts below `keep_below_hex` (first hex digit <
    '2' = keep rate 1/8). Selection depends on gram CONTENT, never on the
    absolute offset, so a run shared by two documents selects the same
    grams in both regardless of where the run starts — a fixed-stride
    sample would miss runs whose offsets differ mod stride. A shared run
    of length L >= k contains L-k+1 sampled positions; the probability it
    selects no gram is (1 - rate)^(L-k+1), i.e. vanishing for real
    duplicated passages (<3% at L = k+26, rate 1/8).

    One explode + one groupBy (map-side partial) + in-bucket pair emission
    — the same posting-list plan as ngram_jaccard_pairs. `max_gram_df`
    drops boilerplate grams (headers, license text) whose posting lists
    would otherwise emit O(df^2) pairs — mandatory at corpus scale.
    """
    positions = F.sequence(
        F.lit(1), F.length(F.col(text_col)) - (k - 1), F.lit(1)
    )
    grams = F.array_distinct(
        F.filter(
            F.transform(
                positions, lambda p: F.md5(F.col(text_col).substr(p, F.lit(k)))
            ),
            lambda g: F.substring(g, 1, 1) < keep_below_hex,
        )
    )
    # spread the RAW text before the gram explode: a single-row-group
    # parquet file is one partition, and without the repartition every md5
    # in the corpus evaluates on one core (plans/spread.py). No pin is
    # needed here: the explode is a Generate, which pruning cannot push
    # below the exchange. At real scale the input is already wide and the
    # spread is a no-op.
    from vettore_spark.plans.spread import spread_narrow

    src = spread_narrow(
        df.filter(F.length(F.col(text_col)) >= k), [id_col, text_col]
    )
    postings = _capped_posting_lists(
        src.select(F.col(id_col).alias("_id"), F.explode(grams).alias("g")),
        ["g"],
        "_id",
        max_size=max_gram_df,
    )
    return (
        _bucket_pairs(postings)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )
