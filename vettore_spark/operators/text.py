"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, language-ID heuristic, document fingerprinting.

All pure JVM expressions (split/regexp/aggregate) — these run inside
whole-stage codegen and scale linearly with no shuffle (per-row work).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vettore_spark.operators.dedup import tokens
from vettore_spark.plans.cache import cached_persist
from vettore_spark.plans.spread import pin

# A BPE-ish pre-tokenization pattern: alphabetic runs, single digits,
# or single non-alphanumeric glyphs (GPT-2-style digit splitting).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# Minimal stopword marker lists for the language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "no"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}
_LANG_ORDER = tuple(LANG_MARKERS)  # deterministic tie-break order


def token_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token statistics: counts, type-token ratio, average token
    length, whitespace-token count vs BPE-ish token count."""
    t = tokens(text_col)
    n = F.size(t).cast("long")
    distinct_n = F.size(F.array_distinct(t)).cast("long")
    total_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).cast("long")
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n.alias("n_tokens"),
        distinct_n.alias("n_distinct_tokens"),
        F.round(distinct_n.cast("double") / n.cast("double"), 5).alias("ttr"),
        F.round(total_len.cast("double") / n.cast("double"), 5).alias("avg_token_len"),
        bpe.alias("n_bpe_tokens"),
    )


def quality_score(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality signals: length band, punctuation ratio, stopword
    ratio, repetition (1 - ttr). Returns one row per doc with the components
    and a [0,1] composite."""
    t = tokens(text_col)
    n = F.size(t).cast("double")
    stop = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(F.lower(x).isin(*LANG_MARKERS["en"]), 1).otherwise(0),
    ).cast("double")
    punct = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w\s]"), 0)
    ).cast("double")
    chars = F.length(F.col(text_col)).cast("double")
    ttr = F.size(F.array_distinct(t)).cast("double") / n
    len_ok = F.when((n >= 10) & (n <= 100000), 1.0).otherwise(0.0)
    # ANSI divide-by-zero rail (NANPOLICY.md): Spark 4's default ANSI
    # mode aborts EVERY division by zero, doubles included — an empty
    # document (chars = 0) previously killed the whole job here. The
    # ratio is undefined on empty text; NULL says so. (n is never 0:
    # the tokenizer yields [""] for empty text, so the /n ratios are
    # safe by construction.)
    punct_ratio = F.round(
        F.when(chars > 0, punct / chars), 5
    )
    stop_ratio = F.round(stop / n, 5)
    composite = F.round(
        (len_ok + F.least(stop / n * 5, F.lit(1.0)) + ttr) / 3.0, 5
    )
    return df.select(
        F.col(id_col),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.round(ttr, 5).alias("ttr"),
        composite.alias("quality"),
    )


def lang_id(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language ID: count marker hits per language over lowered
    tokens; argmax with deterministic tie-break by LANG_MARKERS order.
    Returns (id, lang_pred, lang_hits)."""
    t = F.transform(tokens(text_col), F.lower)
    scores = [
        F.size(
            F.filter(t, lambda x: x.isin(*LANG_MARKERS[lang]))
        ).alias(f"_s_{lang}")
        for lang in _LANG_ORDER
    ]
    scored = df.select(F.col(id_col), *scores)
    best = F.greatest(*[F.col(f"_s_{lang}") for lang in _LANG_ORDER])
    pred = F.coalesce(
        *[
            F.when(F.col(f"_s_{lang}") == best, F.lit(lang))
            for lang in _LANG_ORDER
        ]
    )
    return scored.select(
        F.col(id_col),
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_hits"),
    )


def _poly_hash(tok: Column, base: int = 31) -> Column:
    """Deterministic base-`base` polynomial hash of a token mod 2^31-1 —
    chosen over xxhash64 because it is exactly reproducible in any SQL
    engine (the DuckDB oracle computes the same reduce), so the
    text->embedding pipeline is cross-engine verifiable."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * base + F.ascii(c)) % 2147483647,
    )


def poly_hash62(tok: Column) -> Column:
    """62-bit cross-engine token hash: two independent 31-bit polynomial
    hashes (bases 31 and 37) packed as (h31 << 31) | h37. Used where a
    wide, SQL-reproducible hash is needed (e.g. oracle-checkable SimHash).

    Both bases fold in ONE pass over the characters, and the packing
    happens in the aggregate's finish lambda — composing two _poly_hash
    calls instead would re-split the token per base, and referencing the
    folded struct twice outside the aggregate would duplicate the whole
    fold after CollapseProject inlining."""
    zero = F.struct(
        F.lit(0).cast("long").alias("a"), F.lit(0).cast("long").alias("b")
    )
    return F.aggregate(
        F.split(tok, ""),
        zero,
        lambda acc, c: F.struct(
            ((acc["a"] * 31 + F.ascii(c)) % 2147483647).alias("a"),
            ((acc["b"] * 37 + F.ascii(c)) % 2147483647).alias("b"),
        ),
        lambda acc: acc["a"] * F.lit(2147483648).cast("long") + acc["b"],
    )


def hashed_token_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 32,
) -> DataFrame:
    """Feature-hashing text embedding (the hashing trick): each token hashes
    to a slot `h % dim` with sign from `(h / dim) % 2` (polynomial 31-hash
    of the token's UTF-8 BYTES mod 2147483647); slot values are summed
    per document and L2-normalized. Returns the sparse relational form
    (id, idx, w). Slots that were hit but cancelled to 0.0 are kept; docs
    with no tokens produce no rows.

    ZERO-SHUFFLE plan: one Arrow-batched mapInPandas pass. A pure-expression
    form exists (char-fold hash + dim-slot accumulator fold), but Spark HOFs
    are CodegenFallback — every token paid an interpreted O(dim) zip_with —
    which made this the slowest query in the bench by 3x. The numpy version
    vectorizes the polynomial hash as a power-table dot product segmented
    with add.reduceat, so per-row cost is a handful of array ops. Rounding
    stays Spark-side (F.round, HALF_UP) so oracle semantics are unchanged.

    Tokenizer contract (r14): tokens come from pandas ``str.split()`` =
    Python ``str.split`` = split on the UNICODE whitespace set (NBSP,
    IDEOGRAPHIC SPACE, NEL, the U+2000 block, ... — not just ASCII
    ``\\s``), empties dropped. The DuckDB oracle mirrors this with an
    explicit RE2 class naming Python's whitespace set (RE2's ``\\s`` is
    ASCII-only), pinned cross-engine in tests/test_hardening_r14.py.

    UTF-8 correct (r13): the hash consumes each token's UTF-8 bytes, and
    segment lengths are BYTE lengths, so the byte stream and the reduceat
    segments agree by construction for any input — ASCII or multi-byte.
    (r12 had fail-fasted on multi-byte text because segments counted
    characters while the stream carried bytes.) The SQL oracle mirrors the
    byte stream by expanding each character's codepoint into its UTF-8
    bytes arithmetically (ascii(ch) -> 1-4 bytes), verified byte-equal to
    Python's str.encode("utf-8").

    Use `hashed_embedding` for the dense array<float> form consumed by the
    search operators."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    P = 2147483647
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("idx", T.IntegerType()),
            T.StructField("_w", T.DoubleType()),
        ]
    )

    def featurize(batches):
        pow31 = np.array([pow(31, e, P) for e in range(256)], dtype=np.int64)
        for pdf in batches:
            ids = pdf[id_col]
            tok_lists = pdf[text_col].fillna("").str.split()
            n_toks = tok_lists.str.len().to_numpy(dtype=np.int64)
            n_docs = len(pdf)
            acc = np.zeros((n_docs, dim), dtype=np.float64)
            hit = np.zeros((n_docs, dim), dtype=bool)
            if n_toks.sum() > 0:
                flat = [t for lst in tok_lists for t in lst]
                doc_of_tok = np.repeat(np.arange(n_docs), n_toks)
                # BYTE lengths (not character counts), so lens always
                # partitions the UTF-8 byte stream below exactly (r13)
                lens = np.fromiter(
                    (len(t.encode("utf-8")) for t in flat),
                    dtype=np.int64,
                    count=len(flat),
                )
                if lens.max() >= len(pow31):
                    pow31 = np.array(
                        [pow(31, e, P) for e in range(int(lens.max()) + 1)],
                        dtype=np.int64,
                    )
                chars = np.frombuffer(
                    "".join(flat).encode("utf-8"), dtype=np.uint8
                ).astype(np.int64)
                ends = np.cumsum(lens)
                starts = ends - lens
                # invariant: UTF-8 encoding is per-character context-free,
                # so the concatenation's bytes equal the per-token byte
                # lengths summed — guaranteed, but cheap to assert
                assert len(chars) == int(ends[-1])
                # exponent of 31 for each byte = distance from its token's end
                pos = np.arange(len(chars)) - np.repeat(starts, lens)
                exp = np.repeat(lens, lens) - 1 - pos
                h = np.add.reduceat(chars * pow31[exp], starts) % P
                idx = (h % dim).astype(np.int64)
                sgn = np.where((h // dim) % 2 == 0, 1.0, -1.0)
                np.add.at(acc, (doc_of_tok, idx), sgn)
                hit[doc_of_tok, idx] = True
            norm = np.sqrt((acc * acc).sum(axis=1))
            # a document whose every hit slot cancelled to 0.0 has norm 0;
            # 0/0 would emit NaN weights — keep the zero vector instead
            # (the K15 normalize-zero rule: zero stays zero) (r12)
            norm = np.where(norm == 0.0, 1.0, norm)
            di, si = np.nonzero(hit)
            yield pd.DataFrame(
                {
                    id_col: ids.iloc[di].reset_index(drop=True),
                    "idx": si.astype(np.int32),
                    "_w": acc[di, si] / norm[di],
                }
            )

    sparse = df.select(id_col, text_col).mapInPandas(featurize, out_schema)
    return sparse.select(
        F.col(id_col), F.col("idx"), F.round(F.col("_w"), 5).alias("w")
    )


def hashed_embedding(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 32,
) -> DataFrame:
    """Dense array<float> form of hashed_token_features: (id, vector) rows
    compatible with every search/dedup operator in this package."""
    sparse = hashed_token_features(df, id_col=id_col, text_col=text_col, dim=dim)
    pairs = sparse.groupBy(id_col).agg(
        F.collect_list(F.struct("idx", "w")).alias("_ps")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(
                F.map_from_arrays(
                    F.transform("_ps", lambda p: p["idx"]),
                    F.transform("_ps", lambda p: p["w"]),
                ),
                i.cast("int"),
            ),
            F.lit(0.0),
        ),
    )
    return pairs.select(
        F.col(id_col), dense.cast("array<float>").alias("vector")
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Corpus TF-IDF with the top-`k` highest-scoring terms per document:
    (id, term, tfidf, rank). Terms are lowercased whitespace tokens; idf is
    the smoothed `ln((N+1)/(df+1)) + 1` (sklearn's convention, never
    negative); score = tf * idf rounded to 5 decimals BEFORE ranking so the
    (score desc, term asc) order is reproducible across engines regardless
    of last-ulp libm differences.

    Physical shape at scale: explode -> (doc, term) count [shuffle on the
    composite key] -> term document-frequency [shuffle on term, partial
    aggs map-side] -> join scores to idf [AQE picks broadcast when the
    vocabulary fits] -> per-doc top-k window [shuffle on doc id, window
    group-limit pushdown keeps only k rows per partition before the final
    sort]. The corpus size N is one count job, not a collected table.
    """
    from pyspark.sql.window import Window

    from vettore_spark.plans.cache import cached_persist

    n_docs = df.count()
    # persist the (doc, term, tf) table: both the score branch and the
    # document-frequency branch consume it, and without the persist each
    # branch re-runs the tokenize+explode over the whole corpus
    from vettore_spark.plans.spread import spread_narrow

    tf = cached_persist(
        df.select(id_col, text_col),
        ("tfidf_tf", id_col, text_col),
        lambda s: spread_narrow(s, [id_col, text_col])
        .select(
            F.col(id_col),
            F.explode(F.transform(tokens(text_col), F.lower)).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf")),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf", F.round(F.col("tf") * idf, 5)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def charlm_trigram_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Character-trigram language-model quality score: train Laplace-smoothed
    trigram frequencies on the corpus itself, then score each document by
    its mean trigram log-probability — the lightweight perplexity-style
    fluency signal (natural text scores high, gibberish/binary spill low).

    P(tri) = (count(tri) + α) / (N₃ + α·V), score = mean log P over the
    document's trigrams. Returns (id, n_trigrams, trigram_logprob).

    Physical shape (100 TB): one explode + groupBy(trigram) builds the model
    (bounded vocabulary — at most |charset|³ groups, map-side combined); the
    model and its scalar stats are broadcast back, so scoring is a second
    narrow pass + one per-doc aggregate. The lowercased text is staged with
    a pin column so `substr` inside the transform lambda reads a column ref,
    not a re-inlined `lower()` per element (the O(n²) CollapseProject trap).
    """
    tris = F.when(
        F.length("_lc") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length("_lc") - 2),
            lambda i: F.col("_lc").substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # shared explode helper, but only the AGGREGATED model is persisted
    # (below): the scoring pass re-runs the trigram explode, which is
    # cheaper than keeping the full per-position explode resident
    from vettore_spark.plans.spread import spread_narrow

    def _explode_tris(s: DataFrame) -> DataFrame:
        return (
            spread_narrow(s, [id_col, text_col])
            .select(
                F.col(id_col),
                F.lower(F.col(text_col)).alias("_lc"),
                pin(s),
            )
            .select(F.col(id_col), F.explode(tris).alias("tri"))
        )

    # persist the MODEL (bounded by |charset|^3 rows), never the exploded
    # per-character stream: at corpus scale the explode is one row per
    # character — pinning that into executor storage to save one narrow
    # recompute is the wrong trade
    exploded = _explode_tris(df)
    model = cached_persist(
        df,
        ("charlm_model", id_col, text_col),
        lambda s: _explode_tris(s)
        .groupBy("tri")
        .agg(F.count("*").cast("long").alias("cnt")),
    )
    stats = model.agg(
        F.sum("cnt").cast("long").alias("_n3"),
        F.count("*").cast("long").alias("_v"),
    )
    lp = F.log(
        (F.col("cnt").cast("double") + F.lit(alpha))
        / (F.col("_n3").cast("double") + F.lit(alpha) * F.col("_v").cast("double"))
    )
    return (
        exploded.join(F.broadcast(model), "tri")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.round(F.avg(lp), 5).alias("trigram_logprob"),
        )
    )


def fingerprint(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, punctuation stripped, whitespace collapsed). Two docs with
    the same fingerprint are near-exact duplicates."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^\w\s]", ""),
            r"\s+",
            " ",
        )
    )
    return df.select(F.col(id_col), F.md5(normalized).alias("fp"))


def bpe_pair_counts(
    df: DataFrame, *, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Most frequent adjacent pre-token pairs — one iteration of the BPE
    training loop (the merge-candidate table): pre-tokenize with the
    BPE-ish pattern, form adjacent pairs inside each document, count
    globally, keep the top `top_n` by (count desc, pair asc).

    Adjacent pairs come from arrays_zip of two shifted slices — NOT from
    indexing the token array inside a transform lambda, which would
    re-evaluate the regex extraction per element after CollapseProject
    inlining (the shingle_array O(n^2) trap). One explode + one groupBy
    with map-side partial aggregation; the final top-N sorts the small
    aggregated pair table. The raw text is spread across cores first
    (plans/spread.py) — the regex extraction would otherwise run inside an
    unsplittable one-partition scan task."""
    from vettore_spark.plans.spread import spread_narrow

    df = spread_narrow(df, [text_col])
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    cnt = F.size(toks) - 1
    zipped = F.arrays_zip(
        F.slice(toks, 1, cnt).alias("a"), F.slice(toks, 2, cnt).alias("b")
    )
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(zipped, lambda x: F.concat_ws(" ", x["a"], x["b"])),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )


def mlm_mask_tokens(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_rate: float = 0.15,
    mask_token: str = "<mask>",
    salt: str = "mlm",
) -> DataFrame:
    """Deterministic MLM-objective preparation (BERT-style): each token is
    masked iff its md5 draw keyed on (salt, doc id, position) falls under
    `mask_rate` — so the corruption is reproducible across engines, runs,
    and retries (no RNG state to carry; the draw IS the key). Returns
    (id, input_text with masked positions replaced, target_text of the
    masked tokens in order, n_masked) — the masked-token prediction pair
    a pretraining pipeline materializes.

    Pure column expressions over the token array (zip positions with
    tokens, per-element md5 predicate) — one narrow pass, no shuffle, no
    UDF; the spread guard applies only through callers that explode."""
    from vettore_spark.operators.sampling import sample_predicate

    t = tokens(text_col)
    n = F.size(t)
    idx = F.sequence(F.lit(1), n)
    # the per-position draw IS operators.sampling's md5 predicate — one
    # deterministic-sampling contract across every sampled operator
    masked_pred = lambda i: sample_predicate(  # noqa: E731
        F.concat(F.col(id_col).cast("string"), F.lit(":"), i.cast("string")),
        mask_rate,
        salt=salt + ":",
    )
    zipped = F.arrays_zip(idx.alias("i"), t.alias("tok"))
    masked = F.transform(
        zipped,
        lambda z: F.when(masked_pred(z["i"]), F.lit(mask_token)).otherwise(z["tok"]),
    )
    targets = F.transform(
        F.filter(zipped, lambda z: masked_pred(z["i"])), lambda z: z["tok"]
    )
    # NULL text: the SQL twin's unnest emits no row for it — drop here too
    # (size(NULL)=-1 would otherwise emit a nonsense n_masked=-1 row)
    df = df.filter(F.col(text_col).isNotNull())
    return df.select(
        F.col(id_col),
        F.array_join(masked, " ").alias("input_text"),
        F.array_join(targets, " ").alias("target_text"),
        F.size(targets).cast("long").alias("n_masked"),
    )


def distinct_ngram_diversity(
    df: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    max_n: int = 3,
) -> DataFrame:
    """Corpus diversity via distinct-n (the text-generation diversity
    metric): per group and n-gram order, the ratio of unique n-grams to
    total n-gram instances — low distinct-n means a repetitive (or
    templated/duplicated) corpus slice. Contiguous n-grams come from
    zipped shifted slices (NOT from indexing inside a transform lambda —
    the CollapseProject O(n²) trap); the exact distinct count is one
    shuffle on (group, n, gram) with map-side partial aggregation.

    Returns (group, n, total, uniq, distinct_ratio)."""
    from vettore_spark.plans.spread import spread_narrow

    src = spread_narrow(df, [group_col, text_col])
    t = tokens(text_col)

    def _joiner(order: int):
        # a 1-arg lambda factory: a default-arg capture (lambda x, n=n)
        # would make pyspark's HOF wrapper pass the ELEMENT INDEX into n
        return lambda x: F.concat_ws(" ", *[x[f"t{i}"] for i in range(order)])

    def _tagger(order: int):
        return lambda x: F.struct(F.lit(order).alias("n"), x.alias("g"))

    # ONE corpus scan and ONE tokenization: every n-gram order's grams are
    # tagged (n, gram) per row, flattened, and exploded together — a
    # per-order union would re-read and re-split the text max_n times
    streams = []
    for n in range(1, max_n + 1):
        if n == 1:
            g = t
        else:
            cnt = F.size(t) - (n - 1)
            zipped = F.arrays_zip(
                *[F.slice(t, i + 1, cnt).alias(f"t{i}") for i in range(n)]
            )
            g = F.when(
                F.size(t) >= n,
                F.transform(zipped, _joiner(n)),
            ).otherwise(F.array().cast("array<string>"))
        streams.append(F.transform(g, _tagger(n)))
    allg = src.select(
        F.col(group_col).alias("grp"),
        F.explode(F.flatten(F.array(*streams))).alias("e"),
    ).select("grp", F.col("e.n").alias("n"), F.col("e.g").alias("g"))
    return (
        allg.groupBy("grp", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.countDistinct("g").cast("long").alias("uniq"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n").cast("int").alias("n"),
            "total",
            "uniq",
            F.round(
                F.col("uniq").cast("double") / F.col("total").cast("double"), 5
            ).alias("distinct_ratio"),
        )
    )


def normalize_text(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Canonical text normalization — the cleanup pass run before hashing,
    shingling, or tokenizing so that trivially-different bytes do not defeat
    exact/near dedup: control characters become spaces, whitespace runs
    collapse to one space, edges are trimmed, and (optionally) the text is
    lowercased.

    Pure per-row column expressions (regexp_replace chains — map-only, no
    shuffle, stays in whole-stage codegen; the regexes use only constructs
    with identical semantics in Java regex and RE2 so the DuckDB oracle is
    bit-exact). Returns (id, text, n_chars_before, n_chars_after, changed).
    """
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    t = F.regexp_replace(t, r"[\x00-\x1f\x7f]", " ")
    t = F.regexp_replace(t, r"[ ]{2,}", " ")
    t = F.trim(t)
    return df.select(
        F.col(id_col),
        t.alias(text_col),
        F.length(text_col).cast("long").alias("n_chars_before"),
        F.length(t).cast("long").alias("n_chars_after"),
        (t != F.col(text_col)).alias("changed"),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_fraction: float = 0.0,
) -> DataFrame:
    """C4-style blocklist filtering: count tokens whose lowercase form is in
    `blocklist`; a document passes iff the blocked-token fraction is <=
    `max_fraction` (0.0 = any hit fails, the C4 badwords rule). Returns
    every input row + (n_tokens, n_blocked, blocked_fraction, passed) so
    callers can audit removals instead of silently losing rows.

    The blocklist is compiled into a LITERAL isin predicate — pure
    whole-stage-codegen column expressions, no join, no shuffle, no UDF.
    That is the right shape for the typical few-hundred-term badwords list;
    for a blocklist too large to inline (10^5+), tokenize+explode and
    broadcast-anti-join instead (the decontaminate operator's shape)."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    terms = sorted({t.lower() for t in blocklist})
    t = tokens(text_col)
    n = F.size(t).cast("long")
    blocked = F.size(
        F.filter(t, lambda x: F.lower(x).isin(*terms))
    ).cast("long")
    frac = F.round(blocked.cast("double") / n.cast("double"), 5)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        blocked.alias("n_blocked"),
        frac.alias("blocked_fraction"),
        (frac <= float(max_fraction)).alias("passed"),
    )


def c4_line_filter(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    terminals: tuple[str, ...] = (".", "!", "?", '"'),
) -> DataFrame:
    """C4-style line-level cleanup (Raffel et al. 2020, the `en` cleaning
    rules): keep only lines that end in a terminal punctuation mark AND
    carry at least `min_words` whitespace words; reassemble the document
    from the surviving lines. Returns
    (id, text, n_lines, n_kept, kept_frac) — one row per input doc (an
    all-dropped doc keeps its row with empty text, the paragraph_dedup
    contract).

    Map-only: split -> filter (two in-plan predicates per line) ->
    concat; no join, no shuffle, no UDF. At 100 TB this is the first
    pass after HTML extraction, run BEFORE any hashing so boilerplate
    half-lines never reach the dedup layer."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    is_kept = lambda l: (  # noqa: E731
        # \s+ (not a literal space): runs of spaces/tabs are one separator,
        # matching the C4 rule and the DuckDB oracle's regexp split
        (F.size(F.split(F.trim(l), r"\s+")) >= min_words)
        & F.substring(F.trim(l), -1, 1).isin(*terminals)
    )
    kept = F.filter(lines, is_kept)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.round(
            F.size(kept).cast("double") / F.size(lines).cast("double"), 5
        ).alias("kept_frac"),
    )
