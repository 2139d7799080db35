"""Pluggable text-encoder inference stage — the model-in-the-loop analog of
the reference's env-gated fastembed integration
(test/ex_fastembed_integration_test.exs:9-60: real ONNX embeddings feed
`put_many` only when the model is present; everything else runs without it).

The Spark-side plumbing is real and tested: texts stream through
`mapInPandas` in Arrow batches, the encoder is a pluggable
`pd.Series -> np.ndarray` callable, and the output lands as a dense
embedding column ready for every search/dedup operator. What stands in for
the model in this environment is `fake_encode_texts`: sha256-byte expansion
(pixel-bytes-are-digest-bytes, like sources/multimodal.fake_decode_image),
centered and L2-normalized with LEFT-FOLD arithmetic so any SQL engine can
recompute the exact floats (see queries.SQL_TEXT_EMBED).

A real model loads via `load_real_encoder` behind an import-try
(sentence-transformers is not in this container): swap it in through
`encode_fn` and nothing else changes — batching, partition spreading, and
schema are identical.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vettore_spark.functions.kernels import _finite_or_null
from vettore_spark.sources.multimodal import _spread


def fake_encode_texts(texts: pd.Series, *, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in encoder: embedding bytes ARE sha256 digest
    bytes of the text (counter-suffixed for dim > 32), centered to
    (b - 127.5)/127.5 and L2-normalized. The norm is accumulated LEFT TO
    RIGHT in f64 — matching DuckDB's list_reduce fold exactly, where
    numpy's BLAS dot could differ in the last ulp."""
    out = np.empty((len(texts), dim), dtype=np.float64)
    for j, t in enumerate(texts):
        raw = (t or "").encode()
        buf = b""
        k = 0
        while len(buf) < dim:
            buf += hashlib.sha256(raw + b":" + str(k).encode()).digest()
            k += 1
        v = [(b - 127.5) / 127.5 for b in buf[:dim]]
        sq = 0.0
        for x in v:
            sq += x * x
        nrm = sq**0.5
        out[j] = [x / nrm for x in v]
    return out


def load_real_encoder(
    model_name: str | None = None,
) -> Callable[[pd.Series], np.ndarray]:
    """Real sentence-encoder factory, env-gated like the reference's
    fastembed test: requires sentence-transformers (not in this container)
    and `SPARK_VETTORE_EMBED_MODEL` (or an explicit model_name)."""
    name = model_name or os.environ.get("SPARK_VETTORE_EMBED_MODEL")
    if not name:
        raise NotImplementedError(
            "no embedding model configured; set SPARK_VETTORE_EMBED_MODEL "
            "or pass model_name (and install sentence-transformers)"
        )
    try:
        from sentence_transformers import SentenceTransformer
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "sentence-transformers is not installed in this environment; "
            "use fake_encode_texts for pipeline testing"
        ) from e
    model = SentenceTransformer(name)  # pragma: no cover

    def encode(texts: pd.Series) -> np.ndarray:  # pragma: no cover
        return np.asarray(model.encode(list(texts), normalize_embeddings=True))

    return encode  # pragma: no cover


def encode_texts(
    df: DataFrame,
    *,
    encode_fn: Callable[[pd.Series], np.ndarray] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    parallelism: int | None = None,
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """Model-inference stage: (id, text) -> (id, embedding array<double>).

    Arrow batches flow through mapInPandas; `encode_fn` sees a whole
    pd.Series per batch (models amortize over batches — never call a model
    per row). The narrow (id, text) projection is spread across at least
    the default parallelism first, so an unsplittable single-row-group
    parquet file cannot serialize all inference through one Python worker
    (same rationale as multimodal._spread). At scale this is the GPU/CPU
    inference pattern: one model instance per executor python worker,
    batch-size-bounded memory."""
    if encode_fn is None:
        fn = lambda s: fake_encode_texts(s, dim=dim)  # noqa: E731
    else:
        fn = encode_fn
    # passthrough_cols ride the Arrow batches through to the output — the
    # caller (e.g. encode_and_put, which needs the text as `value`) would
    # otherwise pay a corpus self-join just to re-attach columns that were
    # present in the encoder's input
    extra = [c for c in (passthrough_cols or []) if c != id_col]
    in_cols = [id_col, text_col] + [c for c in extra if c != text_col]
    src = _spread(df, in_cols, parallelism)
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in extra]
        + [T.StructField("embedding", T.ArrayType(T.DoubleType()))]
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mat = fn(pdf[text_col])
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            out["embedding"] = list(map(list, mat))
            yield pd.DataFrame(out)

    return src.mapInPandas(run, out_schema)


def fake_pair_scores(q: pd.Series, d: pd.Series) -> np.ndarray:
    """Deterministic stand-in cross-encoder: score(q, d) = the first 8 hex
    digits of sha256(q || 0x1f || d) as a uniform draw in [0, 1). Any SQL
    engine with sha256 recomputes it exactly (queries.SQL_RERANK_MODEL)."""
    out = np.empty(len(q), dtype=np.float64)
    for i, (a, b) in enumerate(zip(q, d)):
        h = hashlib.sha256(
            (a or "").encode() + b"\x1f" + (b or "").encode()
        ).hexdigest()
        out[i] = int(h[:8], 16) / float(16**8)
    return out


def rerank_with_model(
    candidates: DataFrame,
    *,
    score_fn: Callable[[pd.Series, pd.Series], np.ndarray] | None = None,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Cross-encoder reranking stage: score every (query, candidate) pair
    with a pluggable pair-scorer over Arrow batches, keep the top `k` per
    query by (rounded score desc, id asc). The model-in-the-loop second
    stage of retrieve-then-rerank — candidates come from any first stage
    (BM25, dense ANN, hybrid); this stage only ever sees the bounded
    candidate set, so the expensive model runs on queries x candidates
    pairs, never the corpus. Swap a real cross-encoder in via `score_fn`
    (pd.Series, pd.Series) -> np.ndarray; the default is the deterministic
    sha256 fake, fully SQL-oracled."""
    from pyspark.sql import Window

    fn = score_fn or fake_pair_scores
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, candidates.schema[query_id_col].dataType),
            T.StructField(id_col, candidates.schema[id_col].dataType),
            T.StructField("model_score", T.DoubleType()),
        ]
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    id_col: pdf[id_col],
                    "model_score": fn(pdf[query_text_col], pdf[text_col]),
                }
            )

    scored = candidates.select(
        query_id_col, query_text_col, id_col, text_col
    ).mapInPandas(run, out_schema)
    # Non-finite stance (NANPOLICY.md): the model fn is a pluggable
    # external scorer — a NaN score (diverged model) OR a ±inf score
    # (overflowed logit: overflow produces inf, not NaN) must rank LAST,
    # not first (Spark desc puts NaN above every real score, and +inf
    # above every finite one; NULL sorts last under desc). The shared
    # kernels rail nulls both. The emitted model_score keeps the raw
    # non-finite value so the caller can see the failure.
    skey = _finite_or_null("round(model_score, 6)")
    w = Window.partitionBy(query_id_col).orderBy(F.desc(skey), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("model_score", 6).alias("model_score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
