"""Distance / similarity / normalization kernels as PySpark Column expressions.

Re-expresses every scalar kernel of the reference engine
(``/root/reference/native/vettore/src/distances.rs``) as JVM-side Spark SQL
higher-order-function expressions — no Python UDFs in the hot path, so the
whole pipeline stays inside Catalyst/whole-stage-codegen.

Semantics parity (reference file:line):
- metric dispatch / 9 metrics ........ distances.rs:40-60
- rank_value ......................... distances.rs:113-119
- similarity_value ................... distances.rs:122-128
- result_values (score, distance) .... lib/vettore_distance.ex:525-547
- true cosine (clamp, zero -> 0.0) ... distances.rs:160-177
- normalize l2/zscore/minmax ......... distances.rs:350-410
- sign-bit packing ................... distances.rs:413-423
- packed hamming/jaccard (+mask) ..... distances.rs:426-481
- metric aliases ..................... lib/vettore/collection.ex:1300-1304

All arithmetic is f64 (Spark default); the reference computes f32 with f64
recovery on overflow (distances.rs:59-98), so f64 is a strict superset.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# f32::MAX — validation bound for vector elements (collection.ex:61)
F32_MAX = 3.4028234663852886e38

METRICS = (
    "l2",
    "l2_squared",
    "cosine",
    "inner_product",
    "negative_inner_product",
    "manhattan",
    "chebyshev",
    "hamming",
    "jaccard",
)
SIMILARITY_METRICS = frozenset({"cosine", "inner_product"})
# aliases accepted by the reference API (collection.ex:1300-1304, vettore.ex:675-680)
METRIC_ALIASES = {
    "euclidean": "l2",
    "dot": "inner_product",
    "dot_product": "inner_product",
    "binary": "hamming",
}

_LONG_MIN = -(2**63)


def canonical_metric(name: str) -> str:
    """Resolve a metric name or alias to its canonical form; raise on unknown."""
    m = METRIC_ALIASES.get(name, name)
    if m not in METRICS:
        raise ValueError(f"unknown metric: {name!r}")
    return m


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _dbl(c: Column | str) -> Column:
    """Promote array<float> to array<double> so every op runs in f64."""
    return _col(c).cast("array<double>")


def double_array_lit(values) -> Column:
    """array<double> literal of `values`, built with ONE JVM parse call.

    `F.array(*[F.lit(x) ...])` costs about four py4j round trips per
    element (a 32-dim query ~130); the SQL text `array(0.1D, ...)` is one.
    Exact: Python's shortest `repr` round-trips every finite double
    (subnormals and -0.0 included) through the JVM's parser. NaN/±inf
    have no SQL literal spelling, so a vector holding one falls back to
    per-element `F.lit`."""
    vals = [float(x) for x in values]
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ", ".join(repr(v) + "D" for v in vals) + ")")


# ---------------------------------------------------------------------------
# element-wise reductions (single pass, stay in the JVM)
# ---------------------------------------------------------------------------


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product (distances.rs:236-270)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def norm_l2(a: Column | str) -> Column:
    """Euclidean norm of one vector."""
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda s, x: s + x * x)
    )


def l2_squared(a: Column | str, b: Column | str) -> Column:
    """Squared L2 (distances.rs:150-152)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2(a: Column | str, b: Column | str) -> Column:
    """L2 distance (distances.rs:140-147)."""
    return F.sqrt(l2_squared(a, b))


def cosine(a: Column | str, b: Column | str) -> Column:
    """True cosine similarity: f64 dot/(|a||b|), zero vector -> 0.0,
    clamped to [-1, 1] (distances.rs:160-177). A non-finite input
    (NaN/±inf element) yields NULL, never a score: Spark's least/greatest
    order NaN ABOVE every double, so the plain clamp would turn a
    malformed vector's NaN ratio into a PERFECT 1.0 similarity — the
    malformed-rows-win class (NANPOLICY.md). NULL loses under every
    NULLS-LAST rank key and fails every `>= threshold` filter.

    Single pass: one aggregate accumulating (dot, |a|^2, |b|^2), with the
    ratio/clamp in the aggregate's FINISH lambda — the struct is a bound
    lambda variable there, so the fold runs once; referencing the
    aggregate from outside (the previous shape) re-inlined the whole
    CodegenFallback fold per reference (~4x) after CollapseProject.
    """
    pairs = F.zip_with(
        _dbl(a), _dbl(b), lambda x, y: F.struct(x.alias("x"), y.alias("y"))
    )
    init = F.struct(
        F.lit(0.0).alias("d"), F.lit(0.0).alias("na"), F.lit(0.0).alias("nb")
    )

    def fin(s: Column) -> Column:
        denom = F.sqrt(s["na"]) * F.sqrt(s["nb"])
        r = s["d"] / denom
        return (
            F.when(denom == 0.0, F.lit(0.0))
            .when(F.isnan(r), F.lit(None).cast("double"))
            .otherwise(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), r)))
        )

    return F.aggregate(
        pairs,
        init,
        lambda s, p: F.struct(
            (s["d"] + p["x"] * p["y"]).alias("d"),
            (s["na"] + p["x"] * p["x"]).alias("na"),
            (s["nb"] + p["y"] * p["y"]).alias("nb"),
        ),
        fin,
    )


def manhattan(a: Column | str, b: Column | str) -> Column:
    """Sum of absolute differences (distances.rs:273-308)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def chebyshev(a: Column | str, b: Column | str) -> Column:
    """Max absolute difference (distances.rs:311-316)."""
    return F.coalesce(
        F.array_max(F.zip_with(_dbl(a), _dbl(b), lambda x, y: F.abs(x - y))),
        F.lit(0.0),
    )


def hamming(a: Column | str, b: Column | str) -> Column:
    """Count of coordinates whose truthiness differs (distances.rs:318-324)."""
    return F.aggregate(
        F.zip_with(
            _dbl(a),
            _dbl(b),
            lambda x, y: F.when((x != 0.0) != (y != 0.0), 1.0).otherwise(0.0),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """1 - |both truthy| / |either truthy|; empty union -> 0.0
    (distances.rs:327-347)."""
    pairs = F.zip_with(
        _dbl(a),
        _dbl(b),
        lambda x, y: F.struct(
            F.when((x != 0.0) & (y != 0.0), 1.0).otherwise(0.0).alias("i"),
            F.when((x != 0.0) | (y != 0.0), 1.0).otherwise(0.0).alias("u"),
        ),
    )
    init = F.struct(F.lit(0.0).alias("i"), F.lit(0.0).alias("u"))
    acc = F.aggregate(
        pairs,
        init,
        lambda s, p: F.struct(
            (s["i"] + p["i"]).alias("i"), (s["u"] + p["u"]).alias("u")
        ),
    )
    return F.when(acc["u"] == 0.0, F.lit(0.0)).otherwise(
        1.0 - acc["i"] / acc["u"]
    )


def raw_metric(
    metric: str, a: Column | str, b: Column | str, *, pre_normalized: bool = True
) -> Column:
    """Raw metric value per the reference dispatch (distances.rs:40-60).

    ``cosine`` on the collection path is a plain dot product — the collection
    pre-normalizes vectors to unit length so dot == cosine (distances.rs:47-51);
    pass ``pre_normalized=False`` for the true-cosine kernel used by standalone
    distance calls and prefix top-k (search.rs:56-58).
    """
    m = canonical_metric(metric)
    if m == "l2":
        return l2(a, b)
    if m == "l2_squared":
        return l2_squared(a, b)
    if m == "cosine":
        return dot(a, b) if pre_normalized else cosine(a, b)
    if m == "inner_product":
        return dot(a, b)
    if m == "negative_inner_product":
        return -dot(a, b)
    if m == "manhattan":
        return manhattan(a, b)
    if m == "chebyshev":
        return chebyshev(a, b)
    if m == "hamming":
        return hamming(a, b)
    return jaccard(a, b)


# ---------------------------------------------------------------------------
# raw -> rank / similarity / (score, distance)
# ---------------------------------------------------------------------------


def _finite_or_null(raw: Column) -> Column:
    """NaN/±inf -> NULL rail shared by the K12-K14 value mappers
    (NANPOLICY.md): Spark's total ordering puts NaN ABOVE every double
    and comparisons follow it, so a NaN raw metric would WIN a desc
    similarity sort and PASS a `>= threshold` cut, and a +inf dot
    product would rank FIRST (rank = -raw = -inf). NULL instead: loses
    under every NULLS-LAST rank key (asc default puts NULL first —
    hence the explicit asc_nulls_last everywhere), sorts last under
    desc (Spark desc default is NULLS LAST), and fails every
    threshold comparison. Callers MUST pass a MATERIALIZED raw value —
    a `_staged_raw` column, or (inside a higher-order function) the
    bound element of a dedicated raw-staging `F.transform`, as MaxSim
    does (multivector.py) — so the extra references are cheap scalar
    reads, not re-inlined kernel folds (the ~3-4x CodegenFallback
    re-inline class the r13 cosine rewrite fixed)."""
    return F.when(
        F.isnan(raw) | (F.abs(raw) == float("inf")), F.lit(None).cast("double")
    ).otherwise(raw)


def rank_value(metric: str, raw: Column) -> Column:
    """Ascending rank order key (distances.rs:113-119). Non-finite raw
    -> NULL rank (loses under NULLS-LAST ordering)."""
    m = canonical_metric(metric)
    raw = _finite_or_null(raw)
    if m == "cosine":
        return 1.0 - raw
    if m == "inner_product":
        return -raw
    return raw


def similarity_value(metric: str, raw: Column) -> Column:
    """Higher-is-better similarity (distances.rs:122-128). Non-finite
    raw -> NULL similarity (fails every >= min_score cut)."""
    m = canonical_metric(metric)
    raw = _finite_or_null(raw)
    if m in ("cosine", "inner_product"):
        return raw
    if m == "negative_inner_product":
        return -raw
    return 1.0 / (1.0 + raw)


def result_values(metric: str, raw: Column, score_mode: str = "raw") -> tuple[Column, Column]:
    """(score, distance) columns per metric x score-mode
    (lib/vettore_distance.ex:525-547). distance may be NULL only never here —
    every metric in the table yields a distance; MaxSim results carry NULL
    distance at the operator layer. Non-finite raw -> NULL score AND
    distance (the row is reportable but never ranked or thresholded in).
    """
    m = canonical_metric(metric)
    if score_mode not in ("raw", "similarity"):
        raise ValueError(f"unknown score mode: {score_mode!r}")
    raw = _finite_or_null(raw)
    if m == "negative_inner_product":
        return -raw, raw + 0.0
    if m in SIMILARITY_METRICS:
        dist = (1.0 - raw) if m == "cosine" else (-raw)
        if score_mode == "raw":
            return raw + 0.0, dist
        score = (raw + 1.0) / 2.0 if m == "cosine" else raw + 0.0
        return score, dist
    # distance metrics
    if score_mode == "raw":
        return -raw, raw + 0.0
    return 1.0 / (1.0 + raw), raw + 0.0


# ---------------------------------------------------------------------------
# normalization (distances.rs:350-410)
# ---------------------------------------------------------------------------

NORMALIZE_MODES = ("none", "l2", "zscore", "minmax")


def default_normalize(metric: str) -> str:
    """cosine defaults to :l2, all other metrics to :none
    (collection.ex:86-88, 1317-1319)."""
    return "l2" if canonical_metric(metric) == "cosine" else "none"


def _broadcast_scalar(vv: Column, s: Column, f) -> Column:
    """Apply f(x, s) element-wise with the per-row scalar s computed ONCE.

    A naive `transform(v, x -> f(x, s))` re-embeds the s expression tree in
    the lambda, so an aggregate-derived s is recomputed PER ELEMENT — O(d^2)
    per row. `array_repeat` evaluates its child once, so zip_with against the
    repeated scalar keeps it O(d)."""
    return F.zip_with(vv, F.array_repeat(s, F.size(vv)), f)


def normalize_l2(v: Column | str) -> Column:
    """Unit norm via f64; zero vector stays zero (distances.rs:350-361)."""
    vv = _dbl(v)
    return _broadcast_scalar(
        vv,
        norm_l2(vv),
        lambda x, n: F.when(n == 0.0, x).otherwise(x / n),
    )


def normalize_zscore(v: Column | str) -> Column:
    """(x - mu) / sigma, population stddev; constant vector -> zeros
    (distances.rs:364-389).

    Single-pass (sum, sumsq) accumulator -> sigma^2 = E[x^2] - mu^2; the
    reference's two-pass formula differs only at ~1e-13 relative, absorbed by
    result rounding."""
    vv = _dbl(v)
    init = F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("q"))
    acc = F.aggregate(
        vv,
        init,
        lambda a, x: F.struct((a["s"] + x).alias("s"), (a["q"] + x * x).alias("q")),
    )
    n = F.size(vv).cast("double")
    mu = acc["s"] / n
    sigma = F.sqrt(F.greatest(acc["q"] / n - mu * mu, F.lit(0.0)))
    stats = F.struct(mu.alias("mu"), sigma.alias("sg"))
    return _broadcast_scalar(
        vv,
        stats,
        lambda x, st: F.when(st["sg"] == 0.0, F.lit(0.0)).otherwise(
            (x - st["mu"]) / st["sg"]
        ),
    )


def normalize_minmax(v: Column | str) -> Column:
    """(x - min) / (max - min) -> [0,1]; constant vector -> zeros
    (distances.rs:392-410)."""
    vv = _dbl(v)
    stats = F.struct(F.array_min(vv).alias("lo"), F.array_max(vv).alias("hi"))
    return _broadcast_scalar(
        vv,
        stats,
        lambda x, st: F.when(st["hi"] == st["lo"], F.lit(0.0)).otherwise(
            (x - st["lo"]) / (st["hi"] - st["lo"])
        ),
    )


def normalize(mode: str, v: Column | str) -> Column:
    if mode == "none":
        return _dbl(v)
    if mode == "l2":
        return normalize_l2(v)
    if mode == "zscore":
        return normalize_zscore(v)
    if mode == "minmax":
        return normalize_minmax(v)
    raise ValueError(f"unknown normalize mode: {mode!r}")


# ---------------------------------------------------------------------------
# binary quantization (sign-bit packing + packed distances)
# ---------------------------------------------------------------------------


def _word(v: Column, word_idx: int, nbits: int) -> Column:
    """One packed 64-bit word (little-endian bit order, distances.rs:413-423).

    ANSI-safe: assembled as lo(32 bits) + hi(31 bits)*2^32 + sign-bit
    correction, which never overflows signed 64-bit arithmetic but produces
    the exact two's-complement bit pattern of the reference's u64 word.
    """
    base = word_idx * 64

    def bit(i: Column) -> Column:
        # compare the raw element (no array-wide cast: a cast embedded here
        # would re-run O(d) work per bit extraction)
        return F.when(
            F.element_at(v, (i + base + 1).cast("int")) >= 0.0, F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    def pack(lo_bit: int, hi_bit: int) -> Column:
        # sum of bit(i) * 2^(i-lo_bit), accumulated msb-first: acc*2 + bit
        return F.aggregate(
            F.sequence(F.lit(hi_bit), F.lit(lo_bit), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2 + bit(i),
        )

    lo = pack(0, min(31, nbits - 1))
    if nbits <= 32:
        return lo
    hi = pack(32, min(62, nbits - 1))
    word = lo + hi * F.lit(4294967296).cast("long")
    if nbits == 64:
        word = word + F.when(bit(F.lit(63)) == 1, F.lit(_LONG_MIN)).otherwise(
            F.lit(0).cast("long")
        )
    return word


def compress_sign_bits(v: Column | str, dims: int) -> Column:
    """Pack x >= 0 sign bits little-endian into ceil(dims/64) long words
    (distances.rs:413-423). Padding bits are zero by construction."""
    if dims <= 0:
        raise ValueError("dimensions must be positive")
    vv = _col(v)  # no array<double> cast: sign test works on any numeric
    nwords = (dims + 63) // 64
    words = [
        _word(vv, w, min(64, dims - w * 64)).alias(f"w{w}") for w in range(nwords)
    ]
    return F.array(*words)


def pack_sign_bits_py(vec, dims: int) -> list[int]:
    """Driver-side mirror of `compress_sign_bits` for one vector: x >= 0
    sign bits packed little-endian into ceil(dims/64) SIGNED 64-bit words
    (two's complement — the exact bit pattern the Column version emits).
    Used by incremental index maintenance to stage a one-row append
    without running a Spark expression (Collection.put -> ivf_insert)."""
    if dims <= 0:
        raise ValueError("dimensions must be positive")
    nwords = (dims + 63) // 64
    out = []
    for w in range(nwords):
        word = 0
        for j in range(min(64, dims - w * 64)):
            if float(vec[w * 64 + j]) >= 0.0:
                word |= 1 << j
        if word >= 1 << 63:
            word -= 1 << 64
        out.append(word)
    return out


def _masked(arr: Column, dims: int) -> Column:
    """Mask padding bits of the final word (distances.rs:471-481)."""
    rem = dims % 64
    if rem == 0:
        return arr
    nwords = (dims + 63) // 64
    mask = (1 << rem) - 1
    return F.transform(
        arr,
        lambda x, i: F.when(i == nwords - 1, x.bitwiseAND(F.lit(mask))).otherwise(x),
    )


def packed_hamming(a: Column | str, b: Column | str, dims: int) -> Column:
    """XOR + popcount over packed words, padding masked (distances.rs:426-437)."""
    aa, bb = _masked(_col(a), dims), _masked(_col(b), dims)
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    ).cast("double")


def packed_jaccard(a: Column | str, b: Column | str, dims: int) -> Column:
    """popcount(AND)/popcount(OR) over packed words; empty union -> 0.0
    (distances.rs:440-457)."""
    aa, bb = _masked(_col(a), dims), _masked(_col(b), dims)
    pairs = F.zip_with(
        aa,
        bb,
        lambda x, y: F.struct(
            F.bit_count(x.bitwiseAND(y)).cast("long").alias("i"),
            F.bit_count(x.bitwiseOR(y)).cast("long").alias("u"),
        ),
    )
    init = F.struct(
        F.lit(0).cast("long").alias("i"), F.lit(0).cast("long").alias("u")
    )
    acc = F.aggregate(
        pairs,
        init,
        lambda s, p: F.struct(
            (s["i"] + p["i"]).alias("i"), (s["u"] + p["u"]).alias("u")
        ),
    )
    return F.when(acc["u"] == 0, F.lit(0.0)).otherwise(
        1.0 - acc["i"].cast("double") / acc["u"].cast("double")
    )


# ---------------------------------------------------------------------------
# validation predicates (collection.ex:1085-1095)
# ---------------------------------------------------------------------------


def is_valid_vector(v: Column | str, dims: int) -> Column:
    """True when v is non-null, has exactly `dims` finite elements within
    +/- f32::MAX (collection.ex:1085-1095, 1264-1270).

    Implemented with builtin array_min/array_max instead of a per-element
    boolean fold — ~2x faster on the ingest validation scan (measured
    0.5s vs 1.0s over 128k x 64 doubles) with identical verdicts: NaN is
    greatest in Spark's ordering, so array_max(v) <= f32max rejects any
    NaN or +inf, array_min(v) >= -f32max rejects -inf/-overflow, and the
    exists() guard rejects NULL elements (which min/max would skip)."""
    vv = _dbl(v)
    no_null_elem = ~F.exists(vv, lambda x: x.isNull())
    return (
        vv.isNotNull()
        & (F.size(vv) == dims)
        & no_null_elem
        & (F.array_max(vv) <= F.lit(F32_MAX))
        & (F.array_min(vv) >= F.lit(-F32_MAX))
    )


def mean_vector(vectors: Column | str, dims: int) -> Column:
    """Element-wise arithmetic mean of a multi-vector set -> representative
    vector (collection.ex:1008-1017). Returns array<double>."""
    vs = _col(vectors).cast("array<array<double>>")
    zeros = F.array_repeat(F.lit(0.0), dims)
    total = F.aggregate(vs, zeros, lambda acc, v: F.zip_with(acc, v, lambda s, x: s + x))
    n = F.size(vs).cast("double")
    return F.transform(total, lambda s: s / n)
